package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal plumbing contract: binary payloads, deterministic stub
  * decode, frame sampling, feature vectors (builder brief — the codec
  * call itself is stubbed, everything around it is real and tested). */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-mm-test")
  val dir = "/root/testdata/sf0.001"
  private def refRoot: String = graft.ig.Instagram.referenceDir()

  lazy val decoded = Multimodal.decode(Multimodal.binaryized(spark, dir)).cache()

  test("binaryized: payload bytes round-trip the source text") {
    val r = Multimodal.binaryized(spark, dir)
      .select(col("doc_id"), col("text"), decode(col("payload"), "UTF-8").as("back"))
      .filter(col("text") =!= col("back"))
    assert(r.count() == 0)
  }

  test("synthetic decode branch (non-JPEG payloads) is deterministic and in-range") {
    val rows = decoded.select("decoded.width", "decoded.height", "decoded.n_frames").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) >= 16 && r.getInt(0) < 16 + 1024)
      assert(r.getInt(1) >= 16 && r.getInt(1) < 16 + 1024)
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 33)
    }
    // deterministic: a second evaluation produces identical values
    val again = Multimodal.decode(Multimodal.binaryized(spark, dir))
      .select("doc_id", "decoded.width").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    decoded.select("doc_id", "decoded.width").collect()
      .foreach(r => assert(again(r.getLong(0)) == r.getInt(1)))
  }

  test("decode→resize→frame-sample: one row per sampled frame, box-bounded dims") {
    val rows = Multimodal.decodeResizeFrames(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_._1)
    // frame count per doc = |{0, 4, 8, ...} ∩ [0, n_frames)| and
    // frame_idx values are exactly that arithmetic sequence
    byDoc.foreach { case (d, rs) =>
      val nFrames = rs.head._4
      val want = (0 until nFrames by 4).toSeq
      assert(rs.map(_._7).sorted.toSeq == want, s"doc $d frame idxs off")
    }
    rows.foreach { case (d, w, h, _, rw, rh, _) =>
      assert(rw >= 1 && rh >= 1 && math.max(rw, rh) <= 256, s"doc $d not boxed: ${(rw, rh)}")
      if (math.max(w, h) <= 256) assert((rw, rh) == ((w, h)), s"doc $d resized a small image")
      else {
        // aspect ratio preserved within integer truncation
        val scale = 256.0 / math.max(w, h)
        assert(math.abs(rw - w * scale) <= 1 && math.abs(rh - h * scale) <= 1,
          s"doc $d aspect drift: ${(w, h)} -> ${(rw, rh)}")
      }
    }
  }

  test("byte near-dup pairs a real JPEG with a few-bytes-perturbed copy of itself") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val users = new java.io.File(refRoot).listFiles()
      .filter(d => d.isDirectory && new java.io.File(d, s"${d.getName}.jpg").exists())
      .map(_.getName).sorted.take(3)
    assert(users.length >= 2, "need at least two reference JPEGs")
    val orig = Files.readAllBytes(Paths.get(s"$refRoot/${users(0)}/${users(0)}.jpg"))
    val other = Files.readAllBytes(Paths.get(s"$refRoot/${users(1)}/${users(1)}.jpg"))
    // flip 3 bytes mid-payload (entropy-coded region; header untouched)
    val perturbed = orig.clone()
    for (off <- Seq(orig.length / 2, orig.length / 2 + 101, orig.length / 2 + 257))
      perturbed(off) = (perturbed(off) ^ 0x5a).toByte
    val bin = Seq((0L, orig), (1L, perturbed), (2L, other)).toDF("doc_id", "payload")
    // k sized to the perturbation: under strided grams each flipped byte
    // changes one gram (≈2 signature bits' worth of vote shift), so 3
    // flipped bytes need k ≈ 6; the corpus query's default k=3 targets
    // 1-2-byte tweaks
    val pairs = Multimodal.byteNearDupPairsOf(bin, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L),
      s"perturbed JPEG copy not paired with its original: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L),
      s"unrelated JPEG wrongly paired: ${pairs.toSeq}")
    // and the signature distance really is small vs the unrelated pair's
    val hit = pairs.find(p => p._1 == 0L && p._2 == 1L).get
    assert(hit._3 <= 6, s"hamming too large: $hit")
  }

  test("default k=3 contract: a 1-byte tweak pairs, an unrelated JPEG doesn't") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val users = new java.io.File(refRoot).listFiles()
      .filter(d => d.isDirectory && new java.io.File(d, s"${d.getName}.jpg").exists())
      .map(_.getName).sorted.take(2)
    assert(users.length >= 2, "need at least two reference JPEGs")
    val orig = Files.readAllBytes(Paths.get(s"$refRoot/${users(0)}/${users(0)}.jpg"))
    val other = Files.readAllBytes(Paths.get(s"$refRoot/${users(1)}/${users(1)}.jpg"))
    val perturbed = orig.clone()
    perturbed(orig.length / 2) = (perturbed(orig.length / 2) ^ 0x5a).toByte
    val bin = Seq((0L, orig), (1L, perturbed), (2L, other)).toDF("doc_id", "payload")
    // DEFAULT k — the corpus query's geometry: 1-2 byte tweaks must pair
    val pairs = Multimodal.byteNearDupPairsOf(bin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L),
      s"1-byte-perturbed copy not paired at default k: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L),
      s"unrelated JPEG wrongly paired: ${pairs.toSeq}")
  }

  test("frameSample emits ceil(n_frames/k) rows per doc, stride k") {
    val k = 4
    val sampled = Multimodal.frameSample(decoded, k)
      .groupBy("doc_id").agg(count(lit(1)).as("n_sampled"),
        max("frame_idx").as("max_idx"), first("decoded.n_frames").as("nf"))
      .collect()
    sampled.foreach { r =>
      val nf = r.getAs[Int]("nf"); val n = r.getAs[Long]("n_sampled")
      assert(n == (nf + k - 1) / k, s"doc ${r.get(0)}: $n sampled for $nf frames")
      assert(r.getAs[Int]("max_idx") < nf)
    }
  }

  test("resize falls back to bounding-box arithmetic on undecodable payloads") {
    val rows = Multimodal.resize(decoded, 256)
      .select("decoded.width", "decoded.height", "resized.width", "resized.height")
      .collect()
    rows.foreach { r =>
      val (w, h, rw, rh) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(rw <= 256 && rh <= 256 && rw >= 1 && rh >= 1)
      if (math.max(w, h) <= 256) assert(rw == w && rh == h)
      else assert(math.max(rw, rh) == 256 ||
        math.abs(math.max(rw, rh) - 256) <= 1) // integer truncation
    }
  }

  test("profilePictures ingests the 9 shipped JPEGs with exact bytes") {
    import java.nio.file.{Files, Paths}
    val rows = Multimodal.profilePictures(spark, refRoot)
      .collect().map(r => r.getAs[String]("creator_key") -> r).toMap
    assert(rows.size == 9, s"expected 9 creators, got ${rows.keySet}")
    rows.foreach { case (user, r) =>
      val f = Paths.get(s"$refRoot/$user/$user.jpg")
      val bytes = Files.readAllBytes(f)
      assert(r.getAs[Long]("n_bytes") == bytes.length, s"$user length")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val expected = md.digest(bytes).map("%02x".format(_)).mkString
      assert(r.getAs[String]("sha256") == expected, s"$user sha256")
      assert(r.getAs[String]("magic_hex").startsWith("ffd8"), s"$user JPEG magic")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("payload"), bytes), s"$user payload")
    }
  }

  test("writeProfilePictures round-trips the shipped JPEGs byte-for-byte") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_pics").toString
    val src = Multimodal.profilePictures(spark, refRoot)
    Multimodal.writeProfilePictures(src, out)
    val creators = src.select("creator_key").collect().map(_.getString(0))
    assert(creators.length == 9)
    creators.foreach { user =>
      val written = Files.readAllBytes(Paths.get(s"$out/$user/$user.jpg"))
      val original = Files.readAllBytes(Paths.get(s"$refRoot/$user/$user.jpg"))
      assert(java.util.Arrays.equals(written, original), s"$user bytes differ")
    }
  }

  test("decode parses the TRUE dimensions of all 9 shipped JPEGs (vs ImageIO)") {
    val rows = Multimodal.decode(Multimodal.profilePictures(spark, refRoot))
      .select("creator_key", "decoded.width", "decoded.height", "decoded.n_frames")
      .collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      val user = r.getString(0)
      // independent oracle: the JDK's own JPEG reader
      val img = javax.imageio.ImageIO.read(
        new java.io.File(s"$refRoot/$user/$user.jpg"))
      assert(img != null, s"$user: ImageIO could not read fixture")
      assert(r.getInt(1) == img.getWidth, s"$user width ${r.getInt(1)} != ${img.getWidth}")
      assert(r.getInt(2) == img.getHeight, s"$user height ${r.getInt(2)} != ${img.getHeight}")
      assert(r.getInt(3) == 1, s"$user n_frames")
    }
  }

  test("the decode pipeline takes the REAL pixel branches over real JPEGs") {
    val out = Multimodal.features(
      Multimodal.resize(
        Multimodal.decode(Multimodal.profilePictures(spark, refRoot))))
      .select("creator_key", "decoded.n_frames", "resized.width",
        "resized.height", "features", "resized_payload")
    val rows = out.collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      val user = r.getString(0)
      assert(r.getAs[Int]("n_frames") >= 1)
      val (rw, rh) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      assert(rw <= 256 && rh <= 256 && rw >= 1 && rh >= 1, s"$user dims $rw x $rh")
      // dims were re-PARSED from the real resized payload: the payload
      // must exist and ImageIO must agree on its dimensions
      val rp = r.getAs[Array[Byte]]("resized_payload")
      assert(rp != null, s"$user: real photo fell to the fallback branch")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rp))
      assert(img != null && img.getWidth == rw && img.getHeight == rh,
        s"$user resized dims vs ImageIO")
      // features are the REAL 66-dim luma grid, not the 8-dim fallback
      assert(r.getSeq[Float](r.fieldIndex("features")).length == 66, s"$user features")
    }
  }

  test("features falls back to the md5 unit-range vector on undecodable payloads") {
    val rows = Multimodal.features(decoded, fallbackDims = 8).select("features").collect()
    rows.foreach { r =>
      val f = r.getSeq[Float](0)
      assert(f.length == 8)
      assert(f.forall(v => v >= 0.0f && v <= 1.0f))
    }
  }

  test("mm_pixel_feat_persisted serves row-identical to the scan-time features") {
    val served = Multimodal.pixelFeaturesPersisted(spark, dir)
      .collect().map(_.toSeq).toSeq
    val inline = Multimodal.pixelFeatures(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served == inline)
    // the serve plan must be codec-free: no Jpeg* expression anywhere
    // (all codec cost was paid once at index build)
    val plan = Multimodal.pixelFeaturesPersisted(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("jpeg"), s"codec leaked into the serve plan:\n$plan")
  }
}
