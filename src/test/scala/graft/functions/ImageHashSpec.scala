package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pixel-space perceptual hashing contract (r10 verdict #2): [[JpegSynth]]
  * must emit REAL JPEGs whose decoded pixels carry the synthesized word,
  * [[JpegDHash]] must recover hashes by actually decoding pixels — gated
  * here against an INDEPENDENT in-test ImageIO reference implementation
  * and the 9 real reference photos, while the driver's DuckDB oracle
  * gates the synth→encode→decode round-trip corpus-wide. */
class ImageHashSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-imagehash-test")

  private def refUsers: Array[String] =
    new java.io.File(graft.ig.Instagram.referenceDir()).listFiles()
      .filter(d => d.isDirectory && new java.io.File(d, s"${d.getName}.jpg").exists())
      .map(_.getName).sorted

  private def jpegBytes(user: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.ig.Instagram.referenceDir(), user, s"$user.jpg"))

  /** Independent reference dHash: plain ImageIO decode + BigInt-exact
    * 6x11 cell-mean comparison — shares no code with ImageUtil. */
  private def referenceDhash(bytes: Array[Byte]): Option[String] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val sums = Array.ofDim[BigInt](6, 11)
      val cnts = Array.ofDim[Long](6, 11)
      for (r <- 0 until 6; c <- 0 until 11) sums(r)(c) = BigInt(0)
      for (y <- 0 until h; x <- 0 until w) {
        val r = math.min(5, y * 6 / h)
        val c = math.min(10, x * 11 / w)
        val rgb = im.getRGB(x, y)
        val luma = 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
        sums(r)(c) += luma
        cnts(r)(c) += 1
      }
      var word = 0L
      for (r <- 0 until 6; c <- 0 until 10)
        if (sums(r)(c) * cnts(r)(c + 1) > sums(r)(c + 1) * cnts(r)(c))
          word |= 1L << (59 - (r * 10 + c))
      f"$word%015x"
    }
  }

  private def hamming(a: String, b: String): Int =
    java.lang.Long.bitCount(
      java.lang.Long.parseLong(a, 16) ^ java.lang.Long.parseLong(b, 16))

  /** Insert a COM segment right after SOI: different bytes, identical
    * pixels — the metadata-tag perturbation. */
  private def comInjected(bytes: Array[Byte]): Array[Byte] = {
    val com = Array[Byte](0xFF.toByte, 0xFE.toByte, 0x00, 0x04, 'h'.toByte, 'i'.toByte)
    bytes.take(2) ++ com ++ bytes.drop(2)
  }

  test("synth round-trip: dhash(synth(word, q)) == word for fuzzed words at both qualities") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 500; q <- Seq(95, 80)) {
      val w = rng.nextLong() & ((1L << 60) - 1)
      val got = ImageUtil.dhashHex(ImageUtil.synthJpeg(w, q))
      assert(got != null, f"quality $q word $w%015x: undecodable")
      assert(got.toString == f"$w%015x", f"quality $q: $w%015x -> $got")
    }
  }

  test("real photos: expression dHash matches the independent ImageIO reference per image") {
    import spark.implicits._
    val users = refUsers
    assert(users.length == 9)
    val df = users.toSeq.map(u => (u, jpegBytes(u))).toDF("user", "payload")
      .select(col("user"), ImageOps.jpegDHash(col("payload")).as("dh"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    users.foreach { u =>
      val expected = referenceDhash(jpegBytes(u))
      assert(expected.isDefined, s"$u: reference could not decode")
      assert(got(u) == expected.get, s"$u: ${got(u)} != ${expected.get}")
    }
    // distinct photos have distinct hashes
    assert(got.values.toSet.size == 9, s"hash collision across photos: $got")
  }

  test("undecodable payloads hash to null, not garbage") {
    import spark.implicits._
    val junk: Array[Byte] = "definitely not a jpeg, far too short anyway".getBytes("UTF-8")
    val rows = Seq((1L, junk), (2L, jpegBytes(refUsers.head)))
      .toDF("id", "payload")
      .select(col("id"), ImageOps.jpegDHash(col("payload")).as("dh"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).isEmpty)
    assert(rows(2L).isDefined)
  }

  test("perturbations: COM injection is hamming 0, re-encode small, distinct photos far") {
    val users = refUsers
    val origHash = users.map(u => u -> ImageUtil.dhashHex(jpegBytes(u)).toString).toMap
    users.foreach { u =>
      val bytes = jpegBytes(u)
      // metadata tag: bytes differ, pixels identical
      val tagged = comInjected(bytes)
      assert(!java.util.Arrays.equals(tagged, bytes))
      assert(ImageUtil.dhashHex(tagged).toString == origHash(u), s"$u COM changed the hash")
      // CDN re-encode: pixels survive approximately
      val reenc = ImageUtil.reencodeJpeg(bytes, 90)
      val hRe = hamming(ImageUtil.dhashHex(reenc).toString, origHash(u))
      assert(hRe <= 6, s"$u re-encode drifted $hRe bits")
    }
    // cross-photo distances dominate the perturbation distances
    val cross = for {
      i <- users.indices; j <- users.indices if i < j
    } yield hamming(origHash(users(i)), origHash(users(j)))
    assert(cross.min > 6, s"two distinct photos within re-encode distance: min ${cross.min}")
  }

  test("resize round-trip: dhash(resize(synth(word))) == word for fuzzed words") {
    // the full thumbnail chain — synth-encode, decode, nearest 2x
    // downscale, re-encode, decode, pool — must be a word identity:
    // nearest sampling never crosses a cell boundary at an exact
    // integer factor and the re-encode re-quantizes values already on
    // the same q95 lattice (the mm_pixel_resized oracle contract)
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val w = rng.nextLong() & ((1L << 60) - 1)
      val resized = ImageUtil.resizeJpeg(ImageUtil.synthJpeg(w, 95), 44, 95)
      assert(resized != null, f"word $w%015x: resize failed")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
      assert(img.getWidth == 44 && img.getHeight == 24,
        s"bounding box wrong: ${img.getWidth}x${img.getHeight}")
      val got = ImageUtil.dhashHex(resized)
      assert(got != null && got.toString == f"$w%015x",
        f"word $w%015x -> $got after resize")
    }
  }

  test("resize decodes NON-JPEG containers: PNG in, JPEG out (regression: " +
    "ImageIO.read(ImageInputStream) closes the stream itself — an unguarded " +
    "double-close nulled every successful PNG decode)") {
    for ((pw, ph) <- Seq((30, 18), (16, 16), (115, 20), (44, 44))) {
      val png = PngUtil.synthPng(pw, ph)
      val resized = ImageUtil.resizeJpeg(png, 44, 90)
      assert(resized != null, s"${pw}x$ph PNG failed to decode")
      val packed = JpegUtil.dimsPacked(resized)
      assert(packed >= 0, s"${pw}x$ph resize output is not a parseable JPEG")
      val m = math.max(pw, ph)
      val (ew, eh) =
        if (m <= 44) (pw, ph)
        else (math.max(1, pw * 44 / m), math.max(1, ph * 44 / m))
      assert(((packed >> 32).toInt, (packed & 0xffffffffL).toInt) == ((ew, eh)),
        s"${pw}x$ph boxed wrong")
    }
  }

  test("resize of real photos: bounding box honored, hash survives within re-encode distance") {
    refUsers.foreach { u =>
      val bytes = jpegBytes(u)
      val orig = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val resized = ImageUtil.resizeJpeg(bytes, 64, 90)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
      assert(math.max(img.getWidth, img.getHeight) == 64, s"$u box")
      // aspect preserved (integer truncation)
      assert(math.abs(img.getWidth.toLong * orig.getHeight -
        img.getHeight.toLong * orig.getWidth) <=
        math.max(orig.getWidth, orig.getHeight).toLong, s"$u aspect")
      // a 64px nearest thumbnail still hashes close to the original:
      // dHash is a 6x11 pooled statistic, far coarser than the resize
      val h = hamming(ImageUtil.dhashHex(resized).toString,
        ImageUtil.dhashHex(bytes).toString)
      assert(h <= 10, s"$u resize drifted $h bits")
    }
  }

  test("gridBuckets: synth prefix-sum identity for fuzzed words; matches an " +
    "independent pooled reference on real photos") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val w = rng.nextLong() & ((1L << 60) - 1)
      val got = ImageUtil.gridBuckets(ImageUtil.synthJpeg(w, 95))
      assert(got != null)
      val arr = got.toIntArray()
      assert(arr.length == 66)
      for (r <- 0 until 6; c <- 0 until 11) {
        var s = 0
        for (j <- 0 until c)
          s += (if (((w >>> (59 - (r * 10 + j))) & 1L) == 1L) -1 else 1)
        assert(arr(r * 11 + c) == s,
          f"word $w%015x cell ($r,$c): ${arr(r * 11 + c)} != $s")
      }
    }
    // real photos: buckets equal round((cellMean - 128) / 12) computed by
    // an independent BigInt pooling (shares no code with ImageUtil)
    refUsers.take(3).foreach { u =>
      val bytes = jpegBytes(u)
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val sums = Array.ofDim[BigInt](6, 11)
      val cnts = Array.ofDim[Long](6, 11)
      for (r <- 0 until 6; c <- 0 until 11) sums(r)(c) = BigInt(0)
      for (y <- 0 until im.getHeight; x <- 0 until im.getWidth) {
        val r = math.min(5, y * 6 / im.getHeight)
        val c = math.min(10, x * 11 / im.getWidth)
        val rgb = im.getRGB(x, y)
        sums(r)(c) += 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
        cnts(r)(c) += 1
      }
      val got = ImageUtil.gridBuckets(bytes).toIntArray()
      for (r <- 0 until 6; c <- 0 until 11) {
        val x = sums(r)(c) - BigInt(128L) * 1000 * cnts(r)(c)
        val d = BigInt(12L) * 1000 * cnts(r)(c)
        // round-half-up via floor((2x + d) / (2d)) — BigInt floorDiv
        val num = 2 * x + d
        val den = 2 * d
        val want = (if (num >= 0) num / den
                    else -((-num + den - 1) / den)).toInt
        assert(got(r * 11 + c) == want, s"$u cell ($r,$c)")
      }
    }
  }

  test("near-dup banding over real photos: perturbed copies pair, distinct photos don't") {
    import spark.implicits._
    val users = refUsers
    // 3 variants per photo: original / COM-tagged / re-encoded q90
    val rows = users.zipWithIndex.flatMap { case (u, i) =>
      val b = jpegBytes(u)
      Seq((i.toLong * 4, b), (i.toLong * 4 + 1, comInjected(b)),
        (i.toLong * 4 + 2, ImageUtil.reencodeJpeg(b, 90)))
    }
    val sigs = rows.toSeq.toDF("doc_id", "payload")
      .select(col("doc_id"), ImageOps.jpegDHash(col("payload")).as("dh"))
      .select(col("doc_id"), expr("cast(conv(dh, 16, 10) as bigint)").as("simhash"))
    val pairs = graft.operators.Multimodal
      .pixelNearDupPairsOfSigs(sigs, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    users.indices.foreach { i =>
      val base = i.toLong * 4
      assert(pairs.contains((base, base + 1)), s"${users(i)}: COM copy not paired")
      assert(pairs.contains((base, base + 2)), s"${users(i)}: re-encode not paired")
    }
    pairs.foreach { case (a, b) =>
      assert(a / 4 == b / 4, s"distinct photos paired: $a $b")
    }
  }
}
