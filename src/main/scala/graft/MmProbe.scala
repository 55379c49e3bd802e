package graft

import org.apache.spark.sql.functions._

/** Dev probe: stage-by-stage cost decomposition of the byte near-dup
  * pipeline (gram construction vs signature vs band join) so the
  * optimization lands on the right stage. Not part of the driver
  * contract. */
object MmProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("32", appName = "graft-mm-probe")
    def force(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val bin = graft.operators.Multimodal
      .binaryized(spark, sfDir).select("doc_id", "payload")

    val hexed = bin.filter(length(col("payload")) >= 4)
      .withColumn("hx", lower(hex(col("payload"))))
    val grams = hexed.withColumn("grams", array_distinct(expr(
      "transform(sequence(0, cast(length(payload) as int) - 4), i -> substring(hx, i*2+1, 8))")))
    val sigs = grams
      .withColumn("simhash", graft.functions.MinHash.simhashSig(col("grams"), 60))
      .select("doc_id", "simhash")
    val full = graft.operators.Multimodal.byteNearDupPairs(spark, sfDir)

    (1 to 2).foreach { round =>
      println(f"ROUND $round hex   ${force(hexed)}%6.2f s")
      println(f"ROUND $round grams ${force(grams)}%6.2f s")
      println(f"ROUND $round sigs  ${force(sigs)}%6.2f s")
      println(f"ROUND $round full  ${force(full)}%6.2f s")
    }
    // candidate blowup: pairs sharing any band bucket BEFORE the filter
    val k = 3; val bits = 60
    val bandStructs = (0 until k + 1).map { b =>
      val w = bits / (k + 1); val lo = b * w
      val mask = (1L << w) - 1
      s"struct($b as band, shiftright(simhash, $lo) & ${mask}L as bkey)"
    }.mkString("array(", ", ", ")")
    val banded = sigs.select(col("doc_id"), explode(expr(bandStructs)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bkey"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
    println(s"CANDIDATES (pre-distinct): ${cand.count()}")
    println(s"OUTPUT pairs: ${full.count()}")
    val occ = banded.groupBy("band", "bkey").count()
      .orderBy(desc("count")).limit(8).collect()
    occ.foreach(r => println(s"BUCKET band=${r.get(0)} key=${r.get(1)} n=${r.getLong(2)}"))

    // JPEG perturbation distance under the current gram geometry
    {
      import spark.implicits._
      import java.nio.file.{Files, Paths}
      val root = graft.ig.Instagram.referenceDir()
      val users = new java.io.File(root).listFiles()
        .filter(d => d.isDirectory && new java.io.File(d, s"${d.getName}.jpg").exists())
        .map(_.getName).sorted.take(3)
      if (users.length < 2) {
        println(s"JPEG probe skipped: need >=2 creator dirs with JPEGs under $root")
        spark.stop()
        return
      }
      val orig = Files.readAllBytes(Paths.get(s"$root/${users(0)}/${users(0)}.jpg"))
      val other = Files.readAllBytes(Paths.get(s"$root/${users(1)}/${users(1)}.jpg"))
      val perturbed = orig.clone()
      for (off <- Seq(orig.length / 2, orig.length / 2 + 101, orig.length / 2 + 257))
        perturbed(off) = (perturbed(off) ^ 0x5a).toByte
      println(s"JPEG len=${orig.length}")
      val bin2 = Seq((0L, orig), (1L, perturbed), (2L, other)).toDF("doc_id", "payload")
      val s2 = graft.operators.Multimodal.byteSimhash(bin2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"HAMMING orig-vs-perturbed: ${java.lang.Long.bitCount(s2(0L) ^ s2(1L))}")
      println(s"HAMMING orig-vs-other:     ${java.lang.Long.bitCount(s2(0L) ^ s2(2L))}")
    }
    spark.stop()
  }
}
