package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ORC round-trip: the mirror write is lossless (row-identical to the
  * parquet projection) and the gated aggregate matches the same
  * aggregate computed straight from parquet. */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-formats-test")
  val dir = "/root/testdata/sf0.01"

  test("ORC mirror rows are identical to the parquet projection") {
    Formats.orcRoundtrip(spark, dir).collect() // force the mirror write
    val orc = spark.read.orc(IndexStore.pathOf(dir, "orc_docs"))
      .orderBy("doc_id").collect().toSeq
    val pq = Tables.documents(spark, dir)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id").collect().toSeq
    assert(orc == pq)
  }

  test("gated aggregate equals the parquet-derived aggregate") {
    val viaOrc = Formats.orcRoundtrip(spark, dir).collect().toSeq
    val viaPq = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("lang").collect().toSeq
    assert(viaOrc == viaPq)
  }

  test("ORC, JSON-Lines and CSV mirrors are written once under the index root") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    /** file path -> (length, mtime) of every file under `path` */
    def inventory(path: Path): Map[String, (Long, Long)] = {
      val it = path.getFileSystem(conf).listFiles(path, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => f.getPath.toString -> ((f.getLen, f.getModificationTime))).toMap
    }
    val mirrors = Seq("rel_orc_roundtrip" -> "orc_docs",
      "rel_jsonl_roundtrip" -> "jsonl_docs", "rel_csv_roundtrip" -> "csvrt_docs")
    def run(query: String): Unit = graft.SparkEntry.queries(query)(spark, dir).collect()
    mirrors.foreach { case (query, family) =>
      run(query)
      val path = new Path(IndexStore.pathOf(dir, family))
      assert(path.getParent == new Path(IndexStore.indexRoot),
        s"$query's mirror is not under the index root: $path")
      assert(path.getFileSystem(conf).exists(new Path(path, "_SUCCESS")),
        s"$query left no complete mirror at $path")
      val before = inventory(path)
      run(query)
      assert(inventory(path) == before, s"$query rewrote its mirror at $path")
    }
  }
}
