package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The build-once-ACROSS-sessions contract of IndexStore.orBuild:
  * catalog miss + existing files + matching sidecar → metadata-only
  * re-registration; the build closure must never run. Dropping the
  * external table simulates a fresh session exactly (the in-memory
  * catalog entry is gone, the files are not — same state a new JVM
  * sees). */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-indexstore-test")

  /** The corpus directory the spec's families are keyed by; `keyOf`
    * keys a missing directory by its path alone. */
  private val corpus = "target/idx_spec_corpus"

  private def freshFamily(): String =
    s"idx_spec_${System.nanoTime()}"

  private def buildDf = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong % 10, i.toLong, s"v$i")).toDF("k", "id", "v")
  }

  test("second resolution after catalog loss registers from disk; build closure never runs") {
    val family = freshFamily()
    val name = IndexStore.nameOf(corpus, family)
    val first = IndexStore.orBuild(spark, corpus, family, 4, Seq("k"))(buildDf)
    val firstRows = first.orderBy("id").collect().toSeq
    assert(firstRows.size == 100)

    spark.sql(s"DROP TABLE `$name`") // external: metadata only, files survive
    assert(!spark.catalog.tableExists(name))

    var rebuilt = false
    val second = IndexStore.orBuild(spark, corpus, family, 4, Seq("k")) {
      rebuilt = true; buildDf
    }
    assert(!rebuilt, "disk-registration path must not evaluate the build closure")
    assert(spark.catalog.tableExists(name))
    assert(second.orderBy("id").collect().toSeq == firstRows)
  }

  test("re-registered table keeps its bucketing: groupBy on the key needs no shuffle") {
    val family = freshFamily()
    IndexStore.orBuild(spark, corpus, family, 4, Seq("k"))(buildDf)
    spark.sql(s"DROP TABLE `${IndexStore.nameOf(corpus, family)}`")
    val again = IndexStore.orBuild(spark, corpus, family, 4, Seq("k"))(sys.error("no rebuild"))
    val agg = again.groupBy("k").count()
    agg.collect()
    val shuffles = agg.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"bucketed scan should satisfy the groupBy distribution; plan:\n${agg.queryExecution.executedPlan}")
  }

  test("build-once holds on a file:-scheme Hadoop URI index root (object-store path shape)") {
    // The 100 TB deployment stores indexes on HDFS/S3 — addressed by a
    // Hadoop URI, not a local path. file:// exercises the same Hadoop
    // FileSystem resolution, sidecar probe, and sidecar write code path
    // that hdfs:// / s3a:// would take (r7 verdict #3).
    val family = freshFamily()
    val root = s"file://${new java.io.File("target/index_fsspec").getAbsolutePath}"
    val first = IndexStore.orBuild(spark, corpus, family, 4, Seq("k"), root)(buildDf)
    val firstRows = first.orderBy("id").collect().toSeq
    spark.sql(s"DROP TABLE `${IndexStore.nameOf(corpus, family)}`")
    var rebuilt = false
    val second = IndexStore.orBuild(spark, corpus, family, 4, Seq("k"), root) {
      rebuilt = true; buildDf
    }
    assert(!rebuilt, "file:-scheme sidecar probe must re-register, not rebuild")
    assert(second.orderBy("id").collect().toSeq == firstRows)
  }

  test("keyOf is inventory-sensitive through the Hadoop FileSystem on file:-scheme dirs") {
    val dir = java.nio.file.Files.createTempDirectory("idx_keyof").toFile
    java.nio.file.Files.writeString(dir.toPath.resolve("a.parquet"), "x")
    val uri = s"file://${dir.getAbsolutePath}"
    val k1 = IndexStore.keyOf(uri)
    java.nio.file.Files.writeString(dir.toPath.resolve("b.parquet"), "y")
    val k2 = IndexStore.keyOf(uri)
    assert(k1 != k2,
      "an in-place corpus regeneration must change the key (stale-index guard), " +
        "including when the corpus is addressed by a Hadoop URI")
    // and the same dir addressed with vs without scheme sees the same inventory
    assert(IndexStore.keyOf(dir.getAbsolutePath) != k1, "path string participates in the key")
  }

  test("bm25 and IVF indexes resolve through orBuild: a catalog loss re-registers their files") {
    val dir = "/root/testdata/sf0.001"
    /** the catalog table a frame returned by a builder reads */
    def tableOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if r.catalogTable.isDefined => r.catalogTable.get.identifier.table
      }.get
    def build(): Seq[String] = {
      val (post, stats) = graft.functions.TextAnalysis.buildBm25Index(spark, dir)
      val df = graft.functions.TextAnalysis.buildBm25DfTable(spark, dir)
      val (assign, cents) = graft.operators.Similarity.buildIvfIndex(spark, dir)
      Seq(post, stats, df, assign, cents).map(tableOf)
    }
    def location(table: String): Path =
      new Path(spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)
    /** table -> (file path -> (length, mtime)) under its catalog location */
    def inventory(tables: Seq[String]): Map[String, Map[String, (Long, Long)]] =
      tables.map { t =>
        val loc = location(t)
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(loc, true)
        val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => f.getPath.toString -> ((f.getLen, f.getModificationTime))).toMap
        t -> files
      }.toMap

    val tables = build()
    assert(tables == Seq("bm25_postings", "bm25_stats", "bm25_df", "ivf_assign", "ivf_cents")
      .map(IndexStore.nameOf(dir, _)))
    val before = inventory(tables)
    assert(tables.forall(t => before(t).nonEmpty), "every index table holds files")
    tables.foreach(t => spark.sql(s"DROP TABLE `$t`"))
    assert(build() == tables)
    val after = inventory(tables)
    val rewritten = tables.filter(t => after(t) != before(t))
    assert(rewritten.isEmpty,
      s"after a catalog loss these indexes were rewritten instead of re-registered: $rewritten")
    tables.foreach { t =>
      val loc = location(t)
      assert(loc.getFileSystem(spark.sessionState.newHadoopConf())
        .exists(new Path(loc, "_graft_meta.json")), s"$t has no _graft_meta.json sidecar")
    }
  }

  test("geometry drift (bucket count or keys) falls back to rebuild, not wrong metadata") {
    val family = freshFamily()
    val name = IndexStore.nameOf(corpus, family)
    IndexStore.orBuild(spark, corpus, family, 4, Seq("k"))(buildDf)
    spark.sql(s"DROP TABLE `$name`")
    var rebuilt = false
    IndexStore.orBuild(spark, corpus, family, 8, Seq("k")) { rebuilt = true; buildDf }
    assert(rebuilt, "mismatched sidecar must trigger a rebuild")
    assert(spark.catalog.tableExists(name))
  }

  test("no file under src/main except IndexStore keys, re-reads or places index state") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val sources = files(root).filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    // StreamCheck keys its own scratch splits under target/streamcheck
    // (local file moves with ordered mtimes); Bucketing's demo reads back
    // the tables it writes
    val allowed = Map(
      "keyOf(" -> Set("IndexStore.scala", "StreamCheck.scala"),
      "spark.table(" -> Set("IndexStore.scala", "Bucketing.scala"),
      "\"target/" -> Set("IndexStore.scala", "StreamCheck.scala"))
    val offenders = for {
      (pattern, owners) <- allowed.toSeq
      (file, src) <- sources if !owners(file) && src.contains(pattern)
    } yield s"$file: $pattern"
    assert(offenders.isEmpty,
      s"index state named, keyed or re-read outside IndexStore: ${offenders.mkString(", ")}")
  }
}
