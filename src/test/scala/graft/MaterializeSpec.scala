package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CorpusOps
import graft.operators.Similarity
import graft.sources.Tables

/** [[Materialize]]: the leaf it returns keeps the executed plan's
  * partitioning, ordering and measured row count; loops built on it run
  * concurrently without sharing state; the caller's conf is untouched;
  * it is the only code under `src/main` that checkpoints or caches, so
  * every round of every loop reaches listeners as one `materialize`
  * execution and no query leaves cached data behind. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4", "graft-materialize-test")
  val dir = "/root/testdata/sf0.001"

  private def leafOf(df: DataFrame): LogicalRDD =
    org.apache.spark.sql.GraftColumnBridge.logicalPlan(df).collectFirst {
      case r: LogicalRDD => r
    }.get

  test("the leaf carries the window's hash partitioning, its ordering and " +
    "the exact row count; an aggregate on the key plans with no exchange") {
    val rows = 200000L
    val windowed = spark.range(rows)
      .select((col("id") % 1000).as("k"), col("id").as("v"))
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
    val m = Materialize(windowed, 3)
    val leaf = leafOf(m)
    leaf.outputPartitioning match {
      case HashPartitioning(Seq(k: Attribute), n) =>
        assert(k.name === "k" && n === 3)
      case other => fail(s"expected hashpartitioning(k, 3), got $other")
    }
    assert(leaf.outputOrdering.map(_.child.asInstanceOf[Attribute].name) === Seq("k", "v"))
    assert(leaf.computeStats().rowCount === Some(BigInt(rows)))
    assert(Materialize.rows(m) === rows)
    assert(Materialize.rows(m.select("k").unionAll(m.select("v"))) === 2 * rows)
    val agg = m.groupBy("k").agg(sum("v").as("s"))
    assert(agg.count() === 1000L)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"aggregate on the key must not shuffle:\n$plan")
  }

  test("rel_pagerank_converged and rel_connected_components run concurrently " +
    "in two threads return the same rows as sequential runs") {
    val names = Seq("rel_pagerank_converged", "rel_connected_components")
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted
    val sequential = names.map(run)
    val concurrent = Await.result(Future.sequence(names.map(n => Future(run(n)))), 10.minutes)
    assert(sequential.forall(_.nonEmpty))
    assert(concurrent === sequential)
  }

  test("the caller's adaptive and shuffle-partition settings are unchanged afterwards") {
    val before = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    Materialize(spark.range(1000).groupBy((col("id") % 7).as("k")).count(), 2).collect()
    assert(before.map { case (k, _) => k -> spark.conf.get(k) } === before)
    assert(org.apache.spark.sql.internal.SQLConf.get.adaptiveExecutionEnabled)
  }

  private lazy val harness = Measure.attach(spark)

  /** `graft.Materialize` executions of one call, as [[Measure]] counts them. */
  private def materializations(body: => DataFrame): Long =
    harness.run("materializations")(body).orThrow.materializeN

  test("nndescentTopK with 3 rounds materializes the embeddings, the seed " +
    "graph and each round") {
    assert(materializations(Similarity.nndescentTopK(spark, dir, rounds = 3)) === 5)
  }

  test("the BPE fit materializes its vocabulary, then each round's pick " +
    "and fused vocabulary") {
    val docs = spark.createDataFrame(Seq(
      (1L, "lower lowest newer newest"), (2L, "low lower wider"), (3L, "new newer"))
    ).toDF("doc_id", "text")
    assert(materializations(CorpusOps.bpeMergesOf(docs, nMerges = 3)) === 1 + 2 * 3)
  }

  test("the graph insert's beam search materializes one frame per hop") {
    val all = Tables.embeddings(spark, dir)
    val nodes = all.filter(col("vec_id") % 7 =!= 0)
    val batch = all.filter(col("vec_id") % 7 === 0 && col("vec_id") < 70)
    val g = nodes.as("a").join(nodes.as("b"),
        col("b.vec_id") > col("a.vec_id") && col("b.vec_id") <= col("a.vec_id") + 12)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"), lit(1.0).as("cos"))
    def insert(hops: Int): Long = materializations(
      Similarity.nndInsertKnn(g, nodes, batch, k = 5, adjCap = 8, beam = 4,
        hops = hops, nEntries = 4))
    // adjacency, both embedding sides and the output, plus one per hop
    assert(insert(2) === 4 + 2)
    assert(insert(3) === 4 + 3)
  }

  test("no file under src/main except Materialize.scala checkpoints") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filter(_.getName != "Materialize.scala")
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        Seq("localCheckpoint", ".checkpoint(", ".persist(", ".cache()", "unpersist")
          .exists(src.contains)
      }
    assert(offenders.isEmpty,
      s"checkpoint or cache outside graft.Materialize: ${offenders.mkString(", ")}")
  }

  test("the queries that kept an intermediate leave the cache manager empty") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // entries other specs of this JVM cached
    Seq("agg_equidepth_hist", "ta_pack_sequences", "win_rank_changes",
      "rel_assoc_rules", "rel_link_predict", "ta_memorization_rate", "ta_novelty_curve")
      .foreach { name =>
        Measure.force(SparkEntry.queries(name)(spark, dir))
        assert(cache.isEmpty, s"$name left cached data behind")
      }
  }
}
