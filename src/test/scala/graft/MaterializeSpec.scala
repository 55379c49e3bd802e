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

/** [[Materialize]]: the leaf it returns keeps the executed plan's
  * partitioning, ordering and measured row count; loops built on it run
  * concurrently without sharing state; the caller's conf is untouched. */
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
}
