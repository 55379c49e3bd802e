package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.internal.SQLConf

/** Bridge to the private[sql] Column ↔ Expression converters (Spark 4
  * moved Column onto ColumnNode; custom Catalyst expressions still need
  * the classic converters to surface as Columns). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A Column as the named expression `Dataset.select` projects. */
  def named(c: Column): NamedExpression = classic.ColumnConversions.toRichColumn(c).named

  /** Build a DataFrame from a custom LogicalPlan (private[sql] in Spark;
    * needed to surface injected whole-operator nodes like AsOfJoinPlan). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for composing custom
    * logical nodes from DataFrame-built children). */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The planning and re-rooting half of [[graft.Materialize]]: runs `df`
    * once as one SQL execution (listeners see it like any action), planned
    * WITHOUT adaptive execution at `partitions` reducers, hands the result
    * rows to `keep` (which materializes them and returns their count), and
    * returns the kept rows as a frame in `df`'s own session.
    *
    * The execution's preparation rules are Spark's own minus adaptive
    * execution (which reads the SESSION's conf, not the thread's), and
    * the physical planning call alone runs under a clone of the session
    * conf that sets the partition count, so the session and concurrent
    * callers never see it. The returned leaf carries the executed plan's
    * partitioning and ordering (an adaptive plan does not expose either
    * before it runs), the optimizer's size estimate and the measured row
    * count. */
  def materialize(df: DataFrame, partitions: Int)(keep: RDD[InternalRow] => Long): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = new NonAdaptiveExecution(spark, ds.queryExecution.analyzed)
    val optimized = qe.optimizedPlan
    val conf = spark.sessionState.conf.clone()
    conf.setConfString(SQLConf.SHUFFLE_PARTITIONS.key, partitions.toString)
    val plan = SQLConf.withExistingConf(conf)(qe.executedPlan)
    val (rdd, rows) = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rdd = plan.execute().map(_.copy())
      (rdd, keep(rdd))
    }
    val output = AttributeSet(plan.output)
    def within(e: Expression): Boolean = e.references.subsetOf(output)
    def leaf(p: Partitioning): Partitioning = p match {
      case PartitioningCollection(ps) =>
        ps.map(leaf).find(!_.isInstanceOf[UnknownPartitioning]).getOrElse(UnknownPartitioning(0))
      case e: Expression if !within(e) => UnknownPartitioning(0)
      case other => other
    }
    classic.Dataset.ofRows(spark, LogicalRDD(plan.output, rdd, leaf(plan.outputPartitioning),
      plan.outputOrdering.takeWhile(within))(
      spark, Some(optimized.stats.copy(rowCount = Some(BigInt(rows)))),
      Some(optimized.constraints)))
  }

  private final class NonAdaptiveExecution(spark: classic.SparkSession, plan: LogicalPlan)
      extends QueryExecution(spark, plan) {
    override protected def preparations: Seq[Rule[SparkPlan]] =
      super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
  }
}
