package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one distributed running sum: a global `sum(weight) over (order
  * by ...)` without the single-partition window Spark plans for it.
  * `row_number` is the inclusive sum of 1; an exclusive sum is each
  * row's start offset (sequence packing, equi-depth ranks).
  *
  *  1. The input is range-partitioned on `order` at the session's
  *     shuffle partitions, sorted within each partition, and every
  *     partition runs its own local sum in one pass. Range partition ids
  *     follow the order, so partition p holds a contiguous run of it.
  *  2. That frame is kept once through [[Materialize]], so the totals
  *     and the output read the same range bounds.
  *  3. The per-partition totals come to the driver (at most one row per
  *     partition), are summed into offsets there, and each row adds its
  *     partition's offset from a literal array.
  *
  * `order` must be a total order: tied rows could otherwise land on
  * either side of a range bound, and their sums would depend on it. */
object PrefixSum {
  def apply(df: DataFrame, order: Seq[Column], weight: Column, out: String,
            inclusive: Boolean): DataFrame = {
    val ranged = df.withColumn("_w", weight.cast("long"))
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
    val w = ranged.schema.fieldIndex("_w")
    val local = Materialize(ranged.mapPartitions { rows =>
      var run = 0L
      rows.map { r => run += r.getLong(w); Row.fromSeq(r.toSeq :+ run) }
    }(Encoders.row(ranged.schema.add("_run", LongType, nullable = false))))
    val totals = local.groupBy("_pid").agg(sum(col("_w"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = new Array[Long](totals.lastOption.fold(0)(_._1 + 1))
    totals.foldLeft(0L) { case (acc, (pid, s)) => offsets(pid) = acc; acc + s }
    val run = if (inclusive) col("_run") else col("_run") - col("_w")
    local.withColumn(out, typedLit(offsets).apply(col("_pid")) + run)
      .drop("_w", "_pid", "_run")
  }
}
