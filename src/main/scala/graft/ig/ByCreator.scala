package graft.ig

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{logicalPlan, named, ofRows}
import org.apache.spark.sql.catalyst.plans.{LeftOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, Project}

/** Left-joins per-creator frames onto `base` on `creator_key` and projects
  * `out` over the joined columns, analyzed as ONE plan.
  *
  * `Dataset.join` analyzes twice per call (once to split self-joined
  * relations, once to resolve the using-join), and every analysis walks
  * the whole plan; the report's nine joins over ten blocks that share one
  * posts leaf made that the largest single share of building the report.
  * Here the using-joins and the projection are one unresolved tree, so
  * the analyzer de-duplicates the shared relations and resolves every
  * column in a single pass. The result is exactly what the chained
  * `join(side, Seq("creator_key"), "left").select(out)` calls build. */
private[ig] object ByCreator {
  def apply(base: DataFrame, sides: DataFrame*)(out: Column*): DataFrame = {
    val joined = sides.foldLeft(logicalPlan(base)) { (left, side) =>
      Join(left, logicalPlan(side), UsingJoin(LeftOuter, Seq("creator_key")), None, JoinHint.NONE)
    }
    ofRows(base.sparkSession, Project(out.map(named), joined))
  }
}
