package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical enforcement of SURVEY §4's scale rules over EVERY
  * registered operator — the regression net for the 100 TB story:
  *
  *  1. No CartesianProductExec anywhere. A cartesian over two big
  *     sides is the one plan shape that cannot survive scale;
  *     1-row-scalar cross joins compile to BroadcastNestedLoopJoin,
  *     which stays allowed.
  *  2. Every window with an EMPTY partition spec must sit above an
  *     Aggregate in the same lineage — an unpartitioned window is
  *     only sane over a grain-reduced (bounded) relation; over a raw
  *     fact table it funnels everything into one task.
  *
  * Checked on the optimized logical plan (robust node types, not
  * string matching) for the physical cartesian check's logical
  * counterpart Join-with-no-condition — plus the physical plan string
  * for CartesianProductExec itself.
  */
class PlanGuardSpec extends AnyFunSuite with SparkSuite {

  /** A checkpoint barrier (LogicalRDD) below an unpartitioned window
    * must be MEASURABLY bounded, not trusted by convention: lineage
    * truncation hides whatever the checkpoint materialized, so a
    * raw-fact checkpoint would otherwise satisfy this guard silently
    * (round-8 verdict finding). The two sanctioned sites (MAD's
    * day-grain relation, zipf's rank relation) are ≤31 rows at the
    * gate SF; the smallest fact table is ~6k rows — the ceiling
    * separates them by ~6×. Counting is cheap here: localCheckpoint
    * blocks are already materialized by plan construction.
    */
  private val CkptWindowRowCeiling = 1000L

  private def rddRows(p: LogicalPlan): Long =
    p.getClass.getMethod("rdd").invoke(p)
      .asInstanceOf[org.apache.spark.rdd.RDD[_]].count()

  /** Bounded input = an Aggregate in the lineage, or a checkpoint
    * barrier whose materialized row count is under the ceiling. Raw
    * scans, joins, and fact-sized checkpoints all fail the guard.
    */
  private def subtreeHasAggregate(p: LogicalPlan): Boolean =
    p.collectFirst {
      case _: Aggregate => ()
      case r if r.getClass.getSimpleName == "LogicalRDD" &&
        rddRows(r) <= CkptWindowRowCeiling => ()
    }.isDefined

  /** The unstaged plans behind the declared staged artifacts. */
  private def stagingPlans: Seq[(String, org.apache.spark.sql.DataFrame)] =
    graft.ops.Staging.artifacts.flatMap(a =>
      a.unstaged.map(plan => s"${a.name}(unstaged)" -> plan(spark, sfDir)))

  /** Every plan the guards cover: each registered op's surfaced plan
    * PLUS the staging subplans that execute behind a staged-parquet
    * read (the staged ops' surfaced plan is just a scan — without
    * these the riskiest subplan in the repo would be unguarded).
    */
  private def guardedPlans: Seq[(String, org.apache.spark.sql.DataFrame)] =
    Registry.all.map(op => op.name -> op.run(spark, sfDir)) ++ stagingPlans

  test("the declared artifact list supplies all 9 unstaged staging plans") {
    assert(graft.ops.Staging.artifacts.count(_.unstaged.isDefined) == 9)
  }

  test("no registered op (or staging subplan) compiles to a cartesian product") {
    val offenders = guardedPlans.flatMap { case (name, df) =>
      val phys = df.queryExecution.executedPlan.toString
      if (phys.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("every unpartitioned window runs over a pre-aggregated (bounded) input") {
    val offenders = guardedPlans.flatMap { case (name, df) =>
      val logical = df.queryExecution.optimizedPlan
      val bad = logical.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !subtreeHasAggregate(w.child) => w
      }
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over raw (unbounded) inputs: $offenders")
  }
}
