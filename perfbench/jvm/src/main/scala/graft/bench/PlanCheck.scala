package graft.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Registry

/** What a timed action really computes. For `q1_pricing_summary`,
  * the plan run by [[PerfBench.materialize]] must evaluate the op's
  * aggregate functions; `count()` lets Catalyst prune them. Also times
  * both actions on `q1_pricing_summary` and `ev_sessionize` (median of
  * five, after one warm-up each) so the gap is on record.
  */
object PlanCheck {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Distinct aggregate functions evaluated in the executed plan(s) of
    * `action`, read from the QueryExecutionListener.
    */
  def aggregates(spark: SparkSession, action: => Unit): Set[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { action; org.apache.spark.GraftBenchBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan)).collect {
      case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction.toString)
    }.flatten.toSet
  }

  private def medianS(n: Int)(f: => Unit): Double = {
    f
    val xs = (1 to n).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }.sorted
    xs(n / 2)
  }

  def run(spark: SparkSession, dir: String, out: Path): Unit = {
    def q1: DataFrame = Registry.byName("q1_pricing_summary").run(spark, dir)
    val materialized = aggregates(spark, PerfBench.materialize(q1))
    val counted = aggregates(spark, q1.count())
    val timings = Seq("q1_pricing_summary", "ev_sessionize").map { name =>
      def df = Registry.byName(name).run(spark, dir)
      (name, medianS(5)(df.count()), medianS(5)(PerfBench.materialize(df)))
    }
    spark.stop()
    def names(s: Set[String]) = Json.arr(s.toSeq.sorted.map(Json.str))
    Files.writeString(out, Json.obj(
      "materialized_aggregates" -> names(materialized),
      "counted_aggregates" -> names(counted),
      "timings" -> Json.arr(timings.map { case (n, c, m) =>
        Json.obj("op" -> Json.str(n), "count_s" -> Json.num(c), "materialized_s" -> Json.num(m))
      })) + "\n")
  }
}
