package graft

import org.scalatest.funsuite.AnyFunSuite

/** Positive plan assertions for the round-9 changes: the bucketed
  * purchase-graph staging and the basket-array market-basket rewrite
  * each make a concrete plan claim — pin it so a regression (bucket
  * count drifting below shuffle parallelism, a self-join sneaking
  * back) fails the build, not a later benchmark.
  */
class R9PlanShapeSpec extends AnyFunSuite with SparkSuite {

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sfDir).queryExecution.executedPlan.toString

  test("graph_pagerank: edge/outdeg scans are bucketed and NEVER re-exchanged") {
    // simulate cluster scale: no broadcast shortcut for the skinny side
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan("graph_pagerank")
      val bucketedScans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("Bucketed: true"))
      val scans = p.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans > 0 && bucketedScans == scans,
        s"every staged-table scan must stay bucketed ($bucketedScans/$scans):\n$p")
      // per superstep exactly ONE data exchange (the dst aggregate);
      // 3 unrolled rounds ⇒ 3 hashpartitioning exchanges, none of
      // them above a FileScan (the |E| side never moves)
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 3, s"expected 3 per-round aggregate exchanges, got $exchanges:\n$p")
      val lines = p.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning")).foreach {
        case (_, i) =>
          // the subtree directly under the exchange must not be a scan
          assert(!lines(i + 1).contains("FileScan"),
            s"an exchange sits directly on a staged scan (edge re-shuffle):\n$p")
      }
    }
  }

  test("bucket count is not below the session shuffle parallelism (the EnsureRequirements losing-side rule)") {
    assert(graft.ops.GraphOps.pgBuckets(spark) >=
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "buckets < shuffle partitions puts the |E| side on the losing end " +
        "of EnsureRequirements and re-shuffles it every superstep")
    // the derivation, not just this session's conf: a wider session
    // must derive a wider bucket count (and a narrower one keeps the
    // floor) — the r9 ADVICE failure mode was a >32-core Bench host
    // silently re-shuffling |E| under a hardcoded 32
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "96")
      assert(graft.ops.GraphOps.pgBuckets(spark) == 96)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      assert(graft.ops.GraphOps.pgBuckets(spark) == graft.ops.GraphOps.PgMinBuckets)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q_market_basket: basket-array pipeline — no self-join, bounded scans") {
    val p = plan("q_market_basket")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the pair generator must be the array expansion, not a self-join:\n$p")
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(lineitemScans <= 2,
      s"fact re-scan regression: lineitem scanned $lineitemScans times:\n$p")
  }
}
