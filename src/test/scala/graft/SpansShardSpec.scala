package graft

import org.scalatest.funsuite.AnyFunSuite

/** Window-hash sharding (Spans.shardedPostings) must be a pure
  * execution-strategy knob: with S shards — unioned OR sequentially
  * staged — both spans ops return row sets identical to the
  * unsharded run, because every pipeline key is a function of the
  * window hash and pmod(wid, S) partitions that key space exactly.
  */
class SpansShardSpec extends AnyFunSuite with SparkSuite {

  private def rows(name: String): Seq[Seq[Any]] =
    Registry.byName(name).run(spark, sfDir).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  for (op <- Seq("dedup_spans", "dedup_substring")) {
    test(s"$op: 4-shard union run equals the unsharded run") {
      val base = rows(op)
      assert(base.nonEmpty)
      val sharded = GraftSession.withConf(spark, "spark.graft.spans.shards" -> "4")(rows(op))
      assert(sharded == base)
    }

    test(s"$op: 3-shard sequentially-staged run equals the unsharded run") {
      val base = rows(op)
      val staged = GraftSession.withConf(spark,
        "spark.graft.spans.shards" -> "3",
        "spark.graft.spans.shardStage" -> "true")(rows(op))
      assert(staged == base)
    }
  }
}
