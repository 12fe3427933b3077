package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session `GraftSession.build` makes must (a) resolve every graft
  * kernel through the extensions alone, (b) carry `tune`'s confs, and
  * (c) rewrite the interpreted HOF dot-product pattern to the native
  * kernel without changing a single bit of output.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSuite {

  private val hofDot =
    "aggregate(zip_with(v, w, (x, y) -> x * y), CAST(0 AS DOUBLE), (s2, x) -> s2 + x)"

  private def vectors = Tables.load(spark, sfDir, "embeddings")
    .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    .withColumn("w", expr("reverse(v)"))

  test("injected functions resolve without explicit registration") {
    val out = vectors.withColumn("d", expr("graft_array_dot(v, v)"))
    assert(out.filter(col("d") <= 0).count() == 0)
    // every kernel, by name, in a session that never saw a register
    // call: only the extensions can have put them there
    val calls = Map(
      "graft_simhash60" -> "graft_simhash60(array('a', 'b', 'c'))",
      "graft_phash60" -> "graft_phash60('abcdef')",
      "graft_array_dot" -> "graft_array_dot(array(1D, 2D), array(3D, 4D))",
      "graft_shingles3" -> "graft_shingles3(array('a', 'b', 'c'))",
      "graft_minhash32" -> "graft_minhash32(array('a b c'))",
      "graft_bpe_count" -> "graft_bpe_count('nation')")
    assert(graft.functions.GraftFunctions.kernels.map(_._1).toSet == calls.keySet)
    val fresh = spark.newSession()
    calls.foreach { case (name, call) =>
      val row = fresh.sql(s"SELECT $call").head()
      assert(!row.isNullAt(0), s"$name returned NULL")
    }
    assert(fresh.sql("SELECT graft_array_dot(array(1D, 2D), array(3D, 4D))").head().getDouble(0) == 11.0)
  }

  test("the test session carries the drain confs GraftSession.tune sets") {
    assert(spark.conf.get("spark.sql.streaming.minBatchesToRetain") == "2")
    assert(spark.conf.get("spark.sql.streaming.stateStore.maintenanceInterval") == "600s")
  }

  test("optimizer rewrites the HOF dot product to the native kernel") {
    val df = vectors.withColumn("d", expr(hofDot))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_array_dot"),
      s"expected ArrayDot in optimized plan:\n$optimized")
    assert(!optimized.contains("aggregate(zip_with"))
  }

  test("the rewrite is bit-identical to the interpreted evaluation") {
    // evaluate the SAME expression with the rule (normal path) and
    // without it (excluded via conf) and compare exact doubles.
    // Collect eagerly BEFORE flipping the conf — plans optimize lazily.
    val withRule = vectors.withColumn("d", expr(hofDot)).select("vec_id", "d")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ruleName = graft.plans.NativeDotProductRule.ruleName
    GraftSession.withConf(spark, "spark.sql.optimizer.excludedRules" -> ruleName) {
      val withoutRuleDf = vectors.withColumn("d", expr(hofDot)).select("vec_id", "d")
      assert(!withoutRuleDf.queryExecution.optimizedPlan.toString.contains("graft_array_dot"))
      val withoutRule = withoutRuleDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(withoutRule == withRule) // exact double equality, bit for bit
    }
  }
}
