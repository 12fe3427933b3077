package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session extensions must (a) make the graft kernels resolvable
  * without explicit register() calls and (b) rewrite the interpreted
  * HOF dot-product pattern to the native kernel without changing a
  * single bit of output.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSuite {

  private val hofDot =
    "aggregate(zip_with(v, w, (x, y) -> x * y), CAST(0 AS DOUBLE), (s2, x) -> s2 + x)"

  private def vectors = Tables.load(spark, sfDir, "embeddings")
    .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    .withColumn("w", expr("reverse(v)"))

  test("injected functions resolve without explicit registration") {
    // fresh-ish check: use the session's catalog lookup, not GraftFunctions.register
    val out = vectors.withColumn("d", expr("graft_array_dot(v, v)"))
    assert(out.filter(col("d") <= 0).count() == 0)
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
