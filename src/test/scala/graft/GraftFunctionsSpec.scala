package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must be BIT-identical to the interpreted
  * HOF pipelines they replace — otherwise the DuckDB oracles drift.
  */
class GraftFunctionsSpec extends AnyFunSuite with SparkSuite {

  test("graft_simhash60 equals the interpreted HOF formulation") {
    val df = graft.ops.TextOps.withTokens(Tables.load(spark, sfDir, "documents"))
      .withColumn("native", expr("graft_simhash60(toks)"))
      .withColumn("hs", expr("transform(toks, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"))
      .withColumn("interp", expr(
        """aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, j) ->
          |  acc + CASE WHEN aggregate(hs, 0, (s2, v) ->
          |                  s2 + CASE WHEN (shiftright(v, j) & 1) = 1 THEN 1 ELSE -1 END) > 0
          |             THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)""".stripMargin))
    assert(df.filter(col("native") =!= col("interp")).count() == 0)
  }

  test("graft_shingles3 equals the interpreted formulation incl. order") {
    val df = graft.ops.TextOps.withTokens(Tables.load(spark, sfDir, "documents"))
      .filter(size(col("toks")) >= 3)
      .withColumn("native", expr("graft_shingles3(toks)"))
      .withColumn("interp", expr(
        """array_distinct(transform(sequence(1, size(toks)-2),
          |  i -> element_at(toks,i) || ' ' || element_at(toks,i+1) || ' ' || element_at(toks,i+2)))""".stripMargin))
    assert(df.filter(col("native") =!= col("interp")).count() == 0)
  }

  test("graft_minhash32 equals the interpreted per-perm array_min form") {
    val mins = GraftFunctions.minhashPerms.toSeq.map { case (a, b) =>
      s"array_min(transform(sids, x -> ($a * x + $b) % 2147483647))"
    }
    val df = graft.ops.TextOps.withTokens(Tables.load(spark, sfDir, "documents"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr("graft_shingles3(toks)"))
      .withColumn("sids", expr(
        "array_distinct(transform(sh, g -> CAST(conv(substr(md5(g), 1, 8), 16, 10) AS BIGINT) % 2147483647))"))
      .withColumn("native", expr("graft_minhash32(sh)"))
      .withColumn("interp", expr(mins.mkString("array(", ", ", ")")))
    assert(df.filter(col("native") =!= col("interp")).count() == 0)
  }

  test("graft_array_dot equals the interpreted fold, including FP order") {
    val df = Tables.load(spark, sfDir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("w", expr("reverse(v)"))
      .withColumn("native", expr("graft_array_dot(v, w)"))
      .withColumn("interp",
        expr("aggregate(zip_with(v, w, (x, y) -> x * y), CAST(0 AS DOUBLE), (s2, x) -> s2 + x)"))
    // the fold is exactly the form NativeDotProductRule rewrites to
    // ArrayDot: plan with the rule excluded, or `interp` is the kernel
    // too and the test compares it with itself
    val ruleName = graft.plans.NativeDotProductRule.ruleName
    GraftSession.withConf(spark, "spark.sql.optimizer.excludedRules" -> ruleName) {
      assert(!df.select("interp").queryExecution.optimizedPlan.toString.contains("graft_array_dot"))
      // exact equality: same sequential fold order ⇒ same double bits
      assert(df.filter(col("native") =!= col("interp")).count() == 0)
    }
  }

  test("graft_array_dot on ragged arrays is NULL, matching zip_with null-poisoning") {
    import spark.implicits._
    val df = Seq(
        (Array(1.0, 2.0, 3.0), Array(4.0, 5.0)),    // ragged → NULL
        (Array(1.0, 2.0), Array(4.0, 5.0)))          // equal → 14.0
      .toDF("v", "w")
      .withColumn("native", expr("graft_array_dot(v, w)"))
      .withColumn("interp",
        expr("aggregate(zip_with(v, w, (x, y) -> x * y), CAST(0 AS DOUBLE), (s2, x) -> s2 + x)"))
    assert(df.filter(col("native") <=> col("interp")).count() == 2)
    assert(df.filter(col("native").isNull).count() == 1)
  }
}
