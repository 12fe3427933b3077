package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered op must run at sf0.001; driver-contract shape
  * checks (unique names, oracle keys ⊆ query keys, flagship rows>0).
  */
class RegistrySpec extends AnyFunSuite with SparkSuite {

  test("op names are unique and oracle keys align with query keys") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("select trims names, fails on unknown ones by name, and None selects all 292") {
    val e = intercept[IllegalArgumentException](
      Registry.select(Some("q1_pricing_summary,no_such_op")))
    assert(e.getMessage.contains("no_such_op"))
    assert(Registry.select(Some(" q6_revenue_delta , q1_pricing_summary,")).map(_.name) ==
      Seq("q1_pricing_summary", "q6_revenue_delta"))
    val all = Registry.select(None).map(_.name)
    assert(all.size == 292 && all == Registry.all.map(_.name).sorted)
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (op <- Registry.all) {
    test(s"op ${op.name} runs at sf0.001") {
      val n = op.run(spark, sfDir).count()
      // approximate ANN ops may legitimately return few rows, but
      // every op must produce something on the smoke corpus
      assert(n > 0, s"${op.name} returned 0 rows")
    }
  }
}
