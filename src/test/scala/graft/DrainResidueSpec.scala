package graft

import org.scalatest.funsuite.AnyFunSuite

/** Running a streaming op leaves nothing behind: every stream_* op,
  * run twice in one JVM, must add no temp view (memory sinks), no
  * active query and no checkpoint dir — while the DataFrame it
  * returned still collects after its drain has cleaned up. Plus the
  * contract of the scoped-conf helper every drain runs under.
  */
class DrainResidueSpec extends AnyFunSuite with SparkSuite {

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def checkpointDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft_stream_ckpt"))
      .map(_.getName).toSet

  test("every stream_* op, run twice, leaves no temp view, active query or checkpoint dir") {
    val ops = Registry.all.filter(_.name.startsWith("stream_"))
    assert(ops.size == 20)
    val views0 = tempViews()
    val ckpts0 = checkpointDirs()
    val active0 = spark.streams.active.length
    for (op <- ops) {
      val counts = Seq.fill(2)(op.run(spark, sfDir).collect().length)
      assert(counts.head > 0 && counts.distinct.size == 1,
        s"${op.name}: drained rows per run $counts")
    }
    assert(tempViews() -- views0 == Set.empty[String])
    assert(spark.streams.active.length == active0)
    assert(checkpointDirs() -- ckpts0 == Set.empty[String])
  }

  test("withConf restores a set key and unsets an unset key, on return and on throw") {
    val setKey = "graft.spec.withconf.was_set"
    val unsetKey = "graft.spec.withconf.was_unset"
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    def assertRestored(): Unit = {
      assert(spark.conf.getOption(setKey).contains("before"))
      assert(spark.conf.getOption(unsetKey).isEmpty)
    }
    try {
      val seen = GraftSession.withConf(spark, setKey -> "inside", unsetKey -> "inside") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen == ("inside", "inside"))
      assertRestored()
      intercept[IllegalStateException] {
        GraftSession.withConf(spark, setKey -> "inside", unsetKey -> "inside") {
          throw new IllegalStateException("body failed")
        }
      }
      assertRestored()
    } finally spark.conf.unset(setKey)
  }
}
