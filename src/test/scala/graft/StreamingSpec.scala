package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming specs: drive the file source through the streaming
  * pipelines and reconcile with the equivalent batch computation.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** events with micro-precision timestamps (streamable type). */
  private lazy val eventsDir: String = {
    val tmp = Files.createTempDirectory("graft_stream_events").toString
    Tables.events(spark, sfDir)
      .select(expr("timestamp_micros(ts DIV 1000)").as("ts"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(tmp)
    tmp
  }

  test("RocksDB state store + AvailableNow: stateful agg matches batch, resumes exactly-once") {
    val schema = spark.read.parquet(eventsDir).schema
    val ckpt = Files.createTempDirectory("graft_rocksdb_ckpt").toString
    GraftSession.withConf(spark, EventStream.RocksDbState: _*) {
      val stream = spark.readStream.schema(schema).parquet(eventsDir)
      EventStream.runAvailableNow(
        EventStream.tumblingCounts(stream), "rocksdb_test", OutputMode.Complete(), ckpt)
      val got = spark.table("rocksdb_test").select("window_start", "event_type", "n_events")
      val want = spark.read.parquet(eventsDir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
      assert(got.count() == want.count() && got.count() > 0)
      assert(got.join(want, Seq("window_start", "event_type", "n_events"), "left_anti").count() == 0)
      // RocksDB actually engaged: state-store files landed in the checkpoint
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
      assert(new java.io.File(s"$ckpt/state").exists())
      // AvailableNow resume: no new data ⇒ a second run adds nothing
      val again = spark.readStream.schema(schema).parquet(eventsDir)
      EventStream.runAvailableNow(
        EventStream.tumblingCounts(again), "rocksdb_test2", OutputMode.Complete(), ckpt)
      assert(spark.table("rocksdb_test2").count() == 0)
    }
  }

  test("stream_f2: AMS counters ADD across micro-batches into bounded state") {
    val tmp = Files.createTempDirectory("graft_stream_f2_multi").toString
    Tables.events(spark, sfDir).select(col("event_type"), col("user_id"))
      .repartition(4).write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val ckpt = Files.createTempDirectory("graft_stream_f2_ckpt").toString
    // one file per trigger forces the sum-merge across SEVERAL batches
    // — the single-drain oracle gate never exercises that path
    val z = graft.queries.EventOps3.f2Counters(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(tmp))
    val q = EventStream.runAvailableNow(z, "f2_multi", OutputMode.Complete(), ckpt)
    // count from the query's progress, not the offsets/ log: the
    // session's minBatchesToRetain=2 purges old offset files
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct.length
    assert(batches >= 4, s"expected >=4 micro-batches, got $batches")
    val got = spark.table("f2_multi").orderBy("event_type").collect()
    val want = graft.queries.EventOps3.f2Counters(spark.read.parquet(tmp))
      .orderBy("event_type").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
    // bounded state: one row per type regardless of stream length
    assert(got.length ==
      spark.read.parquet(tmp).select("event_type").distinct().count())
  }

  test("streaming tumbling window agg matches batch") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = EventStream.startMemorySink(
      EventStream.tumblingCounts(stream), "tumbling_test", OutputMode.Complete())
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tumbling_test")
      .select("window_start", "event_type", "n_events")
    val want = spark.read.parquet(eventsDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    assert(got.count() == want.count())
    assert(got.join(want, Seq("window_start", "event_type", "n_events"), "left_anti").count() == 0)
  }

  test("sliding windows produce 4 overlapping windows per event hour") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = EventStream.startMemorySink(
      EventStream.slidingCounts(stream), "sliding_test", OutputMode.Complete())
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sliding_test")
    val tumbling = spark.read.parquet(eventsDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
    // each event is in 4 sliding windows ⇒ total window-event mass is 4×
    val slidingMass = got.agg(sum("n_events")).head().getLong(0)
    assert(slidingMass == 4 * spark.read.parquet(eventsDir).count())
    assert(got.count() > tumbling.count())
  }

  test("stream-static enrichment joins the dimension per micro-batch") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val dim = spark.read.parquet(eventsDir)
      .select("user_id").distinct().withColumn("segment", pmod(col("user_id"), lit(3)))
    val q = EventStream.startMemorySink(
      EventStream.enriched(stream, dim).select("event_id", "user_id", "segment"),
      "enriched_test", OutputMode.Append())
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched_test")
    assert(got.count() == spark.read.parquet(eventsDir).count())
    assert(got.filter(col("segment").isNull).count() == 0)
  }

  test("flatMapGroupsWithState emits exactly the non-final batch sessions") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Event]
    val q = EventStream.startMemorySink(
      EventStream.closedSessions(stream).toDF(), "sessions_test", OutputMode.Append())
    try q.processAllAvailable() finally q.stop()
    val closed = spark.table("sessions_test")
    // batch truth: ev_sessionize over the same corpus; closed streaming
    // sessions = all batch sessions except each user's final (still open)
    val batchSessions = Registry.byName("ev_sessionize").run(spark, sfDir)
    val users = batchSessions.select("user_id").distinct().count()
    assert(closed.count() == batchSessions.count() - users)
    // emitted sessions must match batch sessions exactly on (user, start, end, n)
    assert(closed
      .join(batchSessions,
        closed("user_id") === batchSessions("user_id") &&
          closed("session_start") === batchSessions("session_start") &&
          closed("session_end") === batchSessions("session_end") &&
          closed("n_events") === batchSessions("n_events"), "left_anti")
      .count() == 0)
  }

  test("state-store instrumentation: sessionizer state stays bounded by live users") {
    val schema = spark.read.parquet(eventsDir).schema
    GraftSession.withConf(spark, EventStream.RocksDbState: _*) {
      // multi-file source (time-ordered files) + single-file trigger so
      // state evolves across several micro-batches
      val multiDir = Files.createTempDirectory("graft_stream_multi").toString
      spark.read.parquet(eventsDir).repartition(4)
        .write.mode("overwrite").parquet(multiDir)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(multiDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStream.Event]
      val q = EventStream.startMemorySink(
        EventStream.closedSessions(stream).toDF(), "state_metrics_test", OutputMode.Append())
      try q.processAllAvailable() finally q.stop()
      val m = EventStream.stateMetrics(q)
      assert(m.nonEmpty, "no state metrics captured")
      // flatMapGroupsWithState keeps at most ONE open session per user:
      // live state keys must never exceed the user population — the
      // bounded-state property a production alert watches
      val users = spark.read.parquet(eventsDir).select("user_id").distinct().count()
      val peak = m.map(_.rowsTotal).max
      info(s"state peaks at $peak rows over ${m.map(_.batchId).distinct.size} batches ($users users)")
      assert(peak > 0 && peak <= users,
        s"sessionizer state $peak exceeds user population $users")
      // RocksDB reports resident state bytes — the instrumentation is live
      assert(m.exists(_.memoryBytes > 0))
    }
  }

  test("watermarked stream dedup collapses replayed events exactly") {
    // replay simulation: the same corpus written twice into one source dir
    val dupDir = Files.createTempDirectory("graft_stream_dup").toString
    val once = spark.read.parquet(eventsDir)
    once.write.mode("overwrite").parquet(dupDir)
    once.write.mode("append").parquet(dupDir)
    val schema = once.schema
    val stream = spark.readStream.schema(schema).parquet(dupDir)
    val q = EventStream.startMemorySink(
      EventStream.dedupedEvents(stream), "dedup_test", OutputMode.Append())
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_test")
    assert(spark.read.parquet(dupDir).count() == once.count() * 2) // replay really doubled
    assert(got.count() == once.count()) // dedup collapsed it
    assert(got.select("event_id").distinct().count() == got.count())
  }

  test("stream-stream interval join matches the batch attribution join") {
    val schema = spark.read.parquet(eventsDir).schema
    def src = spark.readStream.schema(schema).parquet(eventsDir)
    val q = EventStream.startMemorySink(
      EventStream.purchaseAttribution(
        src.filter(col("event_type") === "signup"),
        src.filter(col("event_type") === "purchase")),
      "attrib_test", OutputMode.Append())
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("attrib_test")
    val ev = spark.read.parquet(eventsDir)
    val want = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .join(ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts")),
        col("user_id") === col("s_user_id") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.join(want.select("user_id", "purchase_id", "purchase_ts", "signup_ts"),
      Seq("user_id", "purchase_id", "purchase_ts", "signup_ts"), "left_anti").count() == 0)
  }

  test("LEFT OUTER interval join state survives a checkpointed restart (exactly-once outer emission)") {
    // run 1 sees only the real events: matched rows emit, outer rows
    // flush for everything older than the post-run watermark, and
    // purchases NEWER than it are HELD IN STATE; the query then
    // stops. The sentinel files land, run 2 resumes FROM THE
    // CHECKPOINT and must flush exactly the held purchases as
    // null-padded rows — no loss (state recovered), no duplicates
    // (offsets recovered). A synthetic unmatched purchase AT the
    // stream max (user -777, no signups) is guaranteed held across
    // the restart, so the state-recovery path provably executes.
    val src = Files.createTempDirectory("graft_outer_resume_src").toString
    val ckpt = Files.createTempDirectory("graft_outer_resume_ckpt").toString
    val ev0 = spark.read.parquet(eventsDir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("event_id"), expr("timestamp_seconds(CAST(unix_timestamp(ts) AS BIGINT))").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val maxTs = ev0.agg(max(col("ts"))).head().getTimestamp(0)
    val ev = ev0.unionByName(spark.range(1).select(
      lit(-50L).as("event_id"), lit(maxTs).as("ts"), lit(-777L).as("user_id"),
      lit("purchase").as("event_type"), lit(0.0).as("value")))
    val t0 = System.currentTimeMillis() - 60000
    ev.repartition(1).write.mode("overwrite").parquet(src)
    var seen = graft.streaming.StreamOps.stampNewFiles(src, Set.empty, t0)
    val schema = spark.read.parquet(src).schema
    def joined() = {
      def s(t: String) = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .filter(col("event_type") === t)
      EventStream.purchaseAttributionOuter(s("signup"), s("purchase"))
    }
    // memory sinks cannot recover a checkpoint — the restart story
    // needs the fault-tolerant file sink (same as stream_file_sink)
    val out = Files.createTempDirectory("graft_outer_resume_out").toString
    def runToParquet(): Unit = {
      val q = joined().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runToParquet()
    val run1 = spark.read.parquet(out).collect()
    assert(run1.nonEmpty)
    assert(!run1.exists(_.getAs[Long]("user_id") == -777L),
      "the at-watermark purchase must still be held in state when run 1 stops")
    // sentinels arrive (both sides — the global watermark is a min)
    def sentinel(id: Long, off: Long) = {
      val ts = lit(new java.sql.Timestamp(maxTs.getTime + off * 1000L))
      spark.range(1).select(lit(id).as("event_id"), ts.as("ts"), lit(-999L).as("user_id"),
          lit("signup").as("event_type"), lit(0.0).as("value"))
        .unionByName(spark.range(1).select(lit(id - 100L).as("event_id"), ts.as("ts"),
          lit(-999L).as("user_id"), lit("purchase").as("event_type"), lit(0.0).as("value")))
    }
    for ((off, i) <- Seq(7200L, 7300L, 7400L).zipWithIndex) {
      sentinel(-1L - i, off).repartition(1).write.mode("append").parquet(src)
      seen = graft.streaming.StreamOps.stampNewFiles(src, seen, t0 + (i + 1) * 10000)
    }
    runToParquet()
    val all = spark.read.parquet(out).filter(col("user_id") =!= -999L).collect()
    val run1Keys = run1.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
      Option(r.getAs[java.sql.Timestamp]("signup_ts")))).toSet
    val run2 = all.filterNot(r => run1Keys.contains((r.getAs[Long]("user_id"),
      r.getAs[Long]("purchase_id"), Option(r.getAs[java.sql.Timestamp]("signup_ts")))))
    assert(run2.forall(_.getAs[java.sql.Timestamp]("signup_ts") == null),
      "run 2 may only flush held UNMATCHED purchases (all matches emitted in run 1)")
    assert(run2.exists(_.getAs[Long]("user_id") == -777L),
      "the held purchase must flush null-padded after the restart — state recovered")
    // union == batch LEFT JOIN truth: nothing lost, nothing doubled
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val st = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
    val wantRows = p.join(st,
      col("user_id") === col("s_user_id") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer").count()
    assert(all.length == wantRows,
      s"run1=${run1.length} + run2=${run2.length} != batch outer join $wantRows")
  }

  test("watermark visibility lags one planning cycle: immediate replay LEAKS, post-commit replay drops") {
    // Encodes the measurement behind stream_watermark_late's 3-file
    // staging: a replay in the batch RIGHT AFTER the watermark-
    // advancing batch still filters against the old watermark and
    // merges into live state (counts double); a replay one batch
    // later is dropped. Both phases drive real multi-batch streams.
    import org.apache.spark.sql.streaming.OutputMode
    def drain(nMidBatches: Int, qname: String): Long = {
      val src = Files.createTempDirectory(s"graft_wmlag_$qname").toString
      val base = spark.range(100).select(
        col("id").as("event_id"),
        expr("timestamp_seconds(1700000000 + id * 60)").as("ts"),
        lit("e").as("event_type"))
      val sentinel = spark.range(1).select(lit(-1L).as("event_id"),
        expr("timestamp_seconds(1700000000 + 864000)").as("ts"),
        lit("sentinel").as("event_type"))
      base.unionByName(sentinel).repartition(1).write.mode("overwrite").parquet(src)
      for (i <- 1 to nMidBatches) {
        Thread.sleep(1100)
        spark.range(1).select(lit(-1L - i).as("event_id"),
            expr(s"timestamp_seconds(1700000000 + 864000 + $i)").as("ts"),
            lit("sentinel").as("event_type"))
          .repartition(1).write.mode("append").parquet(src)
      }
      Thread.sleep(1100)
      base.select((col("event_id") + 1000L).as("event_id"), col("ts"), col("event_type"))
        .repartition(1).write.mode("append").parquet(src)
      val schema = spark.read.parquet(src).schema
      val agg = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      EventStream.runAvailableNow(agg, qname, OutputMode.Append(),
        Files.createTempDirectory(s"graft_wmlag_ckpt_$qname").toString)
      spark.table(qname).filter(col("event_type") === "e")
        .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    }
    assert(drain(0, "wmlag_leak") == 200L,
      "expected the immediate replay to LEAK (watermark not yet visible)")
    assert(drain(1, "wmlag_drop") == 100L,
      "expected the post-commit replay to be dropped")
  }

  test("stateful running user aggregate matches batch totals") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val q = EventStream.startMemorySink(
      EventStream.runningUserAgg(stream).toDF(), "running_test", OutputMode.Update())
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("running_test")
    val want = spark.read.parquet(eventsDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    // one batch ⇒ one update per user with the full count
    assert(got.select("user_id").distinct().count() == want.count())
    assert(got.groupBy("user_id").agg(max("n_events").as("n_events"))
      .join(want, Seq("user_id", "n_events"), "left_anti").count() == 0)
  }
}
