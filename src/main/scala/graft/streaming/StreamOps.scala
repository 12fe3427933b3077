package graft.streaming

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming surfaced through the driver contract: the op
  * below DRIVES a real streaming query (file source → watermarked
  * tumbling aggregate → AvailableNow drain → memory sink) and
  * returns its drained result, so streaming execution passes the SAME
  * DuckDB hash gate as every batch operator — not just its own
  * ScalaTest reconciliation (StreamingSpec covers the wider feature
  * set: sessionization, stream-stream joins, dedup, RocksDB state).
  *
  * The aggregate mirrors EventOps.ev_tumbling's bucketing (epoch-hour
  * grain; Spark's window() aligns to the epoch) minus the distinct
  * user count — distinct aggregates aren't supported inside streaming
  * aggregations, which is itself a documented engine semantic.
  */
object StreamOps {

  /** FileStreamSource orders files by (mtime, path); stamp each staged
    * batch's newly-written part files with an explicit increasing
    * mtime so multi-file staging forms deterministic micro-batches
    * without sleeping between writes. LOAD-BEARING for the watermark
    * choreography of the late-drop and outer-join gates (and their
    * specs) — keep the one copy.
    */
  private[graft] def stampNewFiles(dir: String, seen: Set[String],
      mtimeMs: Long): Set[String] = {
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
    parts.filterNot(f => seen.contains(f.getName))
      .foreach(_.setLastModified(mtimeMs))
    parts.map(_.getName).toSet
  }

  /** PRODUCTION entry point: stream a real landing directory (any
    * parquet dir whose rows carry `ts` TIMESTAMP, `event_type`,
    * `value`) through the watermarked tumbling aggregate — no corpus
    * rewrite. A deployment points this at its event landing zone (or
    * swaps the file source for Kafka) and attaches a real sink +
    * checkpoint; the registered `stream_tumbling` op stages a
    * timestamp-typed COPY of the test events table first only because
    * the hash gate needs a deterministic bounded drain of a
    * nanos-BIGINT batch table.
    */
  def tumblingFrom(s: SparkSession, sourceDir: String): DataFrame = {
    val schema = s.read.parquet(sourceDir).schema // metadata-only peek
    s.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
  }

  /** Staged micro-precision streamable copy (graft sessions read the
    * events nanos column as BIGINT; streams watermark on TIMESTAMP) —
    * shared by the tumbling and sliding gates (identical projection).
    */
  private[streaming] def ev3Src(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "ev3") { p =>
      Tables.events(s, dir)
        .select(expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("event_type"), col("value"))
        .write.mode("overwrite").parquet(p)
    }

  private def streamTumbling(s: SparkSession, dir: String): DataFrame = {
    val (rows, _) = EventStream.drain(tumblingFrom(s, ev3Src(s, dir)), OutputMode.Complete())
    rows
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"),
        col("sum_dec").cast("decimal(28,4)").cast("double").as("sum_value"))
      .orderBy("hour_epoch", "event_type")
  }

  // ---------------------------------------------------------------
  // stream_sliding — 11th streaming gate: OVERLAPPING (sliding)
  // window aggregation as a real streaming query — window(ts, 1 hour
  // SLIDE 15 min) + watermark, AvailableNow drain, Complete-mode
  // memory sink — hash-checked against the batch oracle that explodes
  // each event into its 4 covering windows. The tumbling gate proves
  // streaming aggregation; this proves the multi-assignment window
  // path (each row updates FOUR window states), which is a different
  // streaming operator (StateStoreSave over expanded windows) with
  // 4× the state rows. Result grain (15-min starts × event_type) is
  // bounded, so the Complete sink stays driver-safe.
  // ---------------------------------------------------------------
  def slidingFrom(s: SparkSession, sourceDir: String): DataFrame = {
    val schema = s.read.parquet(sourceDir).schema
    s.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
  }

  private def streamSliding(s: SparkSession, dir: String): DataFrame = {
    val (rows, _) = EventStream.drain(slidingFrom(s, ev3Src(s, dir)), OutputMode.Complete())
    rows
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n_events"),
        col("sum_dec").cast("decimal(28,4)").cast("double").as("sum_value"))
      .orderBy("win_start", "event_type")
  }

  private val streamSlidingSql =
    """SELECT win_start, event_type, count(*) AS n_events,
      | CAST(CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT event_type, value, es - (es % 900) - k * 900 AS win_start
      |  FROM (SELECT event_type, value, epoch_ns(ts)//1000000000 AS es,
      |        unnest(range(0, 4)) AS k FROM events) e
      |) w
      |GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin

  // ---------------------------------------------------------------
  // stream_two_phase_agg — MULTIPLE STATEFUL OPERATORS in one
  // streaming query (Spark 3.4+'s chained windowed aggregations —
  // the feature that lets a production topology pre-aggregate at
  // fine grain and roll up downstream WITHOUT an intermediate sink):
  // watermarked 15-minute tumbling aggregate → second stateful
  // aggregate re-windowing the first's window column to 1 hour
  // (sum of partial counts/sums + sub-window count). Chained
  // stateful operators require Append mode, and an hour row only
  // flushes once the watermark passes its end — so the staging
  // drives the sentinel/mtime micro-batch choreography proven by
  // stream_attribution_outer (three far-future '__sentinel' batches:
  // advance, apply, apply-again), and the gate filters sentinels
  // from the drained sink. The oracle re-derives BOTH grains in
  // batch SQL (15-min partials, then the hourly roll-up OF THE
  // PARTIALS — not a direct hourly aggregate — so a wrong chaining
  // semantics cannot hash-match). Decimal partial sums keep the
  // two-level summation exact on both engines.
  // At 100 TB: the fine-grain state is what bounds memory (15-min
  // windows expire on watermark); the hourly roll-up sees only
  // window-grain rows — this is the standard lambda-collapse
  // topology, in one query, state-expired end to end.
  // ---------------------------------------------------------------
  def twoPhaseFrom(s: SparkSession, sourceDir: String): DataFrame = {
    val schema = s.read.parquet(sourceDir).schema
    val fine = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sourceDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
    fine
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_subwindows"),
        sum(col("sum_dec")).as("sum_dec"))
  }

  private[streaming] def twoPhaseSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "2p") { p =>
      val ev = Tables.events(s, dir)
        .select(expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("event_type"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      def sentinel(offsetSec: Long) = s.range(1).select(
        lit(new java.sql.Timestamp(maxTs.getTime + offsetSec * 1000L)).as("ts"),
        lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      val t0 = System.currentTimeMillis() - 60000
      ev.repartition(1).write.mode("overwrite").parquet(p)
      var seen = stampNewFiles(p, Set.empty, t0)
      sentinel(7200L).repartition(1).write.mode("append").parquet(p)
      seen = stampNewFiles(p, seen, t0 + 10000)
      sentinel(7300L).repartition(1).write.mode("append").parquet(p)
      seen = stampNewFiles(p, seen, t0 + 20000)
      sentinel(7400L).repartition(1).write.mode("append").parquet(p)
      stampNewFiles(p, seen, t0 + 30000)
    }

  private def streamTwoPhase(s: SparkSession, dir: String): DataFrame = {
    val (rows, _) = EventStream.drain(twoPhaseFrom(s, twoPhaseSrc(s, dir)), OutputMode.Append())
    rows
      .filter(col("event_type") =!= "__sentinel")
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("n_subwindows"),
        col("sum_dec").cast("decimal(28,4)").cast("double").as("sum_value"))
      .orderBy("hour_epoch", "event_type")
  }

  private val streamTwoPhaseSql =
    """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS es, event_type, value FROM events),
      |f AS (SELECT es - (es % 900) AS w15, event_type,
      |        count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS sum_dec
      |      FROM e GROUP BY 1, 2)
      |SELECT w15 - (w15 % 3600) AS hour_epoch, event_type,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_subwindows,
      |  CAST(CAST(round(sum(sum_dec), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_value
      |FROM f GROUP BY 1, 2
      |ORDER BY hour_epoch, event_type""".stripMargin

  private val streamTumblingSql =
    """SELECT hour_epoch, event_type, count(*) AS n_events,
      | CAST(CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_value
      |FROM (SELECT es - (es % 3600) AS hour_epoch, event_type, value
      |      FROM (SELECT epoch_ns(ts)//1000000000 AS es, event_type, value FROM events) e) b
      |GROUP BY hour_epoch, event_type
      |ORDER BY hour_epoch, event_type""".stripMargin

  // ---------------------------------------------------------------
  // stream_sessionize — STATEFUL streaming (flatMapGroupsWithState
  // gap sessionizer, EventStream.closedSessions) through the DuckDB
  // hash gate, checked against the same semantics as the batch
  // ev_sessionize op. Gate mechanics:
  //  - value is pre-cast to exact integer cents with the SAME Spark
  //    cast the batch op uses, so the state's running sum is exact
  //    integer arithmetic — summation ORDER cannot move the hash
  //    (doubles hold integers exactly to 2^53).
  //  - a per-user sentinel event (event_id = -1, es = corpus max +
  //    3600 > gap) closes every user's trailing session; the
  //    sentinel's own 1-event session stays in state and is never
  //    emitted, so the drained sink holds exactly the real sessions.
  //  - the staged copy is written as ONE file: the AvailableNow drain
  //    then processes it as one deterministic micro-batch (the
  //    sessionizer itself is in-order-safe per micro-batch; cross-
  //    batch arrival order is the source's contract — a production
  //    deployment feeds it per-user-ordered partitions, e.g. Kafka
  //    keyed by user_id — and StreamingSpec covers multi-batch
  //    checkpoint-resume).
  //  - session_no is assigned AFTER draining by ranking each user's
  //    emitted sessions on start time — a deterministic rename, the
  //    sessionization itself all happened in streaming state.
  // ---------------------------------------------------------------
  private def streamSessionize(s: SparkSession, dir: String): DataFrame =
    streamSessionizeOn(s, dir, rocksDb = false)

  /** stream_sessionize_rocksdb — the SAME sessionizer pipeline and
    * the SAME oracle, with the state store swapped to the RocksDB
    * provider (+ changelog checkpointing): the at-scale backend
    * SURVEY §4 claims, now hash-gated instead of spec-only. A
    * provider that lost/duplicated state rows would move the session
    * set and fail the oracle; matching hashes prove backend-
    * independent state semantics. Provider is a session conf (no
    * per-query override in Spark), so it is scoped around the drain
    * with GraftSession.withConf.
    */
  private def streamSessionizeRocksDb(s: SparkSession, dir: String): DataFrame =
    streamSessionizeOn(s, dir, rocksDb = true)

  /** Staged sessionizer source — shared by stream_sessionize, its
    * RocksDB twin and stream_state_metrics (identical drains).
    */
  private[streaming] def sessSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "sess") { p =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), expr("ts DIV 1000000000").as("es"), col("user_id"),
          expr("CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE)").as("value"))
      val maxEs = ev.agg(max(col("es"))).head().getLong(0)
      val sentinels = ev.select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"), lit(maxEs + 3600L).as("es"), col("user_id"),
          lit(0.0).as("value"))
      ev.unionByName(sentinels)
        .select(col("event_id"), expr("timestamp_seconds(es)").as("ts"), col("user_id"),
          lit("e").as("event_type"), col("value"))
        .repartition(1) // single staged file = single AvailableNow micro-batch (see header)
        .write.mode("overwrite").parquet(p)
    }

  /** Stage + drain the sessionizer; returns the drained sessions and
    * the finished query (for state metrics).
    */
  private[streaming] def sessionizeDrain(s: SparkSession, dir: String,
      rocksDb: Boolean): (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    import s.implicits._
    val src = sessSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val sessions = EventStream.closedSessions(
      s.readStream.schema(schema).parquet(src).as[EventStream.Event])
    val state = if (rocksDb) EventStream.RocksDbState else Nil
    graft.GraftSession.withConf(s, state: _*) {
      EventStream.drain(sessions.toDF(), OutputMode.Append())
    }
  }

  private def streamSessionizeOn(s: SparkSession, dir: String,
      rocksDb: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (rows, _) = sessionizeDrain(s, dir, rocksDb)
    val w = Window.partitionBy("user_id").orderBy("session_start")
    rows
      .withColumn("session_no", row_number().over(w).cast("bigint"))
      .select(col("user_id"), col("session_no"), col("session_start"), col("session_end"),
        col("n_events"), (col("sum_value") / lit(100.0)).as("sum_value"))
      .orderBy("user_id", "session_no")
  }

  // ---------------------------------------------------------------
  // stream_state_metrics — STATE BOUNDEDNESS AS GATED DATA: the
  // number a production streaming job lives or dies by is its state
  // store's live row count (unbounded state = the job that OOMs or
  // fills SSD three weeks in — SURVEY §4's alerting claim). This op
  // drains the sessionizer and gates its
  // StreamingQueryProgress.stateOperators numbers against the batch
  // world: live state keys must equal live entities EXACTLY — one
  // open session per distinct user (the sentinel session each user
  // keeps after close-out) — in the data batch, at the end, and at
  // the MAX across every micro-batch (so a leak in ANY batch fails,
  // not just the last), with zero removals on this corpus.
  // memoryBytes is provider-dependent and deliberately excluded.
  // ---------------------------------------------------------------
  private def streamStateMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, q) = sessionizeDrain(s, dir, rocksDb = false)
    val m = EventStream.stateMetrics(q)
    require(m.nonEmpty, "drained query reported no state operators")
    val b0 = m.filter(_.batchId == 0L)
    val finalTotal = m.maxBy(_.batchId).rowsTotal
    val maxTotal = m.map(_.rowsTotal).max
    b0.map(x => (x.operator, x.rowsTotal, x.rowsUpdated, x.rowsRemoved,
        finalTotal, maxTotal))
      .toDF("operator", "rows_total_b0", "rows_updated_b0", "rows_removed_b0",
        "final_rows_total", "max_rows_total")
      .orderBy("operator")
  }

  private val streamStateMetricsSql =
    """SELECT 'flatMapGroupsWithState' AS operator,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS rows_total_b0,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS rows_updated_b0,
      |  CAST(0 AS BIGINT) AS rows_removed_b0,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS final_rows_total,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS max_rows_total
      |FROM events""".stripMargin

  private val streamSessionizeSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es, value FROM events),
      |f AS (SELECT *, CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
      |g AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no FROM f)
      |SELECT user_id, session_no, min(es) AS session_start, max(es) AS session_end,
      |  count(*) AS n_events,
      |  CAST(CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  // ---------------------------------------------------------------
  // stream_attribution — STREAM-STREAM interval join through the
  // DuckDB hash gate: purchases attributed to the same user's
  // signup(s) within [signup, signup + 1 h], via
  // EventStream.purchaseAttribution (watermarks on both sides + the
  // time-range predicate let Spark expire join state in a real
  // deployment; the gate drains one AvailableNow pass). Events are
  // staged at SECOND precision so the join boundary arithmetic is
  // exact integer work on both engines; no aggregation happens, so
  // the row set (incl. raw value doubles) is bit-deterministic.
  // ---------------------------------------------------------------
  private[streaming] def attrSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "attr") { p =>
      Tables.events(s, dir)
        // stage only the two event types the join touches — the same
        // predicate pushdown the production path gets from the source
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), expr("timestamp_seconds(ts DIV 1000000000)").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(p)
    }

  private def streamAttribution(s: SparkSession, dir: String): DataFrame = {
    val src = attrSrc(s, dir)
    val schema = s.read.parquet(src).schema
    def stream(eventType: String): DataFrame =
      s.readStream.schema(schema).parquet(src).filter(col("event_type") === eventType)
    val (rows, _) = EventStream.drain(
      EventStream.purchaseAttribution(stream("signup"), stream("purchase")), OutputMode.Append())
    rows
      .select(col("user_id"), col("purchase_id"),
        unix_timestamp(col("purchase_ts")).as("purchase_es"),
        unix_timestamp(col("signup_ts")).as("signup_es"),
        col("value"))
      .orderBy("user_id", "purchase_id", "signup_es")
  }

  // ---------------------------------------------------------------
  // stream_attribution_outer — STREAM-STREAM LEFT OUTER interval
  // join through the hash gate: the null-padded-unmatched-side
  // semantics stream_attribution's inner join cannot prove. An outer
  // result is WATERMARK-GATED output — Spark may only emit an
  // unmatched purchase once the signup watermark has passed its
  // match window — so the staging drives three mtime-ordered
  // micro-batches (the stream_watermark_late machinery):
  //  - batch 1: the real signup/purchase events (second precision);
  //  - batch 2: a far-future sentinel signup (max + 2 h, user -999 —
  //    matches nothing, and as a RIGHT-side row can never emit in a
  //    left outer join) that advances the watermark past every
  //    purchase's match window at batch end;
  //  - batch 3: a second sentinel, guaranteeing a batch RUNS with
  //    the advanced watermark applied, which is when the expired
  //    unmatched purchases flush as null-padded rows.
  // The gate compares the FULL outer row set (matched rows identical
  // to the inner gate; unmatched rows null-padded) against DuckDB's
  // batch LEFT JOIN; signup_es is coalesced to -1 on both engines
  // (integer compare, no cross-engine null-stringification risk) and
  // is_attributed carries the null test explicitly.
  // ---------------------------------------------------------------
  private[streaming] def attrOuterSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "attro") { p =>
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), expr("timestamp_seconds(ts DIV 1000000000)").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      // one sentinel row PER SIDE: the global watermark is the MIN of
      // both streams' watermarks (multipleWatermarkPolicy=min), so a
      // signup-only sentinel leaves the purchase watermark at its last
      // real row and the newest unmatched purchase never expires
      // (observed: exactly one row short). The sentinel purchase is a
      // LEFT-side row, so it could itself flush null-padded — the
      // user_id filter below drops sentinels from the gated output.
      def sentinel(id: Long, offsetSec: Long) = {
        val ts = lit(new java.sql.Timestamp(maxTs.getTime + offsetSec * 1000L))
        s.range(1).select(lit(id).as("event_id"), ts.as("ts"),
            lit(-999L).as("user_id"), lit("signup").as("event_type"), lit(0.0).as("value"))
          .unionByName(s.range(1).select(lit(id - 100L).as("event_id"), ts.as("ts"),
            lit(-999L).as("user_id"), lit("purchase").as("event_type"), lit(0.0).as("value")))
      }
      val t0 = System.currentTimeMillis() - 60000
      ev.repartition(1).write.mode("overwrite").parquet(p)
      var seen = stampNewFiles(p, Set.empty, t0)
      sentinel(-1L, 7200L).repartition(1).write.mode("append").parquet(p)
      seen = stampNewFiles(p, seen, t0 + 10000)
      // watermark advancement commits ONE PLANNING CYCLE after the
      // batch that observed the max event time (the watermark_late
      // lesson): without this middle sentinel the final batch still
      // evicts against the batch-1 watermark and the newest unmatched
      // purchase never flushes (observed: exactly one row short)
      sentinel(-2L, 7300L).repartition(1).write.mode("append").parquet(p)
      seen = stampNewFiles(p, seen, t0 + 20000)
      sentinel(-3L, 7400L).repartition(1).write.mode("append").parquet(p)
      stampNewFiles(p, seen, t0 + 30000)
    }

  private def streamAttributionOuter(s: SparkSession, dir: String): DataFrame = {
    val src = attrOuterSrc(s, dir)
    val schema = s.read.parquet(src).schema
    def stream(eventType: String): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .filter(col("event_type") === eventType)
    val (rows, _) = EventStream.drain(
      EventStream.purchaseAttributionOuter(stream("signup"), stream("purchase")),
      OutputMode.Append())
    rows
      .filter(col("user_id") =!= -999L)
      .select(col("user_id"), col("purchase_id"),
        unix_timestamp(col("purchase_ts")).as("purchase_es"),
        coalesce(unix_timestamp(col("signup_ts")), lit(-1L)).as("signup_es"),
        col("value"),
        when(col("signup_ts").isNull, 0).otherwise(1).cast("int").as("is_attributed"))
      .orderBy("user_id", "purchase_id", "signup_es")
  }

  private val streamAttributionOuterSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es, event_type, value FROM events),
      |s AS (SELECT user_id, es AS signup_es FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, event_id AS purchase_id, es AS purchase_es, value FROM e WHERE event_type = 'purchase')
      |SELECT p.user_id AS user_id, p.purchase_id, p.purchase_es,
      |  coalesce(s.signup_es, -1) AS signup_es, p.value,
      |  CAST(CASE WHEN s.signup_es IS NULL THEN 0 ELSE 1 END AS INT) AS is_attributed
      |FROM p LEFT JOIN s ON p.user_id = s.user_id
      |  AND p.purchase_es >= s.signup_es AND p.purchase_es <= s.signup_es + 3600
      |ORDER BY p.user_id, purchase_id, signup_es""".stripMargin

  private val streamAttributionSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es, event_type, value FROM events),
      |s AS (SELECT user_id, es AS signup_es FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, event_id AS purchase_id, es AS purchase_es, value FROM e WHERE event_type = 'purchase')
      |SELECT p.user_id AS user_id, p.purchase_id, p.purchase_es, s.signup_es, p.value
      |FROM p JOIN s ON p.user_id = s.user_id
      |  AND p.purchase_es >= s.signup_es AND p.purchase_es <= s.signup_es + 3600
      |ORDER BY p.user_id, purchase_id, signup_es""".stripMargin

  // ---------------------------------------------------------------
  // stream_dedup — watermark-bounded streaming deduplication
  // (dropDuplicatesWithinWatermark, EventStream.dedupedEvents)
  // through the DuckDB hash gate: the staged source holds every event
  // TWICE (a replayed landing zone — the at-least-once delivery every
  // real ingest has), the stream collapses replays inside the
  // watermark horizon with BOUNDED state, and the drained result must
  // hash-match the events table read once. Replays land in one staged
  // file (one AvailableNow micro-batch), so the collapse is exact;
  // raw value doubles pass through untouched — no aggregation, no FP
  // hazard.
  // ---------------------------------------------------------------
  private[streaming] def dedupSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "dedup") { p =>
      val once = Tables.events(s, dir)
        .select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      once.unionAll(once)
        .repartition(1) // single staged file = single micro-batch (see header)
        .write.mode("overwrite").parquet(p)
    }

  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val src = dedupSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val (rows, _) = EventStream.drain(
      EventStream.dedupedEvents(s.readStream.schema(schema).parquet(src)), OutputMode.Append())
    rows
      .select(col("event_id"), unix_timestamp(col("ts")).as("es"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  private val streamDedupSql =
    """SELECT event_id, epoch_ns(ts)//1000000000 AS es, user_id, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // stream_hll — SKETCH MAINTENANCE AS STREAMING STATE through the
  // DuckDB hash gate: the HLL registers ev_hll_distinct builds in
  // one batch pass are here maintained incrementally by a streaming
  // aggregation (groupBy(event_type, idx).max(rho) — max is
  // order-insensitive and monotone, so Complete-mode state IS the
  // sketch, bounded at types × 64 rows regardless of stream length:
  // the real-time distinct-count dashboard pattern). The drained
  // registers finalize through the SAME integer-exact estimator as
  // the batch op (EventOps.hllFinalize), so the streamed sketch must
  // hash-match the batch oracle bit-for-bit.
  // ---------------------------------------------------------------
  private[streaming] def hllSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "hll") { p =>
      Tables.events(s, dir)
        .select(expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("event_type"), col("user_id"))
        .write.mode("overwrite").parquet(p)
    }

  private def streamHll(s: SparkSession, dir: String): DataFrame = {
    val src = hllSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val (reg, _) = EventStream.drain(
      graft.queries.EventOps.hllRegisters(s.readStream.schema(schema).parquet(src)),
      OutputMode.Complete())
    graft.queries.EventOps.hllFinalize(reg, Tables.events(s, dir))
  }

  // ---------------------------------------------------------------
  // stream_f2 — the AMS second-moment sketch (ev_f2_skew_sketch) as
  // STREAMING STATE: stream_hll proves max-reduced registers stream;
  // this proves the other merge algebra — SUM-reduced counters. The
  // per-type Z vector is 16 plain sums, so a Complete-mode streaming
  // aggregation maintains the sketch bounded at |types| rows no
  // matter how long the stream runs (each micro-batch's partials ADD
  // into state — the "counters add across shards" claim executed by
  // the streaming runtime, not just asserted). Drained state
  // finalizes through the SAME median-of-means + exact-audit path as
  // the batch op, so the streamed sketch must hash-match the batch
  // DuckDB oracle bit-for-bit.
  // ---------------------------------------------------------------
  private[streaming] def f2Src(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "f2") { p =>
      Tables.events(s, dir).select(col("event_type"), col("user_id"))
        .write.mode("overwrite").parquet(p)
    }

  private def streamF2(s: SparkSession, dir: String): DataFrame = {
    val src = f2Src(s, dir)
    val schema = s.read.parquet(src).schema
    val (z, _) = EventStream.drain(
      graft.queries.EventOps3.f2Counters(s.readStream.schema(schema).parquet(src)),
      OutputMode.Complete())
    graft.queries.EventOps3.f2Finalize(z,
      Tables.events(s, dir).select(col("event_type"), col("user_id")))
  }

  // ---------------------------------------------------------------
  // stream_session_window — the DECLARATIVE streaming sessionizer:
  // Spark's built-in session_window() operator (gap-merged event-time
  // windows, watermark-expired state) through the DuckDB hash gate,
  // against the SAME batch-sessionize oracle the imperative
  // flatMapGroupsWithState gate (stream_sessionize) matches — the two
  // ends of the streaming-sessionization API proven equivalent on the
  // same corpus. Gate mechanics:
  //  - session_window merges INCLUSIVELY (next session joins when its
  //    start <= previous start + gap — verified against the corpus's
  //    one exactly-1800/1801 s boundary pair), so gap = 1800 s
  //    reproduces the batch rule "new session iff diff > 1800"
  //    exactly.
  //  - Append mode only emits a session once the GLOBAL watermark
  //    passes its close; one sentinel row (user_id = −1) far past the
  //    corpus advances the watermark over every real session's end,
  //    and the sentinel's own never-closed window stays in state —
  //    the same trailing-flush move as stream_sessionize's per-user
  //    sentinels, but one row instead of one per user because
  //    session_window emission is watermark-driven (global), not
  //    keyed-arrival-driven.
  //  - session_end is max(ts) INSIDE the window (the batch
  //    semantics), not window.end (which is last event + gap).
  // ---------------------------------------------------------------
  private[streaming] def sessionWindowSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "sw") { p =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), expr("ts DIV 1000000000").as("es"),
          col("user_id"), col("value"))
      val maxEs = ev.agg(max(col("es"))).head().getLong(0)
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"), lit(maxEs + 7200L).as("es"),
        lit(-1L).as("user_id"), lit(0.0).as("value"))
      ev.unionByName(sentinel)
        .select(col("event_id"), expr("timestamp_seconds(es)").as("ts"),
          col("user_id"), col("value"))
        .repartition(1) // single staged file = single data micro-batch
        .write.mode("overwrite").parquet(p)
    }

  private def streamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = sessionWindowSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val agg = s.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "1800 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("max_ts"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
    val (rows, _) = EventStream.drain(agg, OutputMode.Append())
    val w = Window.partitionBy("user_id").orderBy("session_start")
    rows
      .filter(col("user_id") >= 0)
      .withColumn("session_start", unix_timestamp(col("session_window.start")))
      .withColumn("session_no", row_number().over(w).cast("bigint"))
      .select(col("user_id"), col("session_no"), col("session_start"),
        unix_timestamp(col("max_ts")).as("session_end"), col("n_events"),
        col("sum_dec").cast("decimal(28,4)").cast("double").as("sum_value"))
      .orderBy("user_id", "session_no")
  }

  // ---------------------------------------------------------------
  // stream_file_sink — the PRODUCTION sink path through the hash
  // gate: every other streaming op drains to a memory sink (fine for
  // a bounded gate, useless in production); this one writes a real
  // parquet FileStreamSink with its `_spark_metadata` transaction
  // log — the exactly-once mechanism a deployment relies on — and
  // proves RESTART IDEMPOTENCE by running a SECOND AvailableNow
  // drain against the same checkpoint (no new data → no new files →
  // the batch read-back, which honors the sink's commit log and
  // ignores uncommitted stray files, still hash-matches the source
  // exactly once). No aggregation, no watermark games: the
  // transactional sink is the capability under test.
  // ---------------------------------------------------------------
  /** Staged full-event copy — shared by stream_file_sink and
    * stream_enrich (identical projection, no choreography).
    */
  private[streaming] def evFullSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "evfull") { p =>
      Tables.events(s, dir)
        .select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(p)
    }

  private def streamFileSink(s: SparkSession, dir: String): DataFrame = {
    val src = evFullSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val out = graft.sources.SourceOps.tmpDir("graft_stream_fsink_out")
    EventStream.withCheckpoint { ckpt =>
      def run() = EventStream.awaitAvailableNow(
        s.readStream.schema(schema).parquet(src).writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt))
      run()
      run() // restart against the same checkpoint: must be a no-op
    }
    s.read.parquet(out)
      .select(col("event_id"), unix_timestamp(col("ts")).as("es"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  private val streamFileSinkSql =
    """SELECT event_id, epoch_ns(ts)//1000000000 AS es, user_id, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // stream_upsert — the foreachBatch KEYED-UPSERT sink (the CDC MERGE
  // pattern: every micro-batch merges into a keyed target table —
  // what a deployment does with Delta/Iceberg MERGE; here the target
  // is a versioned parquet dir swapped per batch, the same
  // read-merge-rewrite a warehouse without a transactional format
  // ships). The stream is throttled to one staged file per trigger
  // (maxFilesPerTrigger=1 over 4 staged files), so AvailableNow
  // really drives FOUR sequential merges — cross-batch incremental
  // state lives in the target files, not in stream state. The merge
  // is ASSOCIATIVE by construction (per-key counts ADD; latest-row
  // wins by max(struct(es, event_id)), a total order independent of
  // arrival batch), so how the source slices into micro-batches
  // cannot move the result — which is exactly why it can face the
  // batch DuckDB oracle. At 100 TB the rewrite step becomes dynamic
  // partition overwrite on key buckets (only touched buckets
  // rewrite); the merge algebra is unchanged.
  // ---------------------------------------------------------------
  private[streaming] def upsertSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "upsert") { p =>
      Tables.events(s, dir)
        .select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(4) // 4 staged files × maxFilesPerTrigger=1 = 4 real merge batches
        .write.mode("overwrite").parquet(p)
    }

  private def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val src = upsertSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val target = graft.sources.SourceOps.tmpDir("graft_stream_upsert_tgt")
    // versions are keyed on the MICRO-BATCH ID, not a local counter:
    // foreachBatch re-executes a batch after a mid-stream failure,
    // and a replay of batch N must re-derive v(N+1) from the same
    // v(N) (idempotent overwrite) rather than double-apply the merge
    // — the exactly-once discipline a transactional MERGE sink gets
    // from (table version, batchId) bookkeeping.
    val lastVer = new java.util.concurrent.atomic.AtomicLong(0L)
    def agg(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(sum(col("n_events")).as("n_events"), max(col("last")).as("last"))
    val writer = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val batchAgg = batch.select(col("user_id"), lit(1L).as("n_events"),
          struct(expr("unix_timestamp(ts)").as("es"), col("event_id"),
            col("event_type"), col("value")).as("last"))
        val merged =
          if (batchId == 0) agg(batchAgg)
          else agg(batchAgg.unionByName(
            s.read.parquet(s"$target/v$batchId").select("user_id", "n_events", "last")))
        merged.write.mode("overwrite").parquet(s"$target/v${batchId + 1}")
        lastVer.set(batchId + 1)
        ()
      }
    // the four foreachBatch merges each shuffle a |users|-sized
    // aggregate — 8 partitions, not the session's 32 (no stream
    // state here, but the per-merge shuffle constants are the same
    // bill). stream_file_sink stays unscoped: it is stateless with no
    // shuffle (pass-through sink), so the override would have nothing
    // to act on.
    EventStream.withCheckpoint { ckpt =>
      graft.GraftSession.withConf(s, EventStream.DrainPartitions) {
        EventStream.awaitAvailableNow(writer.option("checkpointLocation", ckpt))
      }
    }
    require(lastVer.get() >= 4, s"expected >=4 merge batches, saw ${lastVer.get()}")
    s.read.parquet(s"$target/v${lastVer.get()}")
      .select(col("user_id"), col("n_events"),
        col("last.es").as("last_es"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"), col("last.value").as("last_value"))
      .orderBy("user_id")
  }

  private val streamUpsertSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es, event_type, value FROM events),
      |r AS (SELECT user_id, es, event_id, event_type, value,
      |        count(*) OVER (PARTITION BY user_id) AS n_events,
      |        row_number() OVER (PARTITION BY user_id ORDER BY es DESC, event_id DESC) AS rn
      |      FROM e)
      |SELECT user_id, n_events, es AS last_es, event_id AS last_event_id,
      |  event_type AS last_event_type, value AS last_value
      |FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // stream_enrich — the STREAM-STATIC broadcast join through the hash
  // gate (the one streaming join class the other gates don't cover:
  // attribution is stream-stream, upsert is foreachBatch). Every
  // micro-batch hash-joins against a static dimension snapshot —
  // stateless (no watermark, no join state), which is exactly why a
  // deployment prefers it for slowly-changing enrichment: the dim
  // broadcast re-resolves per batch, state stores never grow. Nulls
  // from the left join coalesce to 'UNKNOWN' (the inferred-member
  // move, etl_late_arriving) so the drained row set is deterministic.
  // ---------------------------------------------------------------
  private def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val src = evFullSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"), col("c_nationkey"))
    val (rows, _) = EventStream.drain(
      s.readStream.schema(schema).parquet(src).join(broadcast(dim), Seq("user_id"), "left"),
      OutputMode.Append())
    rows
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        coalesce(col("segment"), lit("UNKNOWN")).as("segment"),
        coalesce(col("c_nationkey"), lit(-1L)).as("nation_key"))
      .orderBy("event_id")
  }

  private val streamEnrichSql =
    """SELECT e.event_id, e.user_id, e.event_type, e.value,
      |  coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
      |  CAST(coalesce(c.c_nationkey, -1) AS BIGINT) AS nation_key
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------
  // stream_watermark_late — BOUNDED-LATENESS SEMANTICS through the
  // hash gate: the one watermark behavior no other gate pins down —
  // that data arriving BEYOND the watermark is DROPPED, with bounded
  // state, instead of corrupting finalized windows. Mechanics:
  //  - batch 1 (first staged file, older mtime; maxFilesPerTrigger=1
  //    keeps the files in separate micro-batches, ordered by mtime):
  //    every real event at second precision PLUS one far-future
  //    sentinel row — at batch end the watermark advances past every
  //    real window's close, so Append mode finalizes and emits them
  //    all in the next trigger;
  //  - batch 2 (second file): a full REPLAY of the corpus with
  //    shifted event ids — every row now beyond the watermark. If
  //    late-drop works, none of it lands; if it leaked, counts
  //    double and the hash gate fails. The oracle is the plain
  //    batch aggregate of the ON-TIME rows only.
  // ---------------------------------------------------------------
  private[streaming] def lateSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "late") { p =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), expr("timestamp_seconds(ts DIV 1000000000)").as("ts"),
          col("event_type"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = s.range(1).select(lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 7200 * 1000L)).as("ts"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"))
      val t0 = System.currentTimeMillis() - 60000
      ev.unionByName(sentinel).repartition(1).write.mode("overwrite").parquet(p)
      var seen = stampNewFiles(p, Set.empty, t0)
      // middle batch: watermark advancement COMMITS one planning cycle
      // after the batch that observed the max event time — a batch must
      // pass between the sentinel and the replay, or the replay is
      // filtered against the still-initial watermark (measured: without
      // this, every late row merges into live state and counts double)
      s.range(1).select(lit(-2L).as("event_id"),
          lit(new java.sql.Timestamp(maxTs.getTime + 7300 * 1000L)).as("ts"),
          lit("sentinel").as("event_type"), lit(0.0).as("value"))
        .repartition(1).write.mode("append").parquet(p)
      seen = stampNewFiles(p, seen, t0 + 10000)
      ev.select((col("event_id") + 1000000000L).as("event_id"), col("ts"),
          col("event_type"), col("value"))
        .repartition(1).write.mode("append").parquet(p)
      stampNewFiles(p, seen, t0 + 20000)
    }

  private def streamWatermarkLate(s: SparkSession, dir: String): DataFrame = {
    val src = lateSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val agg = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
    val (rows, _) = EventStream.drain(agg, OutputMode.Append())
    rows
      .filter(col("event_type") =!= "sentinel")
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"),
        col("sum_dec").cast("decimal(28,4)").cast("double").as("sum_value"))
      .orderBy("hour_epoch", "event_type")
  }

  private val streamWatermarkLateSql = streamTumblingSql

  // ---------------------------------------------------------------
  // stream_velocity — 12th streaming gate: the per-user trailing-60 s
  // velocity rule (ev_velocity_burst's real-time form — fraud/abuse
  // rules fire while the burst is HAPPENING, which is the whole point
  // of the rule) as flatMapGroupsWithState with a BOUNDED-DEQUE state
  // (only timestamps within 60 s of the newest survive — state is the
  // burst size, never the user's history; the sessionize gate's state
  // is one open aggregate, so this proves a different state shape).
  // A per-user sentinel flushes the final peak, exactly the
  // stream_sessionize trailing-flush move; counts are integers, so
  // the drained rows hash-match the batch RANGE-frame oracle with no
  // float caveats.
  // ---------------------------------------------------------------
  private[streaming] def velocitySrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "vel") { p =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), expr("ts DIV 1000000000").as("es"), col("user_id"))
      val maxEs = ev.agg(max(col("es"))).head().getLong(0)
      val sentinels = ev.select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"), lit(maxEs + 3600L).as("es"), col("user_id"))
      ev.unionByName(sentinels)
        .select(col("event_id"), expr("timestamp_seconds(es)").as("ts"), col("user_id"),
          lit("e").as("event_type"), lit(0.0).as("value"))
        .repartition(1) // single staged file = single AvailableNow micro-batch
        .write.mode("overwrite").parquet(p)
    }

  private def streamVelocity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = velocitySrc(s, dir)
    val schema = s.read.parquet(src).schema
    val (rows, _) = EventStream.drain(
      EventStream.peakVelocity(s.readStream.schema(schema).parquet(src).as[EventStream.Event]).toDF(),
      OutputMode.Append())
    rows
      .select(col("user_id"), col("peak_burst"))
      .orderBy("user_id")
  }

  private val streamVelocitySql =
    """WITH t AS (
      |  SELECT user_id,
      |    count(*) OVER (
      |      PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000000000
      |      RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS trail_n
      |  FROM events)
      |SELECT user_id, CAST(max(trail_n) AS BIGINT) AS peak_burst
      |FROM t
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Every staged-source builder, for StreamStage.stageAllTimed
    * (Bench's timed stream staging phase). Keys = shape names.
    */
  private[streaming] val stagers: Seq[(String, (SparkSession, String) => String)] = Seq(
    "ev3" -> (ev3Src _),
    "2p" -> (twoPhaseSrc _),
    "sess" -> (sessSrc _),
    "attr" -> (attrSrc _),
    "attro" -> (attrOuterSrc _),
    "dedup" -> (dedupSrc _),
    "hll" -> (hllSrc _),
    "f2" -> (f2Src _),
    "sw" -> (sessionWindowSrc _),
    "evfull" -> (evFullSrc _),
    "upsert" -> (upsertSrc _),
    "late" -> (lateSrc _),
    "vel" -> (velocitySrc _))

  val ops: Seq[Op] = Seq(
    Op("stream_velocity", streamVelocity, Some(streamVelocitySql)),
    Op("stream_watermark_late", streamWatermarkLate, Some(streamWatermarkLateSql)),
    Op("stream_enrich", streamEnrich, Some(streamEnrichSql)),
    Op("stream_upsert", streamUpsert, Some(streamUpsertSql)),
    Op("stream_file_sink", streamFileSink, Some(streamFileSinkSql)),
    Op("stream_session_window", streamSessionWindow,
      Some(graft.queries.EventOps.sessionizeSql)),
    Op("stream_hll", streamHll, Some(graft.queries.EventOps.hllDistinctSql)),
    Op("stream_f2", streamF2, Some(graft.queries.EventOps3.f2SkewSketchSql)),
    Op("stream_tumbling", streamTumbling, Some(streamTumblingSql)),
    Op("stream_two_phase_agg", streamTwoPhase, Some(streamTwoPhaseSql)),
    Op("stream_sliding", streamSliding, Some(streamSlidingSql)),
    Op("stream_sessionize", streamSessionize, Some(streamSessionizeSql)),
    Op("stream_sessionize_rocksdb", streamSessionizeRocksDb, Some(streamSessionizeSql)),
    Op("stream_state_metrics", streamStateMetrics, Some(streamStateMetricsSql)),
    Op("stream_attribution", streamAttribution, Some(streamAttributionSql)),
    Op("stream_attribution_outer", streamAttributionOuter, Some(streamAttributionOuterSql)),
    Op("stream_dedup", streamDedup, Some(streamDedupSql)))
}
