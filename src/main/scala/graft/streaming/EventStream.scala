package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Structured Streaming pipelines over event streams — the streaming
  * counterpart of graft.queries.EventOps (the reference schedules
  * HOURLY/REALTIME refreshes in DW_Table_Config; this is the
  * REALTIME path done Spark-natively: readStream → watermark →
  * windowed agg / stateful sessionization → writeStream).
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionAgg(user_id: Long, n_events: Long, sum_value: Double,
      first_es: Long, last_es: Long)

  /** Tumbling 1-hour event-time windows with a 10-minute watermark:
    * late data beyond the watermark is dropped, state is bounded.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Stateful per-user running session aggregate via
    * mapGroupsWithState (Update mode): the custom-state API the
    * reference's REALTIME refresh would need for sessionization.
    */
  def runningUserAgg(events: Dataset[Event]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionAgg]) =>
          val events = batch.toSeq
          val prev = state.getOption.getOrElse(SessionAgg(userId, 0L, 0.0, Long.MaxValue, Long.MinValue))
          val es = events.map(_.ts.getTime / 1000)
          val next = SessionAgg(
            userId,
            prev.n_events + events.size,
            prev.sum_value + events.map(_.value).sum,
            math.min(prev.first_es, if (es.isEmpty) Long.MaxValue else es.min),
            math.max(prev.last_es, if (es.isEmpty) Long.MinValue else es.max))
          state.update(next)
          next
      }
  }

  final case class OpenSession(user_id: Long, start_es: Long, last_es: Long,
      n_events: Long, sum_value: Double)
  final case class ClosedSession(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, sum_value: Double)

  /** Gap-based sessionizer via flatMapGroupsWithState (Append): a
    * >30-minute silence closes the session; closed sessions are
    * EMITTED, the trailing open session stays in state for the next
    * micro-batch. The streaming counterpart of EventOps.ev_sessionize.
    */
  def closedSessions(events: Dataset[Event]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val GapSeconds = 1800L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var open = state.getOption
          val closed = Seq.newBuilder[ClosedSession]
          for (e <- sorted) {
            val es = e.ts.getTime / 1000
            open = open match {
              case Some(s) if es - s.last_es > GapSeconds =>
                closed += ClosedSession(userId, s.start_es, s.last_es, s.n_events, s.sum_value)
                Some(OpenSession(userId, es, es, 1L, e.value))
              case Some(s) =>
                Some(s.copy(last_es = es, n_events = s.n_events + 1, sum_value = s.sum_value + e.value))
              case None =>
                Some(OpenSession(userId, es, es, 1L, e.value))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  final case class VelocityState(recent_es: List[Long], peak: Long)
  final case class UserPeak(user_id: Long, peak_burst: Long)

  /** Streaming per-user peak velocity via flatMapGroupsWithState
    * (Append): the real-time form of the velocity fraud rule
    * (EventOps3.ev_velocity_burst) — for each event, the count of the
    * same user's events in the trailing 60 s; the per-user MAX is
    * emitted when the user's sentinel (event_id = -1) arrives. State
    * is a BOUNDED deque: only timestamps within 60 s of the newest
    * event survive, so the footprint is the user's peak burst size,
    * never their history.
    *
    * Trailing-count semantics match the batch op's RANGE frame
    * exactly: every peer group (equal es) shares one frame
    * [es − 60, es], the sequential count at a group's LAST member
    * equals that frame's count, and earlier members' partial counts
    * are strictly smaller — so max(sequential) = max(RANGE).
    */
  def peakVelocity(events: Dataset[Event]): Dataset[UserPeak] = {
    import events.sparkSession.implicits._
    val WindowSeconds = 60L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[VelocityState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(VelocityState(Nil, 0L))
          val out = Seq.newBuilder[UserPeak]
          for (e <- sorted) {
            val es = e.ts.getTime / 1000
            if (e.event_id == -1L) {
              out += UserPeak(userId, st.peak)
            } else {
              val kept = (st.recent_es :+ es).dropWhile(_ < es - WindowSeconds)
              st = VelocityState(kept, math.max(st.peak, kept.length.toLong))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Sliding windows (1 hour every 15 minutes): each event lands in 4
    * overlapping windows; same watermark bound.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast per micro-batch; no state).
    */
  def enriched(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Watermark-bounded ingestion dedup: duplicate event ids arriving
    * within the watermark horizon collapse to one row, and the dedup
    * state is dropped once the watermark passes — the streaming
    * counterpart of the batch replay-collapse (Merger.dedupLatest)
    * with BOUNDED state, unlike a plain dropDuplicates which would
    * keep every id forever.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase attributed to the
    * same user's signup when it lands within [signup, signup + 1 h].
    * Watermarks on BOTH sides + the time-range predicate let Spark
    * expire join state (a signup older than watermark + 1 h can never
    * match again and is evicted).
    */
  def purchaseAttribution(signups: DataFrame, purchases: DataFrame): DataFrame = {
    val s = signups
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(s,
      col("user_id") === col("s_user_id") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "purchase_id", "purchase_ts", "signup_ts", "value")
  }

  /** LEFT OUTER variant of [[purchaseAttribution]]: every purchase
    * emits — matched rows carry their signup(s), unmatched rows are
    * NULL-padded once the watermark proves no in-window signup can
    * still arrive. The outer row is watermark-GATED output (Spark
    * holds the unmatched purchase in state until the signup side's
    * watermark passes its match window), which is exactly the
    * semantics the inner-join gate cannot prove.
    */
  def purchaseAttributionOuter(signups: DataFrame, purchases: DataFrame): DataFrame = {
    val s = signups
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(s,
      col("user_id") === col("s_user_id") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select("user_id", "purchase_id", "purchase_ts", "signup_ts", "value")
  }

  /** Wire a streaming DataFrame to an in-memory sink (used by specs
    * and local smoke; production would use a parquet/Kafka sink).
    */
  def startMemorySink(df: DataFrame, name: String, outputMode: OutputMode): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()

  /** RocksDB state store provider class — the at-scale state backend:
    * the default HDFS-backed provider keeps every key of every
    * stateful operator on the executor HEAP (an OOM funnel once
    * sessionization / dedup state reaches tens of GB per executor),
    * where RocksDB spills state to local SSD with bounded memory and
    * incremental-checkpoints changed files only.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Session confs selecting [[RocksDbProvider]] with changelog
    * checkpointing (checkpoint deltas instead of full SST uploads per
    * batch). The provider is a session conf by design — Spark has no
    * per-query override — so stateful callers scope it with
    * `GraftSession.withConf(spark, RocksDbState: _*)`.
    */
  val RocksDbState: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Run a streaming query with Trigger.AvailableNow against a real
    * checkpoint: process EVERYTHING currently in the source across as
    * many micro-batches as needed, then stop — the scheduled-backfill
    * trigger (the Spark-native form of the reference DAG's EOD batch
    * over a REALTIME-configured table; rerunning resumes from the
    * checkpoint exactly-once). Blocks until the query drains.
    */
  def runAvailableNow(df: DataFrame, name: String, outputMode: OutputMode,
      checkpointDir: String): StreamingQuery =
    awaitAvailableNow(df.writeStream
      .format("memory").queryName(name).outputMode(outputMode)
      .option("checkpointLocation", checkpointDir))

  /** Start `writer` with Trigger.AvailableNow and block until it has
    * drained — the one trigger-and-await body every drain shares,
    * whatever its sink (memory, parquet, foreachBatch).
    */
  private[graft] def awaitAvailableNow(writer: DataStreamWriter[_]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Run `body` against a fresh checkpoint dir, with
    * [[DrainCheckpointManager]] scoped around it, and delete the dir
    * when `body` returns or throws. A drain's checkpoint is dead once
    * the query has terminated; keeping it until JVM exit only piles up
    * temp files per run. Start the drain's query inside `body`: the
    * manager conf is read when the query and its state stores open.
    */
  private[graft] def withCheckpoint[T](s: SparkSession)(body: String => T): T = {
    val ckpt = graft.sources.SourceOps.tmpDir("graft_stream_ckpt")
    try graft.GraftSession.withConf(s, DrainCheckpointManager)(body(ckpt))
    finally graft.ops.Dedup.deleteDirQuietly(ckpt)
  }

  /** Checkpoint file manager for drain checkpoints, which are always
    * local temp dirs ([[withCheckpoint]]); the production `*From`
    * entry points and user checkpoints keep Spark's default manager.
    * The default, `FileContextBasedCheckpointFileManager`, asks
    * `getFileLinkStatus` for the source, the destination and their
    * `.crc` sidecars on every rename-with-overwrite; without
    * libhadoop, Hadoop's local FS forks a `readlink` process for each
    * ask. `FileSystemBasedCheckpointFileManager` renames with
    * `FileSystem.rename` — on the local FS an atomic rename(2), no
    * `readlink` — and still writes Hadoop's `.crc` sidecars; Spark's
    * checkpoint checksum still wraps it. Counted with
    * `tools/count_shellouts.sh`, the default manager forked 176
    * `readlink`s in a stateful drain over 8 state partitions. The
    * session's `file:` system no longer forks
    * ([[graft.sources.ForkFreeLocalFileSystem]]), yet this manager
    * stays: the default one goes through `FileContext`, whose local
    * `RawLocalFs` constructs Hadoop's stock `RawLocalFileSystem`
    * itself, so `fs.file.impl` never reaches it.
    */
  private[graft] val DrainCheckpointManager =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileSystemBasedCheckpointFileManager].getName

  /** The shuffle (= state-store) partition scope of a drain over
    * `source`, sized from its input: `spark.sql.shuffle.partitions` set
    * to [[graft.ops.Rounds.partitionsFor]] of the source's bytes
    * ([[sourceBytes]]), at most the session's own count. A stream
    * fixes its state partitioning at the first batch, so AQE cannot
    * coalesce it later; every stateful batch opens one store per
    * partition and operator and writes a delta and its `.crc` for
    * each. A sf0.01 source (well under one 64 MB advisory size) drains
    * on one partition instead of a fixed 8. A source that is not a file
    * source has no size and keeps the session's count (the cap). The
    * conf is read at stream start.
    */
  private[streaming] def partitionScope(source: DataFrame): (String, String) =
    SQLConf.SHUFFLE_PARTITIONS.key -> graft.ops.Rounds.partitionsFor(
      source.sparkSession, sourceBytes(source).getOrElse(Long.MaxValue)).toString

  /** The byte total under `df`'s streaming sources, listed through the
    * Hadoop `FileSystem` — or `None` unless every streaming leaf of the
    * plan is a file source (`StreamingRelation` over a `FileFormat`).
    */
  private[streaming] def sourceBytes(df: DataFrame): Option[Long] = {
    val leaves = df.queryExecution.analyzed.collectLeaves().filter(_.isStreaming)
    val files = leaves.collect {
      case r: StreamingRelation if classOf[FileFormat].isAssignableFrom(r.dataSource.providingClass) =>
        r.dataSource
    }
    if (leaves.isEmpty || files.size < leaves.size) None
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val paths = files.flatMap { ds =>
        ds.paths ++ ds.options.collect { case (k, v) if k.equalsIgnoreCase("path") => v }
      }.distinct
      Some(paths.map { path =>
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        Option(fs.globStatus(p)).toSeq.flatten.map(st => fs.getContentSummary(st.getPath).getLength).sum
      }.sum)
    }
  }

  private val drainCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain `df` once: AvailableNow into a memory sink under a unique
    * query name and a fresh checkpoint ([[withCheckpoint]]), with
    * shuffle partitions sized from the source ([[partitionScope]]). Returns the
    * drained rows and the finished query (its `recentProgress` stays
    * readable). The rows are resolved before the sink's temp view is
    * dropped and the checkpoint deleted, so a drain leaves nothing in
    * the catalog or under the temp dir.
    */
  def drain(df: DataFrame, mode: OutputMode): (DataFrame, StreamingQuery) = {
    val s = df.sparkSession
    val name = s"graft_stream_drain_${drainCounter.incrementAndGet()}"
    withCheckpoint(s) { ckpt =>
      try {
        val q = graft.GraftSession.withConf(s, partitionScope(df)) {
          runAvailableNow(df, name, mode, ckpt)
        }
        (s.table(name), q)
      } finally s.catalog.dropTempView(name)
    }
  }

  /** One stateful operator's state-store footprint in one micro-batch
    * (from StreamingQueryProgress.stateOperators) — the numbers a
    * production pipeline alerts on: `rowsTotal` is live state keys
    * (must stay bounded by live entities, or the job eventually
    * OOMs/fills SSD), `memoryBytes` is the provider's reported
    * resident state (RocksDB: memtable + pinned blocks).
    */
  final case class StateOpMetrics(operator: String, batchId: Long,
      rowsTotal: Long, rowsUpdated: Long, rowsRemoved: Long, memoryBytes: Long)

  /** State-store metrics for every micro-batch the query has run
    * (recentProgress is retained after stop — callable on a drained
    * AvailableNow query). One row per (batch, stateful operator).
    */
  def stateMetrics(q: StreamingQuery): Seq[StateOpMetrics] =
    q.recentProgress.toSeq.flatMap { p =>
      p.stateOperators.toSeq.map { so =>
        StateOpMetrics(so.operatorName, p.batchId, so.numRowsTotal,
          so.numRowsUpdated, so.numRowsRemoved, so.memoryUsedBytes)
      }
    }
}
