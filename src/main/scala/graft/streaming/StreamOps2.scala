package graft.streaming

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming heavy hitters: a bounded-memory space-saving leaderboard
  * per event-time hour, the canonical "top talkers per window" stream
  * job (abuse dashboards, hot-key monitors). The state is a
  * fixed-capacity counter table — the Metwally/Agrawal/El Abbadi
  * SpaceSaving sketch — so per-window memory is O(capacity) no matter
  * how many distinct users an hour sees. At gate cardinality
  * (capacity ≥ distinct users/hour) the sketch NEVER evicts and is
  * provably exact, which is what lets a sketch pass a hash gate — and
  * the op ASSERTS that precondition after the run (any is_exact=0 row
  * fails loudly) so a bigger gate corpus can never silently turn the
  * exact oracle into an apples-to-oranges hash mismatch. At 100 TB
  * cardinality the sketch degrades to its classic ε = 1/C count-error
  * guarantee; that eviction path is driven through the SAME streaming
  * pipeline by HeavyHittersSpec at a reduced capacity (2).
  */
object StreamOps2 {

  // sized to the gate corpora with headroom (sf0.1 busiest hour: 166
  // distinct users; the 10× scale corpus: 1660 — the exactness guard
  // in guardedHeavyHitters turns an undersized capacity into a loud
  // error, which is how 256 was caught at sf1), while staying a
  // BOUNDED per-window state no matter the true cardinality
  private[graft] val Capacity = 4096
  private val TopK = 3

  /** SpaceSaving state for one hour window: parallel user/count
    * arrays (≤ capacity entries) + whether any eviction happened
    * (⇒ counts are upper bounds, not exact).
    */
  final case class HHState(users: Array[Long], counts: Array[Long], evicted: Boolean)

  final case class HourRow(hour: Long, user_id: Long)
  final case class HHOut(hour_epoch: Long, rk: Int, user_id: Long,
      n_events: Long, is_exact: Int)

  /** Feed one batch of user ids into the SpaceSaving counter table.
    * Pure (returns fresh state), order-independent while no eviction
    * occurs, and exposed so the spec can assert TOTAL MASS
    * CONSERVATION over the FULL table — sum(counts) equals the number
    * of ingested events on every path, because an eviction reassigns
    * the min slot's mass rather than dropping it. The top-k output
    * alone cannot prove that invariant.
    */
  private[graft] def sketchIngest(st: HHState, ids: Iterator[Long],
      capacity: Int): HHState = {
    val users = scala.collection.mutable.ArrayBuffer(st.users.toSeq: _*)
    val counts = scala.collection.mutable.ArrayBuffer(st.counts.toSeq: _*)
    // hash index makes the hot path O(1) per arrival (a linear
    // indexOf scan is O(capacity) per event — measurable once
    // capacity reaches thousands); eviction's min-slot scan stays
    // O(capacity) but only runs on the over-cardinality path (a
    // production sketch would pair the map with a min-heap)
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    users.indices.foreach(i => idx(users(i)) = i)
    var evicted = st.evicted
    for (u <- ids) {
      idx.get(u) match {
        case Some(i) => counts(i) += 1L
        case None if users.length < capacity =>
          idx(u) = users.length
          users += u
          counts += 1L
        case None => // SpaceSaving eviction: overwrite the min-count slot
          var mi = 0
          var j = 1
          while (j < counts.length) { if (counts(j) < counts(mi)) mi = j; j += 1 }
          idx.remove(users(mi))
          idx(u) = mi
          users(mi) = u
          counts(mi) += 1L
          evicted = true
      }
    }
    HHState(users.toArray, counts.toArray, evicted)
  }

  /** Feed one hour's events into the sketch; emit the final top-k
    * when the hour's CLOSE sentinel (user_id = -1) has arrived —
    * the same close-out contract as EventStream.closedSessions.
    * Counting is order-independent while no eviction occurs, so the
    * group iterator's arrival order cannot move the gate hash.
    */
  def heavyHitters(rows: org.apache.spark.sql.Dataset[HourRow],
      capacity: Int = Capacity): org.apache.spark.sql.Dataset[HHOut] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.hour)
      .flatMapGroupsWithState[HHState, HHOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (hour: Long, it: Iterator[HourRow], state: GroupState[HHState]) =>
          val st = state.getOption.getOrElse(
            HHState(Array.empty[Long], Array.empty[Long], evicted = false))
          var sawClose = false
          val ids = it.flatMap { r =>
            if (r.user_id == -1L) { sawClose = true; None } else Some(r.user_id)
          }
          val fed = sketchIngest(st, ids, capacity) // consumes `ids` fully
          if (sawClose) {
            state.remove()
            val top = fed.users.zip(fed.counts)
              .sortBy { case (u, c) => (-c, u) }.take(TopK)
            top.iterator.zipWithIndex.map { case ((u, c), i) =>
              HHOut(hour * 3600L, i + 1, u, c, if (fed.evicted) 0 else 1)
            }
          } else {
            state.update(fed)
            Iterator.empty
          }
      }
  }

  // ---------------------------------------------------------------
  // stream_heavy_hitters — the sketch above driven through a real
  // Structured Streaming query (file source → flatMapGroupsWithState
  // → AvailableNow → memory sink) and the DuckDB hash gate. Staging:
  // one file (one deterministic micro-batch; multi-batch resume is
  // StreamingSpec territory) carrying each event's hour key plus one
  // CLOSE sentinel per observed hour, so every window emits exactly
  // once and nothing is left in state. The batch oracle is the plain
  // top-3-per-hour window rank — sketch == SQL because no eviction
  // fires at gate cardinality, and streamHeavyHitters REQUIRES that
  // (is_exact=0 anywhere ⇒ loud failure, never an opaque hash
  // mismatch). The eviction path itself is exercised by
  // HeavyHittersSpec through this same pipeline at capacity 2.
  // ---------------------------------------------------------------
  private[streaming] def hhSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "hh") { p =>
      val ev = Tables.events(s, dir)
        .select(expr("ts DIV 1000000000 DIV 3600").as("hour"), col("user_id"))
      val closes = ev.select(col("hour")).distinct()
        .select(col("hour"), lit(-1L).as("user_id"))
      ev.unionByName(closes)
        .repartition(1)
        .write.mode("overwrite").parquet(p)
    }

  private[graft] def streamHeavyHittersAt(s: SparkSession, dir: String,
      capacity: Int): DataFrame = {
    import s.implicits._
    val src = hhSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val (rows, _) = EventStream.drain(
      heavyHitters(s.readStream.schema(schema).parquet(src).as[HourRow], capacity).toDF(),
      OutputMode.Append())
    rows.orderBy("hour_epoch", "rk")
  }

  /** The registered gate = pipeline + exact-gate precondition,
    * asserted, not assumed: the oracle below hardcodes is_exact=1,
    * which is only the sketch's output while capacity ≥ distinct
    * users/hour. Memory-sink sized scan, fails loudly instead of
    * letting a bigger gate corpus surface as an opaque hash mismatch.
    */
  private[graft] def guardedHeavyHitters(s: SparkSession, dir: String,
      capacity: Int): DataFrame = {
    val res = streamHeavyHittersAt(s, dir, capacity)
    val evictedRows = res.filter(col("is_exact") === 0).count()
    require(evictedRows == 0L,
      s"stream_heavy_hitters: $evictedRows top-k rows carry is_exact=0 — " +
        s"the sketch evicted at gate cardinality (capacity $capacity < " +
        "distinct users in some hour); the exact SQL oracle no longer applies")
    res
  }

  private def streamHeavyHitters(s: SparkSession, dir: String): DataFrame =
    guardedHeavyHitters(s, dir, Capacity)

  private val streamHeavyHittersSql =
    s"""WITH e AS (
      |  SELECT epoch_ns(ts) // 1000000000 // 3600 AS hr, user_id FROM events),
      |h AS (SELECT hr, user_id, count(*) AS n FROM e GROUP BY 1, 2),
      |rk AS (
      |  SELECT hr, user_id, n,
      |         row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS rk
      |  FROM h)
      |SELECT hr * 3600 AS hour_epoch, CAST(rk AS INT) AS rk, user_id,
      |       CAST(n AS BIGINT) AS n_events, CAST(1 AS INT) AS is_exact
      |FROM rk WHERE rk <= $TopK
      |ORDER BY hour_epoch, rk""".stripMargin

  // ---------------------------------------------------------------
  // stream_kmv — the BOTTOM-K (KMV/theta) distinct sketch as
  // STREAMING STATE, completing the streaming sketch family's merge
  // algebras: stream_hll proves max-merge, stream_f2 proves
  // sum-merge; bottom-k is NEITHER (it is a rank-merge — the
  // bottom-k of a union is the bottom-k of the merged bottom-ks), so
  // it cannot be a plain streaming aggregation and lives in
  // flatMapGroupsWithState instead. State per day key: the K+1
  // smallest DISTINCT 52-bit user hashes (K+1, not K: whether the
  // sketch is EXHAUSTIVE — n ≤ K, the theta = D convention — is
  // decidable from bounded state only by keeping one extra rank;
  // the batch op decides it from the exact per-day count, which no
  // bounded stream state can carry). The merge is associative and
  // commutative, so micro-batch slicing cannot move the result —
  // which is what lets it face a batch DuckDB oracle. The staged
  // source is 4 files × maxFilesPerTrigger=1 (≥4 REAL cross-batch
  // rank-merges, required loudly after the drain) + a per-day close
  // sentinel file appended last (file-source order is by mod time;
  // a sentinel that somehow arrived early throws in-state rather
  // than silently dropping late hashes). Estimates finalize with the
  // SAME integer rule as ev_kmv_set_ops: est = (K−1)·D DIV h_K,
  // exhaustive days emit their exact distinct-hash count.
  // At 100 TB: state is ≤ (K+1) longs per day key regardless of
  // stream length, and the pre-state shuffle is keyed on day —
  // a production deployment keys on (day, salt) and rank-merges the
  // salted sketches exactly like the batch op's two-phase bottom-k.
  // ---------------------------------------------------------------
  private[graft] val KmvK = 8
  private val KmvDomain = 4503599627370496L // 2^52, the batch op's domain

  final case class KmvRow(t: Long, h: Long)
  final case class KmvState(hashes: Array[Long], flushed: Boolean)
  final case class KmvOut(t: Long, m_sketch: Long, theta: Long, est: Long)

  /** Rank-merge one batch of hashes into a day's bottom-(K+1) state.
    * Exposed for the spec's associativity/commutativity assertions.
    */
  private[graft] def kmvMerge(state: Array[Long], hs: Seq[Long]): Array[Long] =
    (state ++ hs).distinct.sorted.take(KmvK + 1)

  private[graft] def kmvSketch(rows: org.apache.spark.sql.Dataset[KmvRow])
      : org.apache.spark.sql.Dataset[KmvOut] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.t)
      .flatMapGroupsWithState[KmvState, KmvOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (t: Long, it: Iterator[KmvRow], state: GroupState[KmvState]) =>
          val st = state.getOption.getOrElse(KmvState(Array.empty[Long], flushed = false))
          var sawClose = false
          val hs = it.flatMap { r =>
            if (r.h == -1L) { sawClose = true; None } else Some(r.h)
          }.toSeq
          if (st.flushed && hs.nonEmpty)
            throw new IllegalStateException(
              s"stream_kmv: day $t received ${hs.size} hashes AFTER its close " +
                "sentinel — the staged source's file order is broken")
          val merged = kmvMerge(st.hashes, hs)
          if (sawClose) {
            state.update(KmvState(Array.empty[Long], flushed = true))
            val m = merged.length.toLong
            if (m <= KmvK) Iterator.single(KmvOut(t, m, KmvDomain, m))
            else {
              val hk = merged(KmvK - 1) // K-th smallest
              Iterator.single(KmvOut(t, m, hk, (KmvK - 1).toLong * KmvDomain / hk))
            }
          } else {
            state.update(KmvState(merged, flushed = false))
            Iterator.empty
          }
      }
  }

  private[streaming] def kmvSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "kmv") { p =>
      val ev = Tables.events(s, dir)
        .select(expr("ts DIV 1000000000 DIV 86400").as("t"),
          expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)").as("h"))
      ev.repartition(4) // 4 staged files × maxFilesPerTrigger=1 = 4 real rank-merge batches
        .write.mode("overwrite").parquet(p)
      // per-day close sentinels, appended LAST (later mod time ⇒ final batch)
      ev.select(col("t")).distinct().select(col("t"), lit(-1L).as("h"))
        .repartition(1).write.mode("append").parquet(p)
    }

  private def streamKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = kmvSrc(s, dir)
    val schema = s.read.parquet(src).schema
    val (rows, q) = EventStream.drain(kmvSketch(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src).as[KmvRow]).toDF(),
      OutputMode.Append())
    val fedBatches = q.recentProgress.count(_.numInputRows > 0)
    require(fedBatches >= 5,
      s"stream_kmv: expected >=5 non-empty micro-batches (4 data + sentinel), saw $fedBatches")
    rows.orderBy("t")
  }

  private val streamKmvSql =
    s"""WITH ut AS (SELECT DISTINCT
      |  (epoch_ns(ts) // 1000000000) // 86400 AS t, user_id AS u FROM events),
      |h0 AS (SELECT DISTINCT t,
      |  ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 13))::BIGINT AS h FROM ut),
      |r AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM h0),
      |sk AS (SELECT t, count(*) AS m,
      |    max(CASE WHEN rn <= $KmvK THEN h END) AS hk
      |  FROM r WHERE rn <= ${KmvK + 1} GROUP BY t)
      |SELECT t, CAST(m AS BIGINT) AS m_sketch,
      |  CASE WHEN m <= $KmvK THEN $KmvDomain ELSE hk END AS theta,
      |  CAST(CASE WHEN m <= $KmvK THEN m
      |       ELSE ${KmvK - 1} * $KmvDomain // hk END AS BIGINT) AS est
      |FROM sk
      |ORDER BY t""".stripMargin

  // ---------------------------------------------------------------
  // stream_quantile — MERGEABLE streaming quantiles: per-event-type
  // decile estimates maintained as bounded streaming state. The
  // summary is a bottom-K-BY-HASH sample of (hash, cents) pairs —
  // a uniform random sample of the event population that is
  // order-free and rank-mergeable exactly like stream_kmv's sketch
  // (the bottom-K of a union is the bottom-K of the merged
  // bottom-Ks), which is what lets a MULTI-micro-batch run face a
  // batch DuckDB oracle bit-for-bit. The deterministic-error
  // alternative (MRL/KLL level compaction, ev_quantile_certified's
  // open path) was evaluated and rejected FOR THE STREAMING GATE:
  // deterministic compaction output depends on arrival slicing, so
  // a multi-batch run could never hash-match a batch oracle — the
  // hash-sample trades the certified bound for order-independence
  // (error is the sampling O(n/√K), emitted per decile as err_ppm
  // AUDIT DATA beside the exact rank, the HLL err-column convention;
  // batch-side certified bounds remain ev_quantile_certified's job).
  // State: K = 256 smallest-hash distinct (h, c) pairs per type —
  // bounded regardless of stream length; 4 staged files ×
  // maxFilesPerTrigger=1 force real cross-batch rank-merges, per-type
  // close sentinels flush once, early sentinels throw (the stream_kmv
  // harness). Drained estimates are audited against the batch
  // corpus: exact (c, h)-lexicographic rank per pick vs the decile's
  // target rank. At 100 TB: state is K rows per type, the pre-state
  // shuffle keys on type; a deployment salts hot types and
  // rank-merges the salted samples (same algebra).
  // ---------------------------------------------------------------
  private[graft] val QuantK = 256

  final case class QRow(t: String, h: Long, c: Long)
  final case class QuantState(hs: Array[Long], cs: Array[Long], flushed: Boolean)
  final case class QOut(event_type: String, decile: Long, m_sample: Long,
      est_cents: Long, est_h: Long)

  /** Rank-merge one batch into the bottom-K-by-(h, c) sample.
    * Exposed for the spec's order-independence assertions.
    */
  private[graft] def quantMerge(state: Seq[(Long, Long)],
      hs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (state ++ hs).distinct.sorted.take(QuantK)

  private[graft] def quantSketch(rows: org.apache.spark.sql.Dataset[QRow])
      : org.apache.spark.sql.Dataset[QOut] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.t)
      .flatMapGroupsWithState[QuantState, QOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (t: String, it: Iterator[QRow], state: GroupState[QuantState]) =>
          val st = state.getOption.getOrElse(
            QuantState(Array.empty[Long], Array.empty[Long], flushed = false))
          var sawClose = false
          val batch = it.flatMap { r =>
            if (r.h == -1L) { sawClose = true; None } else Some((r.h, r.c))
          }.toSeq
          if (st.flushed && batch.nonEmpty)
            throw new IllegalStateException(
              s"stream_quantile: type $t received ${batch.size} rows AFTER its " +
                "close sentinel — the staged source's file order is broken")
          val merged = quantMerge(st.hs.zip(st.cs).toSeq, batch)
          if (sawClose) {
            state.update(QuantState(Array.empty[Long], Array.empty[Long], flushed = true))
            val m = merged.length.toLong
            if (m == 0) Iterator.empty
            else {
              val byValue = merged.map { case (h, c) => (c, h) }.sorted
              (1L to 9L).iterator.map { d =>
                val jstar = math.max(1L, math.min(m, d * m / 10))
                val (c, h) = byValue((jstar - 1).toInt)
                QOut(t, d, m, c, h)
              }
            }
          } else {
            state.update(QuantState(merged.map(_._1).toArray,
              merged.map(_._2).toArray, flushed = false))
            Iterator.empty
          }
      }
  }

  private[streaming] def quantSrc(s: SparkSession, dir: String): String =
    StreamStage.source(s, dir, "quant") { p =>
      val v = Tables.events(s, dir).select(col("event_type").as("t"),
          expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 13), 16, 10) AS BIGINT)").as("h"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      v.repartition(4) // 4 staged files × maxFilesPerTrigger=1 = 4 real rank-merge batches
        .write.mode("overwrite").parquet(p)
      v.select(col("t")).distinct()
        .select(col("t"), lit(-1L).as("h"), lit(0L).as("c"))
        .repartition(1).write.mode("append").parquet(p)
    }

  private def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = quantSrc(s, dir)
    // the batch-side audit re-derives the same projection the staged
    // source was built from (quantSrc's v) — a lazy plan, not a rescan
    // of the staged copy
    val v = Tables.events(s, dir).select(col("event_type").as("t"),
        expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 13), 16, 10) AS BIGINT)").as("h"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
    val schema = s.read.parquet(src).schema
    val (est, q) = EventStream.drain(quantSketch(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src).as[QRow]).toDF(),
      OutputMode.Append())
    val fedBatches = q.recentProgress.count(_.numInputRows > 0)
    require(fedBatches >= 5,
      s"stream_quantile: expected >=5 non-empty micro-batches, saw $fedBatches")
    // batch-side audit: exact (c, h)-lexicographic rank of each pick
    // vs the decile's target rank over the full corpus
    val n = v.groupBy("t").agg(count(lit(1)).as("n_total"))
    // aliased copies → fresh attribute ids, so joining `est` against
    // an aggregate DERIVED from est below doesn't self-conflict
    val picks = est.select(col("event_type").as("pt"), col("decile").as("pd"),
      col("est_cents").as("pc"), col("est_h").as("ph"))
    val exact = v.join(broadcast(picks),
        col("t") === col("pt") &&
          (col("c") < col("pc") ||
            (col("c") === col("pc") && col("h") < col("ph"))))
      .groupBy("pt", "pd").agg(count(lit(1)).as("exact_rank"))
      .select(col("pt").as("event_type"), col("pd").as("decile"), col("exact_rank"))
    est
      .join(n.withColumnRenamed("t", "event_type"), Seq("event_type"))
      .join(exact, Seq("event_type", "decile"), "left")
      .withColumn("exact_rank", coalesce(col("exact_rank"), lit(0L)))
      .withColumn("target_rank", expr("decile * n_total DIV 10"))
      .select(col("event_type"), col("decile"), col("n_total"), col("m_sample"),
        col("target_rank"), col("est_cents"), col("est_h"), col("exact_rank"),
        expr("abs(exact_rank - target_rank) * 1000000 DIV n_total").as("err_ppm"))
      .orderBy("event_type", "decile")
  }

  private val streamQuantileSql =
    s"""WITH raw AS (SELECT event_type AS t,
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |v AS (SELECT DISTINCT t, h, c FROM raw),
      |n AS (SELECT t, count(*) AS nt FROM raw GROUP BY t),
      |r AS (SELECT t, h, c,
      |    row_number() OVER (PARTITION BY t ORDER BY h, c) AS rn FROM v),
      |samp AS (SELECT t, h, c FROM r WHERE rn <= $QuantK),
      |m AS (SELECT t, count(*) AS ms FROM samp GROUP BY t),
      |sr AS (SELECT t, c, h,
      |    row_number() OVER (PARTITION BY t ORDER BY c, h) AS j FROM samp),
      |dec AS (SELECT unnest(range(1, 10)) AS d),
      |pick AS (SELECT n.t, dec.d, n.nt, m.ms,
      |    GREATEST(1, LEAST(m.ms, dec.d * m.ms // 10)) AS jstar,
      |    dec.d * n.nt // 10 AS target
      |  FROM n JOIN m USING (t) CROSS JOIN dec),
      |est AS (SELECT p.t, p.d, p.nt, p.ms, p.target, sr.c AS est_c, sr.h AS est_h
      |  FROM pick p JOIN sr ON sr.t = p.t AND sr.j = p.jstar),
      |ex AS (SELECT e.t, e.d, count(*) AS exact_rank
      |  FROM raw JOIN est e ON raw.t = e.t
      |    AND (raw.c < e.est_c OR (raw.c = e.est_c AND raw.h < e.est_h))
      |  GROUP BY 1, 2)
      |SELECT e.t AS event_type, e.d AS decile, e.nt AS n_total, e.ms AS m_sample,
      |  e.target AS target_rank, e.est_c AS est_cents, e.est_h,
      |  coalesce(x.exact_rank, 0) AS exact_rank,
      |  abs(coalesce(x.exact_rank, 0) - e.target) * 1000000 // e.nt AS err_ppm
      |FROM est e LEFT JOIN ex x ON x.t = e.t AND x.d = e.d
      |ORDER BY event_type, decile""".stripMargin

  /** Staged-source builders, declared in [[graft.ops.Staging.artifacts]]
    * after StreamOps.stagers.
    */
  private[graft] val stagers: Seq[(String, (SparkSession, String) => String)] = Seq(
    "hh" -> (hhSrc _),
    "kmv" -> (kmvSrc _),
    "quant" -> (quantSrc _))

  val ops: Seq[Op] = Seq(
    Op("stream_heavy_hitters", streamHeavyHitters, Some(streamHeavyHittersSql)),
    Op("stream_kmv", streamKmv, Some(streamKmvSql)),
    Op("stream_quantile", streamQuantile, Some(streamQuantileSql)))
}
