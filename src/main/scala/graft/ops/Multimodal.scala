package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2 "Multimodal"): media
  * payloads are opaque `binary` columns with typed metadata; decode /
  * frame-extraction runs per-partition over the bytes.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked DETERMINISTIC STUB (fixed-stride byte windows over
  * the payload). Everything around it — the binary schema, the
  * partitioning, the per-partition batch iteration, the frame output
  * schema — is the real 100 TB shape: payload bytes never leave the
  * executor, frames are emitted streaming per partition, and the
  * frame table is keyed for downstream joins.
  */
object Multimodal {

  /** Synthesize a deterministic binary payload per document (stands
    * in for real media bytes; derived from the text so it is
    * reproducible in the oracle).
    */
  def withPayload(df: DataFrame): DataFrame =
    // oracle parity strides BYTES on the Spark side but CHARS in the
    // DuckDB SQL — only equal for single-byte (ASCII) text. A
    // multi-byte document fails HERE with a clear message instead of
    // surfacing as a baffling oracle hash mismatch. The guard lives
    // inside the payload expression so column pruning can't drop it.
    df.withColumn("payload",
        when(octet_length(col("text")) === length(col("text")), col("text").cast("binary"))
          .otherwise(raise_error(format_string(
            "multimodal stub ops require single-byte (ASCII) text for byte/char parity; doc_id=%s is multi-byte",
            col("doc_id")))))
      .withColumn("media_type",
        element_at(typedLit(Seq("image", "audio", "video")), (col("doc_id") % 3 + 1).cast("int")))

  // ---------------------------------------------------------------
  // mm_binary_meta — typed metadata extracted FROM the binary column
  // (byte length, content hash, magic-header bytes).
  // ---------------------------------------------------------------
  private def binaryMeta(s: SparkSession, dir: String): DataFrame =
    withPayload(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"), col("media_type"),
        length(col("payload")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        hex(substring(col("text"), 1, 4).cast("binary")).as("header_hex"))
      .orderBy("doc_id")

  private val binaryMetaSql =
    """SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      | octet_length(encode(text)) AS n_bytes,
      | md5(text) AS content_md5,
      | hex(encode(substring(text, 1, 4))) AS header_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // mm_frame_sample — per-partition decode + frame sampling. The
  // decoder below is the STUB: a real build would replace
  // `decodeFrames` with a codec call; schema and flow are unchanged.
  // ---------------------------------------------------------------
  final case class Frame(doc_id: Long, frame_idx: Int, offset: Int, n_bytes: Int, frame_hex: String)

  /** STUB DECODER — deterministic fake: "frames" are 16-byte windows
    * every 32 bytes of payload. Replace with a real codec at the same
    * signature; everything downstream is codec-agnostic.
    */
  private[ops] def decodeFrames(docId: Long, payload: Array[Byte]): Iterator[Frame] = {
    val stride = 32
    val width = 16
    Iterator.range(0, math.max(payload.length - width + 1, 1), stride).zipWithIndex.map {
      case (off, idx) =>
        val slice = payload.slice(off, math.min(off + width, payload.length))
        Frame(docId, idx, off, slice.length, slice.map("%02X".format(_)).mkString)
    }
  }

  private def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // no repartition: decodeFrames is row-local, so payload bytes are
    // decoded wherever the scan read them — shuffling every media byte
    // first would double the job's IO for zero co-location benefit
    val framed = withPayload(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => decodeFrames(id, bytes) })
    framed.toDF().orderBy("doc_id", "frame_idx")
  }

  // Oracle replica of the stub decoder: 16-byte windows every 32
  // bytes, clipped at payload end (ASCII text ⇒ chars == bytes, so
  // DuckDB's string substring reproduces the byte slices; hex() is
  // uppercase in both).
  private val frameSampleSql =
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS blen FROM documents),
      |o AS (SELECT doc_id, text, unnest(range(0, greatest(blen - 15, 1), 32)) AS off FROM d),
      |f AS (SELECT doc_id, CAST(off / 32 AS INT) AS frame_idx, CAST(off AS INT) AS "offset",
      |        substring(text, CAST(off + 1 AS INT), 16) AS fr
      |      FROM o)
      |SELECT doc_id, frame_idx, "offset",
      |  CAST(octet_length(encode(fr)) AS INT) AS n_bytes,
      |  hex(encode(fr)) AS frame_hex
      |FROM f
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------
  // mm_feature_extract — per-partition "model" inference over the
  // binary column: payload → fixed-dim feature vector → per-media-
  // type aggregation. The embedder below is the STUB (md5-derived
  // integer features so the oracle can replay it bit-exactly); a real
  // build would swap in an ONNX/JNI call at the same signature. The
  // Spark shape is the real one: bytes stay executor-local, features
  // are fixed-width columns, the aggregate is one shuffle on the
  // 3-value type key (salt if a type dominates at 100 TB).
  // ---------------------------------------------------------------
  final case class DocFeatures(doc_id: Long, media_type: String,
      f0: Long, f1: Long, f2: Long, f3: Long)

  /** STUB EMBEDDER — deterministic fake: feature k is the 32-bit md5
    * prefix of (payload ++ "#k") mod 1000. Same signature as a real
    * per-item model call (bytes in, fixed-dim vector out).
    */
  private[ops] def extractFeatures(id: Long, mediaType: String, payload: Array[Byte]): DocFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def f(k: Int): Long = {
      md.reset()
      md.update(payload)
      md.update(s"#$k".getBytes("UTF-8"))
      val d = md.digest()
      var l = 0L
      var i = 0
      while (i < 4) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
      l % 1000
    }
    DocFeatures(id, mediaType, f(0), f(1), f(2), f(3))
  }

  private def featureExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPayload(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mt, bytes) => extractFeatures(id, mt, bytes) })
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("sum(f0) * CAST(1000000 AS BIGINT) DIV count(1)").as("f0_mean_ppm"),
        expr("sum(f1) * CAST(1000000 AS BIGINT) DIV count(1)").as("f1_mean_ppm"),
        expr("sum(f2) * CAST(1000000 AS BIGINT) DIV count(1)").as("f2_mean_ppm"),
        expr("sum(f3) * CAST(1000000 AS BIGINT) DIV count(1)").as("f3_mean_ppm"))
      .orderBy("media_type")
  }

  private val featureExtractSql = {
    val fs = (0 to 3).map(k =>
      s"(('0x' || substr(md5(text || '#$k'), 1, 8))::BIGINT) % 1000 AS f$k").mkString(",\n  ")
    val means = (0 to 3).map(k =>
      s"CAST(sum(f$k) AS BIGINT) * 1000000 // count(*) AS f${k}_mean_ppm").mkString(",\n ")
    s"""SELECT media_type, count(*) AS n_docs,
      | $means
      |FROM (
      |  SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  $fs
      |  FROM documents) f
      |GROUP BY media_type
      |ORDER BY media_type""".stripMargin
  }

  // ---------------------------------------------------------------
  // mm_resize — stubbed media downscale: payload → smaller payload
  // (every 4th byte — a real build swaps in the codec's scaler at the
  // same bytes→bytes signature), re-emitted as a binary column with
  // its own typed metadata. Byte-level plumbing is the real thing:
  // the resized blob is a first-class binary column ready for a sink.
  // ---------------------------------------------------------------
  private val ResizeStride = 4

  private[ops] def resizeStub(payload: Array[Byte]): Array[Byte] =
    Iterator.range(0, payload.length, ResizeStride).map(payload(_)).toArray

  private def resize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPayload(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mt, bytes) =>
        val small = resizeStub(bytes)
        (id, mt, bytes.length.toLong, small.length.toLong, small)
      })
      .toDF("doc_id", "media_type", "orig_bytes", "resized_bytes", "resized_payload")
      .select(col("doc_id"), col("media_type"), col("orig_bytes"), col("resized_bytes"),
        md5(col("resized_payload")).as("resized_md5"))
      .orderBy("doc_id")
  }

  // ASCII text ⇒ chars == bytes, so DuckDB rebuilds the strided blob
  // with string ops and hashes the same bytes.
  private val resizeSql =
    s"""SELECT doc_id,
      | ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      | octet_length(encode(text)) AS orig_bytes,
      | octet_length(encode(small)) AS resized_bytes,
      | md5(small) AS resized_md5
      |FROM (
      |  SELECT doc_id, text,
      |    array_to_string(list_transform(range(1, length(text) + 1, $ResizeStride),
      |      i -> substring(text, CAST(i AS INT), 1)), '') AS small
      |  FROM documents) r
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // mm_dedup — exact media dedup on the RAW binary content hash (the
  // first dedup stage of any multimodal pipeline: identical files
  // collapse before any decode work happens). One shuffle on the
  // md5; unlike the text-side dedup_exact there is NO normalization —
  // bytes either match or they don't. Works on the payload column
  // only: at 100 TB the media bytes are hashed where they sit and
  // never move (the md5 is 16 bytes on the wire per row).
  // ---------------------------------------------------------------
  private def binaryDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_md5")
    withPayload(Tables.load(s, dir, "documents"))
      .withColumn("content_md5", md5(col("payload")))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("media_type"), col("content_md5"),
        col("canonical_id"), col("group_size"),
        when(col("doc_id") =!= col("canonical_id"), lit(1)).otherwise(lit(0)).as("is_duplicate"))
      .orderBy("doc_id")
  }

  private val binaryDedupSql =
    """SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      | content_md5,
      | min(doc_id) OVER (PARTITION BY content_md5) AS canonical_id,
      | count(*) OVER (PARTITION BY content_md5) AS group_size,
      | CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY content_md5) THEN 1 ELSE 0 END AS is_duplicate
      |FROM (SELECT doc_id, md5(text) AS content_md5 FROM documents) h
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // mm_phash — perceptual-hash near-dup media within media_type:
  // exact mm_dedup only collapses byte-identical files; re-encodes
  // and small edits need a content-derived locality hash. The stub
  // "perceptual" feature is the byte 4-gram multiset of the payload
  // (a real pipeline plugs pHash/aHash of decoded pixels into the
  // SAME 60-bit SimHash + banding machinery proven by dedup_simhash):
  // weighted bit votes over md5-derived 60-bit gram hashes, 5×12-bit
  // band buckets as candidates (pigeonhole-exact for Hamming ≤ 4),
  // bit_count(xor) verify. Candidates never leave their media_type,
  // and the plan is the linear postings shape — band buckets join,
  // not an all-pairs self-join.
  // ---------------------------------------------------------------
  private val PhBits = 60
  private val PhBands = 5
  private val PhBandBits = PhBits / PhBands
  private val PhHamMax = PhBands - 1

  /** Occupancy cap per (media_type, band, band-value) bucket — the
    * same df-cap discipline as Dedup.MaxShingleDf: a bucket holding
    * B docs contributes B² candidate pairs, so one degenerate byte
    * pattern (black frames, silence, padding) must not turn the
    * candidate join quadratic. Buckets over the cap are EXCLUDED from
    * candidate generation and the exclusion is logged, never silent
    * (SURVEY §4); a true Hamming ≤ 4 pair keeps every other of its 5
    * shared-band chances. Testdata max occupancy is 495 (sf0.1), so
    * the cap provably leaves oracle output unchanged while bounding
    * the worst bucket at scale; the oracle replicates the cap.
    */
  private val PhBucketCap = 1000L
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val phHotMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  private def phash(s: SparkSession, dir: String): DataFrame = {
    val base = withPayload(Tables.load(s, dir, "documents"))
      .filter(octet_length(col("payload")) >= 4)
      // byte 4-grams of the payload; the ASCII guard in withPayload
      // (kept live by the octet_length filter above) makes
      // substring-on-text identical to byte windows, and the native
      // kernel hashes the windows straight off the string bytes
      .withColumn("ph", expr("graft_phash60(text)"))
      .select("doc_id", "media_type", "ph")
      // doc-grain (id, type, 60-bit hash) — grain-reduced from payload
      // bytes and consumed by FOUR branches (bucket sizes, hot-count
      // action, and both sides of the band self-join); unstaged, each
      // branch re-ran the payload scan + native kernel (the r15
      // before-plan showed 8 documents scans). The checkpoint
      // convention's multi-consumer case (guide §1.2: one corpus pass)
      .localCheckpoint()
    val bandVals = (0 until PhBands)
      .map(k => expr(s"shiftright(ph, ${k * PhBandBits}) & ${(1 << PhBandBits) - 1}"))
    val allBands = base.select(col("doc_id"), col("media_type"), col("ph"),
      posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    val sizes = allBands.groupBy("media_type", "band", "bv")
      .agg(count(lit(1)).as("bucket_n"))
    // per-corpus-snapshot METADATA (an ANALYZE statistic), memoized
    // like Dedup's hot-shingle stats so registered calls pay it once
    val hotKey = Staging.snapshot(dir, "documents")
      .map(h => (s"$dir@$h", PhBucketCap))
    def countHot(): Long = {
      val n = sizes.filter(col("bucket_n") > PhBucketCap).count()
      if (n > 0)
        log.warn(s"mm_phash: excluding $n hot band buckets (> $PhBucketCap docs) " +
          "from candidate generation (logged cap, oracle-replicated)")
      n
    }
    // surfaced as a column (not just a log line): at a corpus where
    // the cap bites, the excluded count shows up in the gated output
    // itself — an audited cap like the dedup family's, and since the
    // oracle recomputes the same statistic the gate stays green while
    // making the exclusion impossible to miss (ADVICE r5)
    val hotExcluded: Long = hotKey match {
      case Some(key) => phHotMemo.computeIfAbsent(key, _ => countHot())
      case None => countHot()
    }
    val bands = allBands.join(
      sizes.filter(col("bucket_n") <= PhBucketCap).select("media_type", "band", "bv"),
      Seq("media_type", "band", "bv"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.media_type") === col("y.media_type") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.media_type").as("media_type"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.ph").as("sa"), col("y.ph").as("sb"))
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= PhHamMax)
      .select("media_type", "doc_a", "doc_b", "hamming")
      .distinct()
      .withColumn("hot_excluded", lit(hotExcluded))
      .orderBy("media_type", "doc_a", "doc_b")
  }

  private val phashSql =
    s"""WITH d AS (SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type, text
      |           FROM documents WHERE octet_length(encode(text)) >= 4),
      |h AS (SELECT doc_id, media_type,
      |        list_transform(range(1, length(text)-2),
      |          i -> (('0x' || substr(md5(substr(text, i, 4)), 1, 15))::BIGINT)) AS hs
      |      FROM d),
      |sh AS (SELECT doc_id, media_type,
      |  CAST(list_sum(list_transform(range(0, $PhBits), j ->
      |    CASE WHEN list_sum(list_transform(hs, v -> CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS ph
      |  FROM h),
      |all_bands AS (
      |  SELECT doc_id, media_type, ph, band, (ph >> (band * $PhBandBits)) & ${(1 << PhBandBits) - 1} AS bv
      |  FROM sh CROSS JOIN (SELECT unnest(range(0, $PhBands)) AS band) b),
      |ok AS (SELECT media_type, band, bv FROM all_bands
      |       GROUP BY 1, 2, 3 HAVING count(*) <= $PhBucketCap),
      |bands AS (SELECT a.* FROM all_bands a
      |          JOIN ok ON a.media_type = ok.media_type AND a.band = ok.band AND a.bv = ok.bv),
      |cand AS (
      |  SELECT DISTINCT x.media_type, x.doc_id AS doc_a, y.doc_id AS doc_b, x.ph AS sa, y.ph AS sb
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv
      |    AND x.media_type = y.media_type AND x.doc_id < y.doc_id),
      |hot AS (SELECT count(*) AS hot_excluded FROM (
      |  SELECT media_type, band, bv FROM all_bands
      |  GROUP BY 1, 2, 3 HAVING count(*) > $PhBucketCap) x)
      |SELECT media_type, doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming,
      |  CAST(hot.hot_excluded AS BIGINT) AS hot_excluded
      |FROM cand, hot
      |WHERE bit_count(xor(sa, sb)) <= $PhHamMax
      |ORDER BY media_type, doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------
  // mm_shot_boundary — shot/cut detection over the video stream's
  // sampled frames (the segmentation step every video-training
  // pipeline runs before captioning or clip selection): consecutive
  // frames are perceptually hashed and a cut is declared where the
  // Hamming distance jumps (≥ ShotCutBits of 60 — adjacent frames of
  // one shot are near-duplicates, a cut is a content break). Frames
  // are the SAME stub windows as mm_frame_sample (a real build swaps
  // the codec, everything downstream is codec-agnostic), hashed by
  // the SAME graft_phash60 kernel mm_phash proves; per video:
  // frame count, cut count, exact ppm cut ratio, peak distance.
  //
  // Plan shape: map-only framing off the scan (bytes never shuffle —
  // only the 8-byte hashes ride into the window), ONE video-keyed
  // window shuffle for the lag, one per-video aggregate on the same
  // partitioning. At 100 TB: linear in total frames, and the shuffle
  // payload is hashes, not media.
  // ---------------------------------------------------------------
  private val ShotCutBits = 24

  private def shotBoundary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vids = withPayload(Tables.load(s, dir, "documents"))
      .filter(col("media_type") === "video")
      .select(col("doc_id"), col("text"), octet_length(col("text")).as("blen"))
      .filter(col("blen") >= 48) // ≥ 2 full-width frames
    val frames = vids
      .select(col("doc_id"),
        explode(expr("sequence(0, CAST(blen AS INT) - 16, 32)")).as("off"), col("text"))
      .select(col("doc_id"), col("off"),
        expr("graft_phash60(substring(text, off + 1, 16))").as("ph"))
    val byDoc = Window.partitionBy("doc_id").orderBy("off")
    frames
      .withColumn("prev_ph", lag(col("ph"), 1).over(byDoc))
      .filter(col("prev_ph").isNotNull)
      .select(col("doc_id"), expr("CAST(bit_count(ph ^ prev_ph) AS INT)").as("hamming"))
      .groupBy("doc_id").agg(
        (count(lit(1)) + 1).as("n_frames"),
        sum(when(col("hamming") >= ShotCutBits, 1L).otherwise(0L)).as("n_cuts"),
        max(col("hamming")).cast("int").as("max_hamming"))
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        expr("CAST(n_cuts * 1000000 DIV (n_frames - 1) AS BIGINT)").as("cut_ratio_ppm"),
        col("max_hamming"))
      .orderBy("doc_id")
  }

  private val shotBoundarySql =
    s"""WITH d AS (
      |  SELECT doc_id, text, octet_length(encode(text)) AS blen
      |  FROM documents
      |  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) >= 48),
      |o AS (SELECT doc_id, unnest(range(0, blen - 15, 32)) AS off, text FROM d),
      |f AS (SELECT doc_id, off, substr(text, CAST(off + 1 AS INT), 16) AS fr FROM o),
      |h AS (SELECT doc_id, off,
      |        list_transform(range(1, length(fr) - 2),
      |          i -> (('0x' || substr(md5(substr(fr, i, 4)), 1, 15))::BIGINT)) AS hs
      |      FROM f),
      |sh AS (SELECT doc_id, off,
      |  CAST(list_sum(list_transform(range(0, $PhBits), j ->
      |    CASE WHEN list_sum(list_transform(hs, v -> CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS ph
      |  FROM h),
      |l AS (
      |  SELECT doc_id,
      |    bit_count(xor(ph, lag(ph) OVER (PARTITION BY doc_id ORDER BY off))) AS hamming
      |  FROM sh),
      |g AS (
      |  SELECT doc_id, count(*) + 1 AS n_frames,
      |    sum(CASE WHEN hamming >= $ShotCutBits THEN 1 ELSE 0 END) AS n_cuts,
      |    max(hamming) AS max_hamming
      |  FROM l WHERE hamming IS NOT NULL GROUP BY 1)
      |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(n_cuts AS BIGINT) AS n_cuts,
      |  CAST(n_cuts * 1000000 // (n_frames - 1) AS BIGINT) AS cut_ratio_ppm,
      |  CAST(max_hamming AS INT) AS max_hamming
      |FROM g
      |ORDER BY doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("mm_shot_boundary", shotBoundary, Some(shotBoundarySql)),
    Op("mm_phash", phash, Some(phashSql)),
    Op("mm_binary_meta", binaryMeta, Some(binaryMetaSql)),
    Op("mm_frame_sample", frameSample, Some(frameSampleSql)),
    Op("mm_feature_extract", featureExtract, Some(featureExtractSql)),
    Op("mm_resize", resize, Some(resizeSql)),
    Op("mm_dedup", binaryDedup, Some(binaryDedupSql)))
}
