package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dedup_spans — duplicated-substring detection, the span-level
  * complement of the document-level near-dup family: find every
  * maximal token range that occurs (anywhere in the corpus, incl.
  * within the same document) at least twice, at fixed K-token-window
  * grain. This is the scalable approximation of suffix-array exact
  * substring dedup ("Deduplicating Training Data Makes Language
  * Models Better", Lee et al. 2022): a duplicated substring of length
  * ≥ K contains a duplicated K-window at every offset, so the merged
  * K-window islands ARE the duplicated spans (over-approximated by at
  * most K−1 tokens at each end, under-approximating never).
  *
  * Plan shape (all equality-keyed, linear in corpus tokens — the
  * inverted-index pattern, NEVER a self-join):
  *   1. posexplode K-token windows (one row per token position);
  *   2. 60-bit md5 window id, map-side-combined occurrence count
  *      per id — the only corpus-wide shuffle, on an 8-byte key;
  *   3. hash-join ids with occ ≥ 2 back to positions (a lookup whose
  *      build side is the duplicated-window subset);
  *   4. per-doc island merge: windows at positions p, p' overlap iff
  *      |p − p'| < K, and all intervals share length K, so one
  *      lag/running-sum window PARTITIONed by doc_id (state bounded
  *      by doc length) merges them into maximal spans.
  * At 100 TB: step 2 is a classic partial-agg token count; step 3's
  * build side is only the duplicated windows (small under any
  * realistic dup rate, and skew-safe — hot window ids fan out to
  * their own positions, never pair with each other).
  */
object Spans {

  /** Window length in tokens: spans shorter than K are invisible,
    * spans ≥ K are found exactly (modulo the ≤ K−1 boundary slack
    * inherent to window-grain detection).
    */
  private val SpanK = 8

  /** WINDOW-HASH SHARDING for the postings pipeline (r13 VERDICT
    * item 2 — the mitigation SCALING_r13 §2 claimed in prose, made
    * real): the wid-keyed aggregate and the wid-keyed lookup join are
    * the spans family's only corpus-wide shuffles, and at the sf1→
    * sf10 decade their working set outgrew memory-resident sizes
    * (4.4×/4.1× slopes). Every key in the pipeline is a function of
    * the 60-bit window hash, so partitioning the postings by
    * pmod(wid, S) splits the shuffle into S EXACT independent
    * sub-problems — each shard's aggregate sees only its own key
    * range and each shard's join matches only within the shard, so
    * the union of per-shard results is identical to the unsharded
    * run (pinned by SpansShardSpec and by the unchanged oracle
    * hashes at every gated SF).
    *
    * Two execution modes:
    *  - `spark.graft.spans.shards` = S (default 1): the S shard
    *    pipelines union into one plan — per-reduce-task state drops
    *    to 1/S of the key space (S× the reduce tasks at 1/S the
    *    size), bounding spill without changing total shuffle bytes.
    *  - `spark.graft.spans.shardStage` = true: shards additionally
    *    MATERIALIZE sequentially (one shard's shuffle in flight at a
    *    time) to a staging dir and the island merge reads the union
    *    back — the hard memory bound a 100 TB deployment wants; the
    *    staged rows are the cut/dup positions, corpus-dup-rate-sized.
    */
  private def shardCount(s: SparkSession): Int =
    s.conf.getOption("spark.graft.spans.shards").map { raw =>
      val n = try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.spans.shards must be an integer >= 1, got '$raw'")
      }
      require(n >= 1, s"spark.graft.spans.shards must be >= 1, got $n")
      n
    }.getOrElse(1)

  private def shardStaged(s: SparkSession): Boolean = {
    val staged = s.conf.getOption("spark.graft.spans.shardStage")
      .exists(_.trim.toBoolean)
    // the bounded mode skips the postings checkpoint AND shards
    // sequentially; with <= 1 shard it would ONLY skip the checkpoint
    // — the worst configuration (recomputed scan, no memory bound).
    // Fail loud instead of silently running it.
    require(!staged || shardCount(s) >= 2,
      "spark.graft.spans.shardStage=true requires spark.graft.spans.shards >= 2")
    staged
  }

  /** Run `perShard` (a wid-keyed postings sub-pipeline emitting
    * skinny (doc_id, pos, occ) rows) over the whole postings relation
    * or over each pmod(wid, shards) slice, per the session conf.
    */
  private[ops] def shardedPostings(s: SparkSession, dir: String, tag: String,
      wins: DataFrame, shards: Int, staged: Boolean)(
      perShard: DataFrame => DataFrame): DataFrame = {
    if (shards <= 1) perShard(wins)
    else {
      val parts = (0 until shards).map { sh =>
        perShard(wins.filter(pmod(col("wid"), lit(shards.toLong)) === sh.toLong))
          .select(col("doc_id"), col("pos"), col("occ"))
      }
      if (!staged) parts.reduce(_ unionByName _)
      else {
        // staged-shard runs stage their shard root once per corpus
        // snapshot in the [[Staging]] memo (ADVICE r14: a fresh
        // never-deleted tmpDir per invocation accumulated dup-rate-
        // sized dirs across a long-lived JVM's repeated runs)
        val root = Staging.dirFor(s, s"spans_${tag}_$shards", dir,
            Staging.snapshot(dir, "documents"), "graft_spans_shard") { r =>
          parts.zipWithIndex.foreach { case (df, i) =>
            df.write.mode("overwrite").parquet(s"$r/s$i")
          }
        }
        s.read.parquet((0 until shards).map(i => s"$root/s$i"): _*)
      }
    }
  }

  private def spans(s: SparkSession, dir: String): DataFrame = {
    val winsPlan = TextOps.withTokens(Tables.load(s, dir, "documents"))
      .filter(size(col("toks")) >= SpanK)
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(0, size(toks)-$SpanK), " +
          s"i -> concat_ws(' ', slice(toks, i+1, $SpanK)))) AS (pos, g)")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr(Dedup.sid60Spark).as("wid"))
    // materialize the skinny (doc, pos, wid) relation once: it is
    // scanned twice (occurrence count + the lookup join) and the
    // md5-per-window id generation dominates the scan — A/B at
    // sf0.1: 3.1–3.4 s recomputed vs 1.7–2.0 s staged (contrast
    // emb_power_iter, where the re-scanned work is a cheap quantize
    // and staging LOSES). In staged-shard mode the checkpoint is
    // deliberately SKIPPED: the corpus-sized postings residency is
    // the pipeline's memory floor (measured: at sf10 a 3 GB heap
    // dies in the checkpoint before any shuffle), so the bounded
    // mode recomputes each shard's postings from the raw scan —
    // CPU for memory, the trade a 100 TB shard-sequential pass makes.
    val wins = if (shardStaged(s)) winsPlan else winsPlan.localCheckpoint()
    val dup = shardedPostings(s, dir, "spans", wins, shardCount(s), shardStaged(s)) { w =>
      val dupIds = w.groupBy("wid").agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2)
      w.join(dupIds, "wid").select(col("doc_id"), col("pos"), col("occ"))
    }
    islandSpans(dup, SpanK)
      .orderBy("doc_id", "span_no")
  }

  /** Merge duplicated window positions (doc_id, pos, occ) into maximal
    * spans: fixed-length-K intervals overlap iff their starts differ
    * by < K, so one lag/running-sum window per doc does the interval
    * merge. Exposed for the property spec (random position sets vs a
    * brute driver-side interval merge).
    */
  private[graft] def islandSpans(dup: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .withColumn("new_island",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") - lag(col("pos"), 1).over(byDoc) >= k, 1L).otherwise(0L))
      .withColumn("span_no", sum(col("new_island")).over(run))
      .groupBy("doc_id", "span_no")
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + k - 1).as("end_tok"),
        count(lit(1)).as("n_windows"),
        max(col("occ")).as("max_occ"))
      .select(col("doc_id"), col("span_no"),
        col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tokens"),
        col("n_windows"), col("max_occ"))
  }

  // ---------------------------------------------------------------
  // dedup_substring — CROSS-DOCUMENT exact substring dedup with
  // keep-first removal semantics (the Lee et al. 2022 ExactSubstr
  // pass: cut every ≥50-token span that also appears verbatim in
  // another document, keeping one canonical copy). dedup_spans finds
  // every REPEATED window island, including within-document
  // repetition, and only reports; this op makes the curation
  // DECISION: a window counts as duplicated only when it occurs in
  // ≥2 DISTINCT documents, the lowest doc_id owning it is canonical,
  // and the emitted spans are exactly the token ranges a curation
  // pass would CUT from the non-canonical documents. Granularity is
  // the window length SubK = 16 tokens (the ≥50-token knob scaled to
  // the 10–99-token test docs): a cross-doc substring of length ≥
  // SubK contains a cross-doc SubK-window at every offset, so the
  // merged cut islands are the cut spans (≤ SubK−1 boundary slack,
  // never an under-approximation) — no suffix array materializes.
  //
  // Plan shape (same inverted-index linearity as dedup_spans):
  //   1. posexplode SubK-token windows → 60-bit ids (skinny rows);
  //   2. per-wid distinct-doc count + min-doc canonical owner — one
  //      wid-keyed aggregate (count(DISTINCT doc_id) plans as the
  //      two-phase expand/partial-agg, skew-safe) over the 8-byte id;
  //   3. wid-keyed hash join back to positions, keep rows where
  //      doc_id > canon_doc (the cut set — canonical occurrences and
  //      within-canon repeats stay);
  //   4. per-doc island merge (islandSpans: lag/running-sum window,
  //      state bounded by doc length).
  // At 100 TB: the wid aggregate and lookup join are the only
  // corpus-wide shuffles, both on the 8-byte key; the join build
  // side is only the CROSS-DOC duplicated windows. max_partner_docs
  // rides along as the blast-radius audit (how many docs share the
  // span's hottest window).
  // ---------------------------------------------------------------
  private val SubK = 16

  private def substringDedup(s: SparkSession, dir: String): DataFrame = {
    val winsPlan = TextOps.withTokens(Tables.load(s, dir, "documents"))
      .filter(size(col("toks")) >= SubK)
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(0, size(toks)-$SubK), " +
          s"i -> concat_ws(' ', slice(toks, i+1, $SubK)))) AS (pos, g)")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr(Dedup.sid60Spark).as("wid"))
    // scanned twice (wid agg + lookup join), md5 dominates; staged-
    // shard mode skips the corpus-sized residency (see spans())
    val wins = if (shardStaged(s)) winsPlan else winsPlan.localCheckpoint()
    val cut = shardedPostings(s, dir, "substr", wins, shardCount(s), shardStaged(s)) { w =>
      val xdoc = w.groupBy("wid")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("canon_doc"))
        .filter(col("n_docs") >= 2)
      w.join(xdoc, "wid")
        .filter(col("doc_id") > col("canon_doc"))
        .select(col("doc_id"), col("pos"), col("n_docs").as("occ"))
    }
    islandSpans(cut, SubK)
      .withColumnRenamed("max_occ", "max_partner_docs")
      .orderBy("doc_id", "span_no")
  }

  private val substringDedupSql =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |w AS (SELECT doc_id,
      |        unnest(range(0, len(toks)-$SubK+1)) AS pos,
      |        unnest(list_transform(range(0, len(toks)-$SubK+1),
      |          i -> array_to_string(toks[i+1:i+$SubK], ' '))) AS g
      |      FROM t WHERE len(toks) >= $SubK),
      |i AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, ${Dedup.sid60Duck} AS wid FROM w),
      |x AS (SELECT wid, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |        min(doc_id) AS canon_doc
      |      FROM i GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      |cut AS (SELECT i.doc_id, i.pos, x.n_docs AS occ
      |        FROM i JOIN x USING (wid) WHERE i.doc_id > x.canon_doc),
      |f AS (SELECT doc_id, pos, occ,
      |        CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win >= $SubK
      |             THEN 1 ELSE 0 END AS new_island
      |      FROM cut WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |g2 AS (SELECT *, sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_no FROM f)
      |SELECT doc_id, CAST(span_no AS BIGINT) AS span_no,
      |  min(pos) AS start_tok, max(pos)+$SubK-1 AS end_tok,
      |  max(pos)+$SubK-1 - min(pos) + 1 AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_windows, max(occ) AS max_partner_docs
      |FROM g2 GROUP BY doc_id, span_no
      |ORDER BY doc_id, span_no""".stripMargin

  private val spansSql =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |w AS (SELECT doc_id,
      |        unnest(range(0, len(toks)-$SpanK+1)) AS pos,
      |        unnest(list_transform(range(0, len(toks)-$SpanK+1),
      |          i -> array_to_string(toks[i+1:i+$SpanK], ' '))) AS g
      |      FROM t WHERE len(toks) >= $SpanK),
      |i AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, ${Dedup.sid60Duck} AS wid FROM w),
      |c AS (SELECT wid, CAST(count(*) AS BIGINT) AS occ FROM i GROUP BY 1 HAVING count(*) >= 2),
      |d AS (SELECT i.doc_id, i.pos, c.occ FROM i JOIN c USING (wid)),
      |f AS (SELECT doc_id, pos, occ,
      |        CASE WHEN lag(pos) OVER win IS NULL OR pos - lag(pos) OVER win >= $SpanK
      |             THEN 1 ELSE 0 END AS new_island
      |      FROM d WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |g2 AS (SELECT *, sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_no FROM f)
      |SELECT doc_id, CAST(span_no AS BIGINT) AS span_no,
      |  min(pos) AS start_tok, max(pos)+$SpanK-1 AS end_tok,
      |  max(pos)+$SpanK-1 - min(pos) + 1 AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_windows, max(occ) AS max_occ
      |FROM g2 GROUP BY doc_id, span_no
      |ORDER BY doc_id, span_no""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("dedup_spans", spans, Some(spansSql)),
    Op("dedup_substring", substringDedup, Some(substringDedupSql)))
}
