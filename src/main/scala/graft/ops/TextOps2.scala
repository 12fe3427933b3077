package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second text pack — corpus-level lexical association: which word
  * pairs co-occur MORE than their individual frequencies predict
  * (collocations / multi-word expressions), the signal behind
  * tokenizer-vocabulary merges and phrase-aware indexing that the
  * per-document quality ops don't see.
  */
object TextOps2 {

  // ---------------------------------------------------------------
  // txt_collocations — top adjacent-bigram collocations by LIFT
  // (pointwise mutual information without the log): for adjacent
  // token pair (a,b),
  //   lift = P(ab) / (P(a)·P(b))
  //        = (n_ab · T_uni²) / (T_bi · n_a · n_b)
  // computed as one exact integer ppm ratio in DECIMAL(38,0) cross
  // multiplication (numerator ≈ n_ab·T_uni²·10⁶ stays well under
  // 10³⁸ through corpus scales; a log-PMI would be float and
  // hash-drift). Bigrams below MinCount occurrences are noise-floor
  // filtered (the standard PMI sparsity fix), and the top
  // TopCollocations by (lift DESC, a, b) are emitted with their
  // evidence counts.
  //
  // Plan shape: tokenization is map-only; unigram and bigram counts
  // are map-side-combined aggregates keyed by word — the bigram
  // relation joins its two unigram legs on the word key (vocab-sized
  // shuffle joins, linear, never broadcast: a 100 TB corpus vocab is
  // itself large); corpus totals ride as 1-row broadcast scalars;
  // the final rank window runs over the ≥MinCount bigram survivors,
  // a frequency-truncated (bounded) relation above an Aggregate.
  // ---------------------------------------------------------------
  private val MinCount = 5
  private val TopCollocations = 40

  private def collocations(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(split(trim(col("text")), "\\s+").as("toks"))
    // uni/bi are each three-consumer (their own total scalar + the
    // two unigram join legs / the scored filter) — localCheckpoint
    // truncation keeps the corpus tokenization at ONE scan per grain
    // instead of Catalyst inlining it into every branch (5 FileScans)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
      .localCheckpoint()
    val tu = uni.agg(sum(col("n_w")).as("t_uni"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .localCheckpoint()
    val tb = bi.agg(sum(col("n_ab")).as("t_bi"))
    val scored = bi.filter(col("n_ab") >= MinCount)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((CAST(n_ab AS DECIMAL(38,0)) * t_uni * t_uni * 1000000) DIV " +
          "(CAST(t_bi AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)").as("lift_ppm"))
    scored
      .withColumn("rank",
        row_number().over(Window.orderBy(col("lift_ppm").desc, col("w1"), col("w2"))))
      .filter(col("rank") <= TopCollocations)
      .select(col("rank"), col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift_ppm"))
      .orderBy("rank")
  }

  private val collocationsSql =
    s"""WITH toks AS (
      |  SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS n_w
      |  FROM (SELECT unnest(toks) AS w FROM toks) u GROUP BY w),
      |tu AS (SELECT sum(n_w) AS t_uni FROM uni),
      |bi AS (
      |  SELECT w1, w2, count(*) AS n_ab FROM (
      |    SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
      |    FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i FROM toks
      |          WHERE len(toks) >= 2) p)
      |  GROUP BY w1, w2),
      |tb AS (SELECT sum(n_ab) AS t_bi FROM bi),
      |scored AS (
      |  SELECT b.w1, b.w2, CAST(b.n_ab AS BIGINT) AS n_ab,
      |    CAST(a.n_w AS BIGINT) AS n_a, CAST(c.n_w AS BIGINT) AS n_b,
      |    CAST(CAST(b.n_ab AS HUGEINT) * t_uni * t_uni * 1000000
      |      // (CAST(t_bi AS HUGEINT) * a.n_w * c.n_w) AS BIGINT) AS lift_ppm
      |  FROM bi b
      |  JOIN uni a ON a.w = b.w1
      |  JOIN uni c ON c.w = b.w2
      |  CROSS JOIN tu CROSS JOIN tb
      |  WHERE b.n_ab >= $MinCount),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rank
      |  FROM scored)
      |SELECT CAST(rank AS INT) AS rank, w1, w2, n_ab, n_a, n_b, lift_ppm
      |FROM r WHERE rank <= $TopCollocations
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------
  // txt_vocab_growth — Heaps'-law vocabulary growth curve: how many
  // NEW word types each successive tenth of the corpus contributes
  // (the saturation read behind tokenizer-vocab sizing and
  // more-data-vs-more-epochs calls). Each type is attributed to the
  // FIRST document (by corpus order = doc_id) that contains it:
  // first_doc = min(doc_id) per type — a single map-side-combined
  // aggregate, NO cumulative-distinct scan (the naive prefix-distinct
  // is quadratic; min-per-type + a decile histogram + prefix sum is
  // the linear equivalent). Docs are decile-bucketed by rank over the
  // doc dimension, and the 10-row curve carries per-decile new types,
  // cumulative vocabulary, and cumulative token mass.
  //
  // Corpus-order deciles are ID-RANGE tenths ((doc_id − min_id)·10
  // DIV span) against two broadcast scalars — NOT a global
  // row_number, which would funnel the whole doc dimension through
  // one sort task at 100 TB (and is exactly the unpartitioned-window
  // shape PlanGuardSpec rejects over raw inputs). With dense ids the
  // two are identical; with sparse ids range-tenths is still a
  // well-defined "corpus order" and stays map-only.
  //
  // Plan shape: token explode → min-per-type aggregate (vocab-keyed,
  // map-combinable) → join against the doc-decile dimension (doc-id
  // keyed, dim-sized) → 10-row histogram + prefix windows. Linear in
  // corpus tokens, one pass.
  // ---------------------------------------------------------------
  private def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val ids = docs.agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    val buckets = docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .crossJoin(broadcast(ids))
      .select(col("doc_id"), col("n_toks"),
        expr("(doc_id - min_id) * 10 DIV (max_id - min_id + 1)").as("decile"))
      .localCheckpoint() // doc-grain, two consumers (type-attribution join + decile stats)
    val firstDoc = docs
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
    val newTypes = firstDoc
      .join(buckets.select(col("doc_id").as("first_doc"), col("decile")), "first_doc")
      .groupBy("decile").agg(count(lit(1)).as("new_types"))
    val docStats = buckets.groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docStats.join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("vocab_cum", sum(col("new_types")).over(cum))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(cum))
      .orderBy("decile")
  }

  private val vocabGrowthSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |ids AS (SELECT min(doc_id) AS min_id, max(doc_id) AS max_id FROM d),
      |buckets AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
      |    CAST((doc_id - min_id) * 10 // (max_id - min_id + 1) AS BIGINT) AS decile
      |  FROM d CROSS JOIN ids),
      |fd AS (
      |  SELECT w, min(doc_id) AS first_doc
      |  FROM (SELECT doc_id, unnest(toks) AS w FROM d) u GROUP BY w),
      |nt AS (
      |  SELECT b.decile, count(*) AS new_types
      |  FROM fd JOIN buckets b ON fd.first_doc = b.doc_id GROUP BY 1),
      |ds AS (
      |  SELECT decile, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |  FROM buckets GROUP BY decile)
      |SELECT ds.decile, ds.n_docs, ds.n_tokens,
      |  CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types,
      |  CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY ds.decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
      |  CAST(sum(ds.n_tokens) OVER (ORDER BY ds.decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum
      |FROM ds LEFT JOIN nt ON ds.decile = nt.decile
      |ORDER BY ds.decile""".stripMargin

  // ---------------------------------------------------------------
  // txt_dup_coverage — per-document duplicated-shingle coverage, the
  // RefinedWeb/Gopher-style QUALITY signal the dedup family's pair
  // ops don't produce: a doc that shares 80% of its word 3-grams
  // with the rest of the corpus is boilerplate/template even when no
  // single partner crosses a pair threshold. For each doc,
  //   coverage_ppm = (#shingles with corpus doc-freq > 1)·10⁶ DIV #shingles
  // then the corpus-level histogram by coverage decile (full-dup docs
  // clamp into the top band) — the distribution a curation policy
  // thresholds on. Same 60-bit md5 shingle ids and ≥3-token scope as
  // the dedup family, so the signal composes with its pair graph; an
  // id collision can merge two shingles but both engines derive the
  // identical ids, so the gate is unaffected.
  //
  // Plan shape: postings explode → doc-freq aggregate on the 8-byte
  // sid (map-side combined) → one sid-keyed join back to postings →
  // per-doc aggregate → 10-row histogram. Linear inverted index,
  // never doc×doc. At 100 TB the two sid shuffles are the whole
  // cost; a df>1000 hot-shingle cap is unnecessary here because df
  // only feeds the >1 indicator, never a fan-out join.
  // ---------------------------------------------------------------
  private def dupCoverage(s: SparkSession, dir: String): DataFrame = {
    val postings = TextOps.withTokens(Tables.load(s, dir, "documents"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr("graft_shingles3(toks)"))
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), expr(Dedup.sid32Spark).as("sid"))
      .localCheckpoint()
    val df = postings.groupBy("sid").agg(count(lit(1)).as("df"))
    val perDoc = postings.join(df, "sid")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_sh"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"),
        col("n_sh"), col("n_dup"),
        expr("CAST(n_dup * 1000000 DIV n_sh AS BIGINT)").as("cov_ppm"))
    perDoc
      .select(expr("CAST(least(cov_ppm DIV 100000, 9) AS INT)").as("decile"),
        col("n_sh"), col("n_dup"))
      .groupBy("decile").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("shingles_total"),
        sum(col("n_dup")).as("dup_shingles_total"))
      .orderBy("decile")
  }

  private val dupCoverageSql =
    s"""${Dedup.shinglesDuck},
      |p AS (
      |  SELECT doc_id, ${Dedup.sid32Duck} AS sid
      |  FROM (SELECT doc_id, unnest(sh) AS g FROM s) u),
      |f AS (SELECT sid, count(*) AS df FROM p GROUP BY 1),
      |d AS (
      |  SELECT p.doc_id, count(*) AS n_sh,
      |    sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS n_dup
      |  FROM p JOIN f ON p.sid = f.sid GROUP BY 1),
      |c AS (SELECT doc_id, n_sh, n_dup, n_dup * 1000000 // n_sh AS cov_ppm FROM d)
      |SELECT CAST(least(cov_ppm // 100000, 9) AS INT) AS decile,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_sh) AS BIGINT) AS shingles_total,
      |  CAST(sum(n_dup) AS BIGINT) AS dup_shingles_total
      |FROM c
      |GROUP BY 1
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------
  // txt_zipf_coverage — head-of-vocabulary mass coverage (the Zipf
  // read behind tokenizer-vocab sizing: what share of all token
  // occurrences do the top 10 / 100 / 1000 types absorb? A corpus
  // whose top-1000 covers 95% rewards a small vocab + byte fallback;
  // one where it covers 40% doesn't): token-frequency aggregate,
  // deterministic top-1000 types by (freq DESC, term ASC), exact
  // cumulative ppm share of total token mass at each head size.
  //
  // Plan shape: corpus scan → vocab-keyed frequency aggregate
  // (map-side combined) → TakeOrdered(1000) — per-partition top-k
  // heaps, NEVER a global vocab sort (a 100 TB corpus vocabulary is
  // itself data-sized) → windows/joins over the 1000-row head plus
  // one broadcast total-mass scalar.
  // ---------------------------------------------------------------
  private val ZipfHeads = Seq(10, 100, 1000)

  private def zipfCoverage(s: SparkSession, dir: String): DataFrame = {
    val freq = TextOps.withTokens(Tables.load(s, dir, "documents"))
      .select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .localCheckpoint() // vocab-sized; consumed by the mass scalar + every head branch
    val tot = freq.agg(sum(col("freq")).as("t_mass"), count(lit(1)).as("n_types"))
    val head = freq.orderBy(col("freq").desc, col("term")).limit(ZipfHeads.max)
    val rn = Window.orderBy(col("freq").desc, col("term"))
    val ranked = head.withColumn("rn", row_number().over(rn))
    val heads = ZipfHeads.map { k =>
      ranked.filter(col("rn") <= k)
        .agg(lit(k).cast("int").as("head_k"), sum(col("freq")).as("head_mass"))
    }.reduce(_ unionByName _)
    heads.crossJoin(broadcast(tot))
      .select(col("head_k"), col("head_mass"), col("t_mass"), col("n_types"),
        expr("CAST(head_mass * 1000000 DIV t_mass AS BIGINT)").as("share_ppm"))
      .orderBy("head_k")
  }

  private val zipfCoverageSql = {
    val heads = ZipfHeads.map(k =>
      s"SELECT $k AS head_k, sum(freq) AS head_mass FROM ranked WHERE rn <= $k")
      .mkString("", "\nUNION ALL\n", "")
    s"""WITH f AS (
      |  SELECT g AS term, count(*) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS g FROM documents) u
      |  GROUP BY 1),
      |tot AS (SELECT sum(freq) AS t_mass, count(*) AS n_types FROM f),
      |ranked AS (
      |  SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rn
      |  FROM f ORDER BY freq DESC, term LIMIT ${ZipfHeads.max}),
      |h AS ($heads)
      |SELECT CAST(head_k AS INT) AS head_k, CAST(head_mass AS BIGINT) AS head_mass,
      |  CAST(t_mass AS BIGINT) AS t_mass, CAST(n_types AS BIGINT) AS n_types,
      |  CAST(head_mass * 1000000 // t_mass AS BIGINT) AS share_ppm
      |FROM h CROSS JOIN tot
      |ORDER BY head_k""".stripMargin
  }

  // ---------------------------------------------------------------
  // txt_bpe_tokens — TOKENIZER-FAITHFUL token accounting (r11): the
  // curation gates budgeted in whitespace tokens, which mis-estimate
  // what a real subword tokenizer charges by 1.3–2×; this op counts
  // COMPILE-TIME-BPE tokens per document (functions.Bpe: rank-ordered
  // merge table embedded like the IntLn/IntProbit constants; greedy
  // lowest-rank-first merge-all inference, the GPT-2 convention).
  // Pre-tokenizer: ASCII-letter runs [A-Za-z]+ extracted FIRST, then
  // per-word lower() — lowering only pure-ASCII words keeps the two
  // engines' unicode case rules out of the parity surface. Emits
  // whitespace-free evidence beside the count: word count, letter
  // count, and tokens-per-char ppm (the compression a trained BPE is
  // FOR — here ~0.5–0.8 of chars, vs 1.0 for char-level).
  //
  // Plan shape: PURE MAP — the word array never explodes; per-doc
  // sums run as aggregate() HOFs over the extracted array with the
  // native graft_bpe_count kernel per word, so the only exchange is
  // the gate's orderBy. Each occurrence re-runs the ~µs kernel; at
  // 100 TB a deployment may instead dedupe the vocab and broadcast-
  // join word→len, trading two vocab-grain shuffles for the kernel —
  // the map-only form wins until the kernel dominates the scan.
  // The DuckDB oracle derives the SAME counts through a RECURSIVE
  // CTE applying the same merge table over the same double-separator
  // encoding (a third, spec-side derivation pair-scans token lists).
  // ---------------------------------------------------------------
  private def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("transform(regexp_extract_all(text, '[A-Za-z]+', 0), w -> lower(w))").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("n_chars"),
        expr("aggregate(ws, 0L, (a, w) -> a + graft_bpe_count(w))").as("n_bpe_tokens"))
      .withColumn("bpe_ratio_ppm", expr(
        "CASE WHEN n_chars = 0 THEN 0L ELSE n_bpe_tokens * 1000000 DIV n_chars END"))
      .orderBy("doc_id")
  }

  private val bpeTokensSql = {
    import graft.functions.Bpe
    s"""WITH RECURSIVE
      |m(rank, pat, rep) AS (VALUES ${Bpe.duckMergesValues}),
      |wd AS (SELECT doc_id, lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
      |       FROM documents),
      |v AS (SELECT DISTINCT w FROM wd),
      |it AS (
      |  SELECT w, ${Bpe.duckEnc("w")} AS s FROM v
      |  UNION ALL
      |  SELECT w, replace(s, m.pat, m.rep) AS s
      |  FROM (SELECT w, s,
      |          (SELECT min(rank) FROM m WHERE contains(j.s, m.pat)) AS br
      |        FROM it j) j2
      |  JOIN m ON m.rank = j2.br),
      |fin AS (
      |  SELECT w, s FROM it
      |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE contains(it.s, m.pat))),
      |toks AS (SELECT w,
      |    CAST((length(s) - length(replace(s, '${Bpe.Sep}', ''))) // 2 AS BIGINT) AS t
      |  FROM fin),
      |per AS (
      |  SELECT wd.doc_id, count(*) AS n_words,
      |    CAST(sum(length(wd.w)) AS BIGINT) AS n_chars,
      |    CAST(sum(t.t) AS BIGINT) AS n_bpe_tokens
      |  FROM wd JOIN toks t ON wd.w = t.w GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(p.n_words, 0) AS n_words,
      |  coalesce(p.n_chars, 0) AS n_chars,
      |  coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  CASE WHEN coalesce(p.n_chars, 0) = 0 THEN 0
      |       ELSE coalesce(p.n_bpe_tokens, 0) * 1000000 // p.n_chars END AS bpe_ratio_ppm
      |FROM documents d LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // txt_bpe_train — BPE merge-table LEARNING (Sennrich 2016), the
  // training step whose OUTPUT is what txt_bpe_tokens' compile-time
  // table stands in for: K rounds of (count adjacent token pairs
  // over the vocab weighted by word frequency → merge the most
  // frequent pair everywhere → repeat). Same pre-tokenizer and
  // double-separator encoding as inference; pair counting is
  // ALL-adjacent-positions (the standard learn_bpe convention —
  // "aaa" counts (a,a) twice) while the merge application is
  // non-overlapping left-to-right (replace-all), both engine-
  // identical. Argmax tie-break (count DESC, left, right) makes the
  // learned table a total function of the corpus.
  //
  // Plan shape: the vocab (DISTINCT word + frequency) is built once
  // off the corpus scan and localCheckpoint'd; each round is one
  // vocab-grain pair aggregate + a 1-ROW argmax collect (the merge
  // DECISION is config data — the ev_markov driver-side convention)
  // + a map-only replace. At 100 TB the vocab relation is the only
  // distributed state and rounds stay vocab-grain; K is a compile-
  // time constant. The DuckDB oracle unrolls the same K rounds as
  // chained CTEs over the same encoding.
  // ---------------------------------------------------------------
  private[graft] val BpeTrainRounds = 8

  /** The K-round training loop shared by txt_bpe_train (which gates
    * the learned table itself) and txt_bpe_roundtrip (which drives
    * INFERENCE with it): returns (rank, left, right, merged, count)
    * per learned merge — config-sized driver data, the ev_markov
    * convention.
    */
  private[ops] def trainMerges(s: SparkSession, dir: String)
      : Seq[(Long, String, String, String, Long)] = {
    val vocab = Tables.load(s, dir, "documents")
      .select(explode(expr(
        "transform(regexp_extract_all(text, '[A-Za-z]+', 0), w -> lower(w))")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .withColumn("s", expr("regexp_replace(w, '(.)', '|$1|')"))
      .localCheckpoint()
    var v = vocab
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var continue = true
    var r = 1
    while (continue && r <= BpeTrainRounds) {
      val top = v
        .withColumn("t", expr("split(trim(BOTH '|' FROM s), '\\\\|\\\\|')"))
        .filter(size(col("t")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(0, size(t)-2), i -> struct(t[i] AS a, t[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, a + b, c))
        v = v.withColumn("s", expr(s"replace(s, '|$a||$b|', '|$a$b|')"))
        r += 1
      }
    }
    merges.toSeq
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainMerges(s, dir)
      .toDF("rank", "pair_left", "pair_right", "merged", "pair_count")
      .orderBy("rank")
  }

  /** The oracle's training unroll (v0 → v_K CTE chain), shared by
    * txt_bpe_train (reads the m_i merge decisions) and
    * txt_bpe_roundtrip (reads v_K, the final vocab segmentation).
    */
  private val bpeTrainCtes: String = {
    def round(i: Int): String =
      s"""p$i AS (
        |  SELECT a, b, CAST(sum(f) AS BIGINT) AS c FROM (
        |    SELECT f, t[i] AS a, t[i + 1] AS b FROM (
        |      SELECT f, t, unnest(range(1, len(t))) AS i FROM (
        |        SELECT f, string_split(trim(s, '|'), '||') AS t FROM v${i - 1}) z) y)
        |  GROUP BY a, b),
        |m$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
        |v$i AS (SELECT w, f, replace(s, '|' || a || '||' || b || '|', '|' || a || b || '|') AS s
        |        FROM v${i - 1} CROSS JOIN m$i)""".stripMargin
    val rounds = (1 to BpeTrainRounds).map(round).mkString(",\n")
    s"""WITH v0 AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f,
      |    regexp_replace(w, '(.)', '|\\1|', 'g') AS s
      |  FROM (SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
      |        FROM documents) u
      |  GROUP BY w),
      |$rounds""".stripMargin
  }

  private val bpeTrainSql = {
    val out = (1 to BpeTrainRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, a AS pair_left, b AS pair_right, a || b AS merged, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""$bpeTrainCtes
      |$out
      |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // txt_bpe_roundtrip — the train→apply BRIDGE (r12): txt_bpe_train
  // learns a merge table and txt_bpe_tokens applies a different,
  // compile-time one; this op proves the LEARNED artifact drives
  // inference end to end (the meta_update_roundtrip convention: a
  // learned config must round-trip into its consumer). Stage 1
  // re-runs the K-round trainer (merge decisions = config-sized
  // driver data); stage 2 tokenizes every document with the TRAINED
  // table — per word, the learned merges applied as chained literal
  // replace()s in rank order over the same double-separator encoding
  // (rank-order replace-all ≡ greedy lowest-rank inference for a
  // table learned on this corpus: a merge's operands both predate
  // its round, and merging never makes two older tokens newly
  // adjacent — TextPropsSpec re-proves the equivalence per corpus).
  // The DuckDB oracle re-derives BOTH stages its own way: the same
  // K-round CTE unroll, then token counts read from v_K — the
  // TRAINING segmentation — so the hash match IS the proof that
  // re-applying the learned table at inference reproduces exactly
  // what training built.
  //
  // Plan shape: training as txt_bpe_train (vocab-grain rounds);
  // inference is PURE MAP like txt_bpe_tokens (chained replaces
  // inside an aggregate() HOF over the per-doc word array — the only
  // exchange is the gate sort). At 100 TB the trained table is a
  // broadcast-free literal in the plan, exactly how a production
  // tokenizer ships.
  // ---------------------------------------------------------------
  private def bpeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    val merges = trainMerges(s, dir)
    // learned merges → one chained-replace expression per word
    // occurrence (tokens are [a-z]+ so the literals never need
    // escaping and never collide with the separator)
    val applied = merges.foldLeft("regexp_replace(w, '(.)', '|$1|')") {
      case (acc, (_, a, b, _, _)) => s"replace($acc, '${Bpe.pat(a, b)}', '${Bpe.rep(a, b)}')"
    }
    val cnt = s"(length($applied) - length(replace($applied, '|', ''))) DIV 2"
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("transform(regexp_extract_all(text, '[A-Za-z]+', 0), w -> lower(w))").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("n_chars"),
        expr(s"aggregate(ws, 0L, (a, w) -> a + ($cnt))").as("n_trained_tokens"))
      .withColumn("trained_ratio_ppm", expr(
        "CASE WHEN n_chars = 0 THEN 0L ELSE n_trained_tokens * 1000000 DIV n_chars END"))
      .orderBy("doc_id")
  }

  private val bpeRoundtripSql =
    s"""$bpeTrainCtes,
      |tok AS (SELECT w,
      |    CAST((length(s) - length(replace(s, '|', ''))) // 2 AS BIGINT) AS t
      |  FROM v$BpeTrainRounds),
      |wd AS (SELECT doc_id, lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
      |       FROM documents),
      |per AS (
      |  SELECT wd.doc_id, count(*) AS n_words,
      |    CAST(sum(length(wd.w)) AS BIGINT) AS n_chars,
      |    CAST(sum(t.t) AS BIGINT) AS n_trained_tokens
      |  FROM wd JOIN tok t ON wd.w = t.w GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(p.n_words, 0) AS n_words,
      |  coalesce(p.n_chars, 0) AS n_chars,
      |  coalesce(p.n_trained_tokens, 0) AS n_trained_tokens,
      |  CASE WHEN coalesce(p.n_chars, 0) = 0 THEN 0
      |       ELSE coalesce(p.n_trained_tokens, 0) * 1000000 // p.n_chars END AS trained_ratio_ppm
      |FROM documents d LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("txt_collocations", collocations, Some(collocationsSql)),
    Op("txt_vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    Op("txt_dup_coverage", dupCoverage, Some(dupCoverageSql)),
    Op("txt_zipf_coverage", zipfCoverage, Some(zipfCoverageSql)),
    Op("txt_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    Op("txt_bpe_train", bpeTrain, Some(bpeTrainSql)),
    Op("txt_bpe_roundtrip", bpeRoundtrip, Some(bpeRoundtripSql)))
}
