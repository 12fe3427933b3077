package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table — the
  * training-data-pipeline surface (SURVEY.md §2): token stats,
  * quality scoring, language ID, content fingerprinting.
  *
  * Everything is built from codegen'd `functions._` + SQL lambda
  * expressions (`transform`/`filter`/`aggregate`) — no UDFs, so the
  * whole pipeline stays inside WholeStageCodegen and scales linearly
  * with the corpus. Hashing is md5-derived (the only hash portable
  * to the DuckDB oracle — SURVEY.md §5).
  */
object TextOps {

  /** Tokenize: whitespace split of trimmed text. */
  def withTokens(df: DataFrame): DataFrame =
    df.withColumn("toks", split(trim(col("text")), "\\s+"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    withTokens(Tables.load(s, dir, "documents"))

  // ---------------------------------------------------------------
  // txt_stats — token counts, char counts, avg token length.
  // ---------------------------------------------------------------
  private def stats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("bigint").as("n_distinct_tokens"),
        length(trim(col("text"))).cast("bigint").as("n_chars"),
        // BPE-ish segmentation: letter runs | digit runs | single punct
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("bigint").as("n_bpe_tokens"),
        round(expr("aggregate(toks, 0, (acc, t) -> acc + length(t))").cast("double")
          / size(col("toks")), 4).as("avg_token_len"))
      .orderBy("doc_id")

  private val statsSql =
    """SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct_tokens,
      | length(trim(text)) AS n_chars,
      | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
      | round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)/len(toks), 4) AS avg_token_len
      |FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_quality — stopword / short-token / duplicate-token ratios +
  // composite score (all from exact integer counts, rounded once).
  // ---------------------------------------------------------------
  private[ops] val stopList = "'the','a','of','to','and','in','on','is'"

  private def quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n", size(col("toks")))
      .withColumn("stop_cnt", expr(s"size(filter(toks, x -> x IN ($stopList)))"))
      .withColumn("short_cnt", expr("size(filter(toks, x -> length(x) <= 2))"))
      .withColumn("dup_cnt", col("n") - size(array_distinct(col("toks"))))
      .select(
        col("doc_id"), col("n").cast("bigint").as("n_tokens"),
        round(col("stop_cnt").cast("double") / col("n"), 6).as("stop_ratio"),
        round(col("short_cnt").cast("double") / col("n"), 6).as("short_ratio"),
        round(col("dup_cnt").cast("double") / col("n"), 6).as("dup_ratio"),
        // composite in exact integer ppm: one truncating division, no
        // double-rounding midpoint jitter (weights 0.5/0.3/0.2 → 5/3/2 of 10)
        expr("(10 * n - (5 * dup_cnt + 3 * stop_cnt + 2 * short_cnt)) * CAST(100000 AS BIGINT) DIV n")
          .as("quality_ppm"))
      .orderBy("doc_id")

  private val qualitySql =
    s"""SELECT doc_id, n AS n_tokens,
      | round(CAST(stop_cnt AS DOUBLE)/n, 6) AS stop_ratio,
      | round(CAST(short_cnt AS DOUBLE)/n, 6) AS short_ratio,
      | round(CAST(dup_cnt AS DOUBLE)/n, 6) AS dup_ratio,
      | (10 * n - (5 * dup_cnt + 3 * stop_cnt + 2 * short_cnt)) * CAST(100000 AS BIGINT) // n AS quality_ppm
      |FROM (
      |  SELECT doc_id, len(toks) AS n,
      |    len(list_filter(toks, x -> x IN ($stopList))) AS stop_cnt,
      |    len(list_filter(toks, x -> length(x) <= 2)) AS short_cnt,
      |    len(toks) - len(list_distinct(toks)) AS dup_cnt
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents) t
      |) q
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_langid — stopword-list hit scoring per language, argmax with
  // alphabetical tiebreak. Deterministic: scores are distinct-token
  // intersection sizes (exact integers).
  // ---------------------------------------------------------------
  private val langLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"),
    "en" -> Seq("the", "and", "of", "a", "to", "in", "is", "that", "it", "on"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "une"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"))

  private def langid(s: SparkSession, dir: String): DataFrame = {
    val scored = langLists.foldLeft(docs(s, dir).withColumn("dt", array_distinct(col("toks")))) {
      case (df, (lang, words)) =>
        val arr = words.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"s_$lang",
          expr(s"size(array_intersect(dt, array($arr)))").cast("bigint"))
    }
    val m = greatest(langLists.map { case (l, _) => col(s"s_$l") }: _*)
    val predicted = langLists.map(_._1).init.foldRight(lit(langLists.last._1)) {
      case (lang, rest) => when(col(s"s_$lang") === m, lit(lang)).otherwise(rest)
    }
    scored
      .select(Seq(col("doc_id"), col("lang").as("labeled_lang"),
        predicted.as("predicted")) ++ langLists.map { case (l, _) => col(s"s_$l") }: _*)
      .orderBy("doc_id")
  }

  private val langidSql = {
    val scoreCols = langLists.map { case (l, words) =>
      val arr = words.map(w => s"'$w'").mkString(", ")
      s"len(list_intersect(dt, [$arr])) AS s_$l"
    }.mkString(",\n    ")
    val m = langLists.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val pred = langLists.map(_._1).init
      .map(l => s"WHEN s_$l = $m THEN '$l'")
      .mkString("CASE ", " ", s" ELSE '${langLists.last._1}' END")
    s"""SELECT doc_id, lang AS labeled_lang, $pred AS predicted,
      | s_de, s_en, s_es, s_fr, s_zh
      |FROM (
      |  SELECT doc_id, lang,
      |    $scoreCols
      |  FROM (SELECT doc_id, lang, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS dt
      |        FROM documents) t
      |) sc
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // txt_fingerprint — order-sensitive polynomial rolling hash over
  // md5-derived token ids (content-defined document identity).
  // ---------------------------------------------------------------
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        expr(
          """aggregate(
            |  transform(toks, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)),
            |  CAST(0 AS BIGINT),
            |  (acc, h) -> (acc * 31 + h) % 1000000007)""".stripMargin).as("fp"),
        size(col("toks")).cast("bigint").as("n_tokens"))
      .orderBy("doc_id")

  private val fingerprintSql =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(toks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |   (acc, h) -> (acc * 31 + h) % 1000000007) AS fp,
      | len(toks) AS n_tokens
      |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_ngram_freq — corpus-level top-50 word bigrams: explode →
  // count → deterministic rank. Map-side partial aggregation keeps
  // the shuffle at vocabulary size, not corpus size.
  // ---------------------------------------------------------------
  private def ngramFreq(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(expr(
        """transform(sequence(1, size(toks)-1),
          |  i -> element_at(toks,i) || ' ' || element_at(toks,i+1))""".stripMargin)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)

  private val ngramFreqSql =
    """SELECT bigram, count(*) AS n
      |FROM (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |           i -> toks[i] || ' ' || toks[i+1])) AS bigram
      |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents) t
      |) b
      |GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------
  // txt_tfidf — top-3 characteristic terms per document. The idf is
  // the raw inverse document-frequency ratio in integer ppm
  // (tf · 10^6 · N ÷ df — log-free: ln() is libm-dependent and NOT
  // bit-portable across engines, integer division is). Postings are
  // (doc, term, tf) from one explode+groupBy; df is a groupBy over
  // distinct postings — both shuffles are vocabulary-sized after
  // map-side partial aggregation, never corpus-sized.
  // ---------------------------------------------------------------
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val nDocs = d.count()
    // postings feed the df aggregate AND the join back — without the
    // checkpoint the tokenize+explode+tf chain ran once per consumer
    // (the bm25/dup_coverage two-pass shape; r16 paired A/B on those
    // ops measured the duplicate CPU-bound and the checkpoint a
    // 30–50% win at sf0.1)
    val postings = d.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("term"))
    postings.join(dfreq, "term")
      // integer division on BOTH engines (Spark DIV == DuckDB // for
      // positives); a double division + cast would truncate in Spark
      // but ROUND in DuckDB
      .withColumn("score_ppm", expr(s"tf * CAST(1000000 AS BIGINT) * $nDocs DIV df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "df", "score_ppm")
      .orderBy("doc_id", "rank")
  }

  private val tfidfSql =
    """WITH postings AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM postings GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf.tf, dfreq.df,
      |    CAST(tf.tf * 1000000 * n.n_docs // dfreq.df AS BIGINT) AS score_ppm
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score_ppm
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // txt_bm25 — retrieval-grade ranking for a fixed query, the scorer
  // txt_tfidf isn't: BM25's two innovations are term-frequency
  // SATURATION (the 10th 'spark' is worth less than the 2nd — raw
  // tf·idf grows linearly forever) and document-LENGTH normalization
  // (a term hit in a short doc outranks the same hit in a long one).
  // Both are EXACTLY rational with k1 = 6/5, b = 3/4: multiplying
  // the classic tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) through by
  // 20·avgdl gives
  //   contribution = idf_ppm · 44·tf·avgdl DIV (20·avgdl·tf + 6·avgdl + 18·dl)
  // — all BIGINT, truncating DIV over positives, engine-identical
  // (avgdl = Σdl DIV N, the same integer quantization every ppm op
  // documents). The idf is EXACT ln-faithful (r10, deleting the v1
  // deviation): idf_milli = lnMilli(2N+2) − lnMilli(2·df+1)
  // ≈ 1000·ln((N+1)/(df+0.5)) — the classic BM25 idf — computed
  // through a PRECOMPUTED integer table, the same pattern as HLL's
  // linear-counting constants: lnMilli(x) decomposes x into
  // 2^k · mantissa (k = length(bin(x)) − 1, identical in both
  // engines — both bin()s drop leading zeros) and reads two 64-entry
  // milli-ln tables interpolated into BOTH plans as literals, so no
  // runtime transcendental executes on either engine and the
  // cross-term mix is ln-faithful to ±8 milli per term (the mantissa
  // table's 1/64 mid-bucket quantization; spec-pinned against real
  // ln). Positive by
  // construction (df ≤ N ⇒ 2N+2 > 2df+1); domain x < 2^55 covers
  // any conceivable corpus count. Query = one rare + two common
  // terms so the idf spread and the saturation path are both
  // exercised.
  //
  // Plan shape: postings + dl are the two corpus-sized map-side-
  // combined aggregates txt_tfidf already pays; the query filter is
  // a 3-row broadcast join (at 100 TB the postings join touches only
  // the query terms' postings); top-20 compiles to
  // TakeOrderedAndProject — k-bounded, no global sort.
  // ---------------------------------------------------------------
  private val Bm25Query = Seq("dup", "spark", "merge")

  // the integer-ln machinery lives in graft.functions.IntLn (shared
  // with etl_dp_counts' Laplace inverse-CDF)
  private def lnMilliSpark(x: String): String = graft.functions.IntLn.spark(x)
  private def lnMilliDuck(x: String): String = graft.functions.IntLn.duck(x)
  private[graft] def lnMilliRef(x: Long): Long = graft.functions.IntLn.ref(x)

  private def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val nDocs = d.count()
    val postings = d.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = postings.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    // integer DIV, not double division + cast: Spark's cast truncates
    // where a float sum could already have drifted at 10^15 tokens
    val avg = dl.agg(expr("CAST(sum(dl) DIV count(1) AS BIGINT)").as("avgdl"))
    val dfreq = postings.join(broadcast(Bm25Query.toDF("term")), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf_milli", expr(
        s"${lnMilliSpark(s"${2 * nDocs + 2}L")} - ${lnMilliSpark("2 * df + 1")}"))
    postings.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(avg))
      .withColumn("c_milli", expr(
        "idf_milli * (44 * tf * avgdl) DIV (20 * avgdl * tf + 6 * avgdl + 18 * dl)"))
      .groupBy("doc_id")
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("n_terms_hit"),
        sum(col("c_milli")).as("score_milli"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(20)
  }

  private val bm25Sql = {
    val terms = Bm25Query.map(t => s"('$t')").mkString(", ")
    s"""WITH postings AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM postings GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |avg AS (SELECT CAST(sum(dl) // count(*) AS BIGINT) AS avgdl FROM dl),
      |q AS (SELECT * FROM (VALUES $terms) AS v(term)),
      |dfreq AS (SELECT tf.term, count(*) AS df FROM tf JOIN q USING (term) GROUP BY 1),
      |idf AS (SELECT term, df,
      |    ${lnMilliDuck("2 * n.n_docs + 2")} - ${lnMilliDuck("2 * df + 1")} AS idf_milli
      |  FROM dfreq CROSS JOIN n),
      |c AS (SELECT tf.doc_id, dl.dl,
      |    idf.idf_milli * (44 * tf.tf * a.avgdl)
      |      // (20 * a.avgdl * tf.tf + 6 * a.avgdl + 18 * dl.dl) AS c_milli
      |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN avg a),
      |scored AS (SELECT doc_id, max(dl) AS dl,
      |    CAST(count(*) AS BIGINT) AS n_terms_hit,
      |    CAST(sum(c_milli) AS BIGINT) AS score_milli
      |  FROM c GROUP BY 1)
      |SELECT doc_id, dl, n_terms_hit, score_milli FROM (
      |  SELECT *, row_number() OVER (ORDER BY score_milli DESC, doc_id) AS rk
      |  FROM scored) z
      |WHERE rk <= 20
      |ORDER BY score_milli DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // txt_pii_scrub — PII redaction, the compliance gate every
  // training-data pipeline runs before tokenization. The corpus is
  // synthetic (no real PII), so the op DERIVES deterministic
  // email/phone strings into a third of the docs first (both engines
  // synthesize identically, like the multimodal payload synth), then
  // scrubs with explicit-class regexes — no \w/\d shorthands, whose
  // unicode semantics differ between Java regex and RE2-style
  // engines — and reports per-doc redaction counts + the md5 of the
  // cleaned text. Redaction must be idempotent and total: the hash
  // gate fails if one engine leaves a partial match behind.
  // ---------------------------------------------------------------
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
  private val PhoneRe = "[+][0-9]{2}-[0-9]{3}-[0-9]{4}"

  private def piiScrub(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("seeded", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +00-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .withColumn("n_emails",
        size(split(col("seeded"), EmailRe, -1)).cast("bigint") - 1)
      .withColumn("n_phones",
        size(split(col("seeded"), PhoneRe, -1)).cast("bigint") - 1)
      .withColumn("clean",
        regexp_replace(regexp_replace(col("seeded"), EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  private val piiScrubSql =
    s"""WITH seeded AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 3 = 0
      |      THEN ' contact user' || doc_id || '@example.com or +00-555-' ||
      |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END AS seeded
      |  FROM documents)
      |SELECT doc_id,
      |  len(string_split_regex(seeded, '$EmailRe')) - 1 AS n_emails,
      |  len(string_split_regex(seeded, '$PhoneRe')) - 1 AS n_phones,
      |  md5(regexp_replace(regexp_replace(seeded, '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g')) AS clean_md5
      |FROM seeded
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_decontaminate — eval-set contamination check: the standard
  // pre-training hygiene step (strip training docs that overlap a
  // held-out benchmark). The "eval set" here is the deterministic 2%
  // hash sample of the corpus (the same md5-threshold membership the
  // sampling family uses — reproducible, growth-stable); every other
  // doc is scored by the fraction of its 3-gram shingles that appear
  // ANYWHERE in the eval set. Scale shape: the eval shingle universe
  // is small by construction (eval sets are curated benchmarks, not
  // corpora) → broadcast semi-join against the train postings; one
  // partial-aggregated shuffle on doc_id for the per-doc counts.
  // Integer outputs only (shingle counts) — no FP hash hazard.
  // ---------------------------------------------------------------
  private[ops] val EvalBp = 200L // 2.00% hash sample plays the eval set
  private[ops] val ContamPct = 50L // flag at >= 50% shingle overlap

  private[ops] def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr("graft_shingles3(toks)"))
      .withColumn("is_eval",
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000") < EvalBp)
      .select(col("doc_id"), col("is_eval"), explode(col("sh")).as("g"))
      .select(col("doc_id"), col("is_eval"), expr(Dedup.sid60Spark).as("sid"))
    val evalSids = sh.filter(col("is_eval")).select("sid").distinct()
    sh.filter(!col("is_eval"))
      .join(broadcast(evalSids.withColumn("hit", lit(1))), Seq("sid"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .filter(col("n_hit") > 0)
      .withColumn("contaminated",
        when(col("n_hit") * 100 >= col("n_sh") * ContamPct, lit(1)).otherwise(lit(0)))
      .select("doc_id", "n_sh", "n_hit", "contaminated")
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |s AS (SELECT doc_id,
      |        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 < $EvalBp AS is_eval,
      |        list_distinct(list_transform(range(1, len(toks)-1),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |      FROM t WHERE len(toks) >= 3),
      |post AS (SELECT doc_id, is_eval, ${Dedup.sid60Duck} AS sid
      |         FROM (SELECT doc_id, is_eval, unnest(sh) AS g FROM s) u),
      |ev AS (SELECT DISTINCT sid FROM post WHERE is_eval),
      |hits AS (
      |  SELECT p.doc_id, count(*) AS n_sh,
      |    CAST(sum(CASE WHEN ev.sid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM post p LEFT JOIN ev ON p.sid = ev.sid
      |  WHERE NOT p.is_eval
      |  GROUP BY p.doc_id)
      |SELECT doc_id, n_sh, n_hit,
      |  CASE WHEN n_hit * 100 >= n_sh * $ContamPct THEN 1 ELSE 0 END AS contaminated
      |FROM hits WHERE n_hit > 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_heavy_hitters — Count-Min-sketch heavy hitters: the mergeable
  // frequency sketch a streaming/distributed pipeline keeps when the
  // exact vocabulary histogram is too big (Cormode & Muthukrishnan,
  // J. Algorithms 2005). d = 4 hash rows × w = 1024 buckets of exact
  // BIGINT counts; a token's estimate = min over rows of its bucket
  // count — always ≥ the true count (collisions only ADD), within
  // εN w.h.p. The sketch build is ONE partial-aggregated shuffle of
  // d·w bounded cells (map-side combine — the mergeability that makes
  // it a sketch: per-partition sketches SUM cell-wise); estimation
  // joins the distinct-token table to the broadcast 4096-cell sketch.
  // The top-k by estimate then joins its EXACT counts back (k rows
  // only) to surface the overestimate gap the spec bounds. All
  // integer arithmetic on md5-derived token ids with the MinHash perm
  // constants — deterministic and engine-portable, so the whole
  // sketch replicates in DuckDB.
  // ---------------------------------------------------------------
  private val CmsRows = 4
  private val CmsWidth = 1024L
  private val CmsTopK = 20
  private val CmsP = 2147483647L

  private def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val perms = graft.functions.GraftFunctions.minhashPerms.take(CmsRows)
    val toks = docs(s, dir)
      .select(explode(col("toks")).as("g"))
      .withColumn("sid", expr(Dedup.sid32Spark))
    def bucket(r: Int): String = {
      val (a, b) = perms(r)
      s"(($a * sid + $b) % $CmsP) % $CmsWidth"
    }
    // sketch: d×w cell counts, built in one map-side-combined pass
    val cells = toks
      .select(posexplode(array((0 until CmsRows).map(r => expr(bucket(r))): _*))
        .as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    // estimate every distinct token against the broadcast sketch
    val est = toks.groupBy("g", "sid").agg(count(lit(1)).as("exact_count"))
      .withColumn("r", explode(expr(s"sequence(0, ${CmsRows - 1})")))
      .withColumn("bucket", expr(
        (0 until CmsRows).map(r => s"WHEN $r THEN ${bucket(r)}")
          .mkString("CASE r ", " ", " END")))
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy("g", "exact_count").agg(min(col("c")).as("est_count"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("est_count").desc, col("g"))
    est
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CmsTopK)
      .select(col("rk"), col("g").as("token"), col("est_count"), col("exact_count"))
      .orderBy("rk")
  }

  private val heavyHittersSql = {
    val perms = graft.functions.GraftFunctions.minhashPerms.take(CmsRows)
    def bucket(r: Int): String = {
      val (a, b) = perms(r)
      s"(($a * sid + $b) % $CmsP) % $CmsWidth"
    }
    val bucketRows = (0 until CmsRows)
      .map(r => s"SELECT sid, $r AS r, ${bucket(r)} AS bucket FROM toks")
      .mkString("\n  UNION ALL ")
    val bucketCase = (0 until CmsRows).map(r => s"WHEN $r THEN ${bucket(r)}")
      .mkString("CASE r ", " ", " END")
    s"""WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
      |toks AS (SELECT ${Dedup.sid32Duck} AS sid, g
      |         FROM (SELECT unnest(tk) AS g FROM t) u),
      |cells AS (
      |  SELECT r, bucket, count(*) AS c FROM (
      |  $bucketRows) b
      |  GROUP BY r, bucket),
      |vocab AS (SELECT g, sid, count(*) AS exact_count FROM toks GROUP BY g, sid),
      |est AS (
      |  SELECT v.g, v.exact_count, CAST(min(c.c) AS BIGINT) AS est_count
      |  FROM (SELECT g, sid, exact_count, $bucketCase AS bucket, r
      |        FROM vocab, (SELECT CAST(unnest(range(0, $CmsRows)) AS INT) AS r) rs) v
      |  JOIN cells c ON v.r = c.r AND v.bucket = c.bucket
      |  GROUP BY v.g, v.exact_count)
      |SELECT CAST(row_number() OVER (ORDER BY est_count DESC, g) AS INT) AS rk,
      |  g AS token, est_count, CAST(exact_count AS BIGINT) AS exact_count
      |FROM est
      |ORDER BY est_count DESC, g
      |LIMIT $CmsTopK""".stripMargin
  }

  // ---------------------------------------------------------------
  // txt_repetition — intra-document repetition signals (the Gopher /
  // MassiveText quality-filter family): per doc, the share of bigram
  // POSITIONS occupied by the single most frequent bigram and by any
  // bigram occurring more than once. Highly repetitive machine-
  // generated text spikes both; all counts are exact integers and the
  // ratios one truncating ppm division, so the oracle matches bit-for-
  // bit. One explode + two map-side-combined aggregations per doc —
  // no cross-doc shuffle at all, linear in corpus tokens.
  // ---------------------------------------------------------------
  private def repetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_pos"))
      .select(col("doc_id"), col("n_bigrams"), col("top_c"),
        expr("top_c * CAST(1000000 AS BIGINT) DIV n_bigrams").as("top_ppm"),
        expr("dup_pos * CAST(1000000 AS BIGINT) DIV n_bigrams").as("dup_ppm"))
      .orderBy("doc_id")

  private val repetitionSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i+1])) AS bg
      |      FROM t WHERE len(toks) >= 2),
      |c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS top_c,
      |        CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_pos
      |      FROM c GROUP BY 1)
      |SELECT doc_id, n_bigrams, top_c,
      |  top_c * CAST(1000000 AS BIGINT) // n_bigrams AS top_ppm,
      |  dup_pos * CAST(1000000 AS BIGINT) // n_bigrams AS dup_ppm
      |FROM a
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_boilerplate — cross-document boilerplate detection within
  // each source: a trigram occurring in ≥2 distinct docs of the same
  // source is boilerplate (headers, footers, navigation chrome — the
  // CCNet/RefinedWeb line-dedup signal, at token-trigram grain since
  // the corpus is single-line). Per doc: total trigram positions,
  // boilerplate positions, truncating-ppm ratio. Plan shape is the
  // linear inverted-index pattern: explode positions, map-side-
  // combined df per (source, gram), hash-join the df back (a lookup,
  // never a self-join — no quadratic pair blowup on hot grams).
  // ---------------------------------------------------------------
  private val BoilerplateMinDf = 2

  private def boilerplate(s: SparkSession, dir: String): DataFrame = {
    // gram → 60-bit md5 id BEFORE the df-count and the join-back (the
    // dedup-family move), and the skinny (doc, source, gid) relation
    // staged once instead of re-deriving the explode per consumer.
    // Both engines derive the SAME id, so the hash gate stays exact
    // even in the (negligible) collision case. A/B at sf0.1: ~wash
    // (2.05 s → 1.75-2.3 s; the md5 cost offsets the narrower
    // shuffle at this scale) — kept for the 100 TB shape, where the
    // df-count + join shuffle 8-byte ids instead of trigram STRINGS
    // (~25× the bytes through two corpus-wide shuffles).
    val grams = docs(s, dir)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"), explode(
        expr("transform(sequence(0, size(toks)-3), " +
          "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")).as("g"))
      .select(col("doc_id"), col("source"), expr(Dedup.sid60Spark).as("gid"))
      .localCheckpoint()
    val gramDf = grams.groupBy("source", "gid")
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(gramDf, Seq("source", "gid"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= BoilerplateMinDf, 1L).otherwise(0L)).as("bp_pos"))
      .select(col("doc_id"), col("n_grams"), col("bp_pos"),
        expr("bp_pos * CAST(1000000 AS BIGINT) DIV n_grams").as("bp_ppm"))
      .orderBy("doc_id")
  }

  private val boilerplateSql =
    s"""WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |g0 AS (SELECT doc_id, source, unnest(list_transform(range(1, len(toks)-1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |      FROM t WHERE len(toks) >= 3),
      |g AS (SELECT doc_id, source, ${graft.ops.Dedup.sid60Duck} AS gid FROM g0),
      |df AS (SELECT source, gid, count(DISTINCT doc_id) AS df FROM g GROUP BY 1, 2),
      |per AS (SELECT g.doc_id, count(*) AS n_grams,
      |          CAST(sum(CASE WHEN df.df >= $BoilerplateMinDf THEN 1 ELSE 0 END) AS BIGINT) AS bp_pos
      |        FROM g JOIN df ON g.source = df.source AND g.gid = df.gid
      |        GROUP BY 1)
      |SELECT doc_id, n_grams, bp_pos,
      |  bp_pos * CAST(1000000 AS BIGINT) // n_grams AS bp_ppm
      |FROM per
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_surprisal — unigram-LM quality proxy (the CCNet move: score
  // every doc by a language model trained on the corpus itself and
  // band on the score), made engine-exact by measuring surprisal in
  // WHOLE BITS: token surprisal ≈ log2(N/cnt) computed as
  // bitlen(N) − bitlen(cnt) via length(bin(x)) — pure integer/string
  // ops, no runtime transcendental, identical on both engines (±1
  // bit of true log2, irrelevant for banding). Low mean surprisal =
  // boilerplate/common-token text, high = rare-token gibberish; the
  // mid band is what a pre-training corpus keeps. Banding is
  // RELATIVE to the corpus-mean surprisal (doc mean beyond ±2% of
  // corpus mean, exact cross-multiplied integer compare against a
  // 1-row broadcast scalar — the q11 pattern): absolute bit
  // thresholds would need per-corpus tuning, while the deviation
  // band splits any corpus deterministically. Plan shape: one
  // token-counts aggregation (the "LM training" pass), one keyed
  // join of postings to counts, one per-doc aggregation — all
  // equality-keyed, linear in corpus tokens; total tokens and
  // corpus-mean are 1-row broadcast metadata. The vocab-sized count
  // relation and the doc-grain score relation are BOTH multi-
  // consumer, so both localCheckpoint (the Similarity/boilerplate
  // convention): without truncation every scalar branch re-runs the
  // corpus tokenization — 6 FileScans of the 100 TB fact instead of
  // the semantic two (train pass + score pass).
  // ---------------------------------------------------------------
  private val SurprisalBandMille = 20L // low/high beyond ±2% of corpus mean

  private def surprisal(s: SparkSession, dir: String): DataFrame = {
    // the raw token explode feeds the count aggregate AND the per-doc
    // join — checkpoint it so the tokenize pass runs once (r16, the
    // dup_coverage two-consumer postings move)
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("tok0"))
      .select(col("doc_id"), lower(col("tok0")).as("tok"))
      .localCheckpoint()
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt")).localCheckpoint()
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val perDoc = toks.join(counts, "tok")
      .join(broadcast(total))
      .withColumn("bits", expr("length(bin(n_total)) - length(bin(cnt))"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).cast("bigint").as("total_bits"))
      .withColumn("mean_bits_ppm",
        expr("total_bits * CAST(1000000 AS BIGINT) DIV n_tokens"))
      .localCheckpoint()
    val corpus = perDoc.agg(
      expr("CAST((CAST(sum(total_bits) AS DECIMAL(38,0)) * 1000000)" +
        " DIV CAST(sum(n_tokens) AS DECIMAL(38,0)) AS BIGINT)").as("corpus_ppm"))
    perDoc.join(broadcast(corpus))
      .withColumn("band",
        when(col("mean_bits_ppm") * 1000 < col("corpus_ppm") * (1000 - SurprisalBandMille), "low")
          .when(col("mean_bits_ppm") * 1000 > col("corpus_ppm") * (1000 + SurprisalBandMille), "high")
          .otherwise("mid"))
      .select("doc_id", "n_tokens", "total_bits", "mean_bits_ppm", "band")
      .orderBy("doc_id")
  }

  private val surprisalSql =
    s"""WITH tk AS (
      |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS tok
      |  FROM documents),
      |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c),
      |b AS (
      |  SELECT tk.doc_id,
      |    length(bin((SELECT n_total FROM n))) - length(bin(cnt)) AS bits
      |  FROM tk JOIN c ON tk.tok = c.tok),
      |d AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(bits) AS BIGINT) AS total_bits
      |  FROM b GROUP BY doc_id),
      |dd AS (SELECT *, total_bits * CAST(1000000 AS BIGINT) // n_tokens AS mean_bits_ppm FROM d),
      |corp AS (SELECT CAST(sum(total_bits)::HUGEINT * 1000000
      |           // sum(n_tokens)::HUGEINT AS BIGINT) AS corpus_ppm FROM dd)
      |SELECT doc_id, n_tokens, total_bits, mean_bits_ppm,
      |  CASE WHEN mean_bits_ppm * 1000 < (SELECT corpus_ppm FROM corp) * ${1000 - SurprisalBandMille} THEN 'low'
      |       WHEN mean_bits_ppm * 1000 > (SELECT corpus_ppm FROM corp) * ${1000 + SurprisalBandMille} THEN 'high'
      |       ELSE 'mid' END AS band
      |FROM dd
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_readability — Flesch-class readability gate in EXACT integer
  // milli-points (quality filters band on readability; floats would
  // hash-drift, so the classic 206.835 − 1.015·W/S − 84.6·Y/W
  // becomes 206835 − (1015·W) DIV S − (84600·Y) DIV W with truncating
  // division on both engines). Syllables ≈ vowel runs ([aeiouy]+ per
  // token — the standard proxy), sentences = terminal-punctuation
  // runs with a floor of 1. Pure per-row regexp arithmetic: map-only,
  // codegen'd, zero shuffles before the output sort.
  // ---------------------------------------------------------------
  private def readability(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("bigint"))
          .as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("bigint").as("n_syllables"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * n_words) DIV n_sentences - (84600 * n_syllables) DIV n_words"))
      .withColumn("band",
        when(col("flesch_milli") >= 60000, "easy")
          .when(col("flesch_milli") >= 30000, "medium").otherwise("hard"))
      .orderBy("doc_id")

  private val readabilitySql =
    """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |m AS (SELECT doc_id,
      |        CAST(len(toks) AS BIGINT) AS n_words,
      |        greatest(CAST(1 AS BIGINT),
      |          CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
      |        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |      FROM t)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  206835 - (1015 * n_words) // n_sentences - (84600 * n_syllables) // n_words AS flesch_milli,
      |  CASE WHEN 206835 - (1015 * n_words) // n_sentences - (84600 * n_syllables) // n_words >= 60000 THEN 'easy'
      |       WHEN 206835 - (1015 * n_words) // n_sentences - (84600 * n_syllables) // n_words >= 30000 THEN 'medium'
      |       ELSE 'hard' END AS band
      |FROM m
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // txt_source_divergence — per-source distribution drift: the total
  // variation distance between each source's unigram distribution
  // and the corpus-wide one, over the top-V corpus terms with
  // everything else collapsed into one OTHER bucket (so the distance
  // is over a complete probability distribution, not a truncated
  // one). This is the data-mixture audit a pretraining pipeline runs
  // when a new crawl source lands: TVD ≈ 0 means the source speaks
  // like the corpus; a high TVD flags domain shift worth a sampling
  //-weight review (samp_mixture / samp_temperature consume exactly
  // such verdicts). TVD (= ½ Σ|p−q|) over ppm-truncated masses is
  // pure integer algebra — engine-exact where a KL/JSD would drift
  // on transcendentals.
  //
  // Plan shape: ONE corpus scan → (source, term) counts (map-side
  // combined); the corpus distribution re-aggregates that relation,
  // never the corpus. The top-V set is a TakeOrdered over the vocab
  // relation (V·partials reduce, broadcast back), so the final TVD
  // algebra runs on ≤ |sources|·(V+1) rows. At 100 TB: linear scan,
  // bounded everything else. The "ONE corpus scan" is enforced by
  // localCheckpointing the two multi-consumer relations — without
  // truncation, Catalyst inlines the (source, term) aggregate into
  // every one of its four consumers and the corpus is scanned 8×.
  // ---------------------------------------------------------------
  private val TvdTopV = 200

  private def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir)
      .select(col("source"), explode(col("toks")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val corpus = st.groupBy("term").agg(sum(col("n")).as("cn"))
    val top = corpus.orderBy(col("cn").desc, col("term")).limit(TvdTopV)
      .select(col("term"))
    // collapse non-top terms into the OTHER bucket on both grains;
    // the sentinel is \\u0001-prefixed so it can never collide with a
    // real top-V term spelled "other" (buckets feed the groupBy — a
    // collision would silently merge two buckets; chr(1) || 'other'
    // on the DuckDB side)
    val stB = st.join(broadcast(top.withColumn("keep", lit(1))), Seq("term"), "left")
      .withColumn("bucket", when(col("keep").isNotNull, col("term")).otherwise(lit("\u0001other")))
      .groupBy("source", "bucket").agg(sum(col("n")).as("n")).localCheckpoint() // ≤ |sources|·(V+1) rows, three consumers
    val srcTot = stB.groupBy("source").agg(sum(col("n")).as("src_tot"))
    val corpB = stB.groupBy("bucket").agg(sum(col("n")).as("cn"))
    val corpTot = corpB.agg(sum(col("cn")).as("corp_tot"))
    // every source must carry every bucket (missing ⇒ p = 0), so the
    // grid is (sources × buckets) built from the two TINY aggregated
    // relations (≤ |sources| × (V+1) rows; the broadcast side makes
    // this a nested-loop broadcast, never a corpus cartesian), then
    // the observed counts left-join in
    srcTot.crossJoin(broadcast(corpB))
      .join(stB, Seq("source", "bucket"), "left")
      .join(broadcast(corpTot))
      .withColumn("p_ppm", expr("coalesce(n, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT) DIV src_tot"))
      .withColumn("q_ppm", expr("cn * CAST(1000000 AS BIGINT) DIV corp_tot"))
      .groupBy("source")
      .agg(max(col("src_tot")).as("n_tokens"),
        sum(expr("abs(p_ppm - q_ppm)")).as("abs_diff_ppm"))
      .withColumn("tvd_ppm", expr("abs_diff_ppm DIV 2"))
      .select("source", "n_tokens", "tvd_ppm")
      .orderBy("source")
  }

  private val sourceDivergenceSql =
    s"""WITH st AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM documents),
      |sc AS (SELECT source, term, count(*) AS n FROM st GROUP BY 1, 2),
      |corpus AS (SELECT term, sum(n) AS cn FROM sc GROUP BY 1),
      |top AS (SELECT term FROM corpus ORDER BY cn DESC, term LIMIT $TvdTopV),
      |scb AS (SELECT source,
      |    CASE WHEN top.term IS NOT NULL THEN sc.term ELSE chr(1) || 'other' END AS bucket,
      |    sum(n) AS n
      |  FROM sc LEFT JOIN top ON sc.term = top.term GROUP BY 1, 2),
      |src_tot AS (SELECT source, sum(n) AS src_tot FROM scb GROUP BY 1),
      |corpb AS (SELECT bucket, sum(n) AS cn FROM scb GROUP BY 1),
      |corp_tot AS (SELECT sum(cn) AS corp_tot FROM corpb),
      |grid AS (SELECT s.source, b.bucket, s.src_tot, b.cn FROM src_tot s CROSS JOIN corpb b),
      |j AS (SELECT g.source, g.bucket, g.src_tot, g.cn, scb.n, ct.corp_tot
      |      FROM grid g LEFT JOIN scb ON g.source = scb.source AND g.bucket = scb.bucket
      |      CROSS JOIN corp_tot ct)
      |SELECT source, CAST(max(src_tot) AS BIGINT) AS n_tokens,
      |  CAST(sum(abs(coalesce(n, 0) * 1000000 // src_tot - cn * 1000000 // corp_tot)) // 2 AS BIGINT) AS tvd_ppm
      |FROM j GROUP BY source
      |ORDER BY source""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("txt_bm25", bm25, Some(bm25Sql)),
    Op("txt_source_divergence", sourceDivergence, Some(sourceDivergenceSql)),
    Op("txt_readability", readability, Some(readabilitySql)),
    Op("txt_surprisal", surprisal, Some(surprisalSql)),
    Op("txt_repetition", repetition, Some(repetitionSql)),
    Op("txt_boilerplate", boilerplate, Some(boilerplateSql)),
    Op("txt_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    Op("txt_pii_scrub", piiScrub, Some(piiScrubSql)),
    Op("txt_stats", stats, Some(statsSql)),
    Op("txt_ngram_freq", ngramFreq, Some(ngramFreqSql)),
    Op("txt_quality", quality, Some(qualitySql)),
    Op("txt_langid", langid, Some(langidSql)),
    Op("txt_fingerprint", fingerprint, Some(fingerprintSql)),
    Op("txt_tfidf", tfidf, Some(tfidfSql)),
    Op("txt_decontaminate", decontaminate, Some(decontaminateSql)))
}
