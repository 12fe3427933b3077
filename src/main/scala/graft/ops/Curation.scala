package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** curation_manifest — the per-document audit manifest a training-data
  * curation pipeline actually ships: ONE row per source document with
  * its final disposition and the stage that decided it, composed from
  * the already-proven building blocks (exact dedup, near-dup
  * clustering over the staged pair graph, eval-holdout hash split,
  * n-gram decontamination, integer-ppm quality gate). Where
  * dedup_corpus_pipeline reports per-stage survivor COUNTS, this is
  * the row-level lineage those counts summarize — the artifact
  * downstream jobs filter on (`WHERE disposition = 'kept'`) and
  * auditors diff between corpus snapshots.
  *
  * Disposition priority (first match wins, mirroring the order the
  * stages run): exact_dup → near_dup → eval_holdout → contaminated →
  * low_quality → kept. The eval holdout outranks contamination by
  * construction (eval docs ARE the contamination reference, never
  * training candidates).
  *
  * Scale shape: every component is a skinny (doc_id, flag) frame —
  * exact dedup is one shuffle on the content hash, clustering reuses
  * the staged pair graph, decontamination broadcasts the (small by
  * construction) eval shingle universe, quality is a pure map — and
  * the manifest itself is doc_id-keyed joins of those frames. Nothing
  * here adds a pass over the corpus beyond what the component ops
  * already proved linear.
  */
object Curation {

  private def manifest(s: SparkSession, dir: String): DataFrame = {
    val exactFlag = Dedup.exact(s, dir).select(col("doc_id"), col("is_duplicate"))
    val ndDrop = Dedup.clusterLabels(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1).as("nd_drop"))
    val contam = TextOps.decontaminate(s, dir)
      .select(col("doc_id"), col("contaminated"))
    val isEval =
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000") <
        TextOps.EvalBp
    Dedup.qualityPerDoc(s, dir)
      .join(exactFlag, "doc_id")
      .join(ndDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("disposition",
        when(col("is_duplicate") === 1, "exact_dup")
          .when(col("nd_drop").isNotNull, "near_dup")
          .when(isEval, "eval_holdout")
          .when(coalesce(col("contaminated"), lit(0)) === 1, "contaminated")
          .when(col("quality_ppm") < Dedup.QualityGatePpm, "low_quality")
          .otherwise("kept"))
      .select("doc_id", "disposition", "quality_ppm", "n_tokens")
      .orderBy("doc_id")
  }

  // Oracle: the same stage CTEs the component oracles already
  // hash-match (capped-postings pair graph + recursive CC for
  // near-dups, window-canonical exact dedup, hash-split eval set +
  // shingle-overlap contamination, integer-ppm quality), stitched
  // into one disposition CASE. `evd` ranges over ALL documents (the
  // eval hash split is defined on doc_id, not on shingle-bearing
  // docs), while the contamination score only exists for shingled
  // non-eval docs — short docs fall through to the quality gate on
  // both engines.
  private val manifestSql =
    s"""${Dedup.shinglesDuck},
      |${Dedup.cappedPairsDuck},
      |nd AS (SELECT doc_a, doc_b FROM pairs WHERE inter * 2 >= na + nb - inter),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM nd UNION SELECT doc_b, doc_a FROM nd
      |          UNION SELECT doc_a, doc_a FROM nd UNION SELECT doc_b, doc_b FROM nd),
      |reach AS (
      |  WITH RECURSIVE r(u, v) AS (
      |    SELECT u, v FROM edges
      |    UNION
      |    SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      |  SELECT u, v FROM r),
      |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      |ex AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY content_hash) THEN 1 ELSE 0 END AS is_dup
      |  FROM (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash
      |        FROM documents) h),
      |q AS (
      |  SELECT doc_id,
      |    (10 * n - (5 * dup_cnt + 3 * stop_cnt + 2 * short_cnt)) * CAST(100000 AS BIGINT) // n AS quality_ppm,
      |    CAST(n AS BIGINT) AS n_tokens
      |  FROM (
      |    SELECT doc_id, len(toks) AS n,
      |      len(list_filter(toks, x -> x IN (${TextOps.stopList}))) AS stop_cnt,
      |      len(list_filter(toks, x -> length(x) <= 2)) AS short_cnt,
      |      len(toks) - len(list_distinct(toks)) AS dup_cnt
      |    FROM t) x),
      |evd AS (SELECT doc_id,
      |          (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 < ${TextOps.EvalBp} AS is_eval
      |        FROM documents),
      |evsid AS (SELECT DISTINCT p.sid FROM post0 p JOIN evd ON p.doc_id = evd.doc_id WHERE evd.is_eval),
      |hits AS (
      |  SELECT p.doc_id, count(*) AS n_sh,
      |    CAST(sum(CASE WHEN e.sid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM post0 p JOIN evd ON p.doc_id = evd.doc_id
      |  LEFT JOIN evsid e ON p.sid = e.sid
      |  WHERE NOT evd.is_eval
      |  GROUP BY p.doc_id)
      |SELECT q.doc_id,
      |  CASE WHEN ex.is_dup = 1 THEN 'exact_dup'
      |       WHEN lab.doc_id IS NOT NULL AND lab.doc_id <> lab.cluster_id THEN 'near_dup'
      |       WHEN evd.is_eval THEN 'eval_holdout'
      |       WHEN h.n_hit IS NOT NULL AND h.n_hit * 100 >= h.n_sh * ${TextOps.ContamPct} THEN 'contaminated'
      |       WHEN q.quality_ppm < ${Dedup.QualityGatePpm} THEN 'low_quality'
      |       ELSE 'kept' END AS disposition,
      |  q.quality_ppm, q.n_tokens
      |FROM q
      |JOIN ex ON q.doc_id = ex.doc_id
      |JOIN evd ON q.doc_id = evd.doc_id
      |LEFT JOIN lab ON q.doc_id = lab.doc_id
      |LEFT JOIN hits h ON q.doc_id = h.doc_id
      |ORDER BY q.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // exp_dataset_card — the one-row DATASET CARD a curation run
  // publishes beside its export (the corpus-level summary every
  // training-data release ships: sizes, composition, and how much
  // each cleaning stage removed): the per-document manifest
  // aggregated to disposition counts + exact token totals + integer
  // mean quality, with source/language cardinalities broadcast from
  // one dimension pass. Everything derives from already-gated
  // relations, so the card can never disagree with the lineage it
  // summarizes — and the oracle nests the manifest oracle whole.
  // ---------------------------------------------------------------
  private def datasetCard(s: SparkSession, dir: String): DataFrame = {
    def n(d: String) = sum(when(col("disposition") === d, 1L).otherwise(0L)).as(s"n_$d")
    val dims = Tables.load(s, dir, "documents")
      .agg(countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
    manifest(s, dir)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        n("exact_dup"), n("near_dup"), n("eval_holdout"),
        n("contaminated"), n("low_quality"), n("kept"),
        expr("sum(quality_ppm) DIV count(1)").as("mean_quality_ppm"))
      .crossJoin(broadcast(dims))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"), col("n_langs"),
        col("n_exact_dup"), col("n_near_dup"), col("n_eval_holdout"),
        col("n_contaminated"), col("n_low_quality"), col("n_kept"),
        col("mean_quality_ppm"))
  }

  private val datasetCardSql =
    s"""WITH m AS ($manifestSql),
      |dims AS (SELECT count(DISTINCT source) AS n_sources, count(DISTINCT lang) AS n_langs
      |         FROM documents)
      |SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  dims.n_sources, dims.n_langs,
      |  CAST(sum(CASE WHEN disposition = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      |  CAST(sum(CASE WHEN disposition = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
      |  CAST(sum(CASE WHEN disposition = 'eval_holdout' THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_holdout,
      |  CAST(sum(CASE WHEN disposition = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(sum(CASE WHEN disposition = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
      |  CAST(sum(CASE WHEN disposition = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(quality_ppm) AS BIGINT) // count(*) AS mean_quality_ppm
      |FROM m, dims
      |GROUP BY dims.n_sources, dims.n_langs""".stripMargin

  // ---------------------------------------------------------------
  // curation_refresh — CROSS-RUN INCREMENTAL RE-CURATION (r14 VERDICT
  // item 8a): a delta ingest batch (newest ~10% of docs by id, the
  // dedup_incremental threshold rule) arrives against an already-
  // shipped manifest, and the refresh must produce the NEW manifest
  // WITHOUT re-running the two stages whose full recompute is not
  // per-doc-local — the corpus-wide CC fixpoint and the corpus-wide
  // contamination re-score. The hash gate IS the proof: the oracle
  // recomputes the manifest FROM SCRATCH over the full corpus, so a
  // hash match proves the incremental merge algebra is lossless.
  //
  // What a new batch can change about ALREADY-SHIPPED rows:
  //  - near_dup: a batch doc near-dup to two prior docs BRIDGES their
  //    clusters — the merged component's min drops, so a previously
  //    canonical prior doc can flip kept → near_dup. Incremental CC:
  //    collapse every delta edge's endpoints to their prior-cluster
  //    representative (rep = prior component min, or the doc itself
  //    for singletons/batch docs), run min-label CC on that DELTA-
  //    SIZED reduced graph, and remap: min over merged reps = min
  //    over merged members, so reduced-graph labels equal full-CC
  //    labels on affected components; untouched components keep
  //    their prior labels verbatim.
  //  - contaminated: batch docs in the eval hash split add NEW
  //    reference shingles Δ (batch-eval shingles minus the prior
  //    reference). Full-ref hits = prior-ref hits + Δ hits (the sets
  //    are disjoint), so only docs sharing a shingle with Δ — a
  //    delta-sized inner join — can flip kept/low_quality →
  //    contaminated. No other prior row's score moves.
  //  - exact_dup / eval_holdout / low_quality: per-doc-local (batch
  //    ids are all larger, so a prior content-hash canonical can
  //    never move; the eval split and quality are pure functions).
  // Each row carries refresh_action: inserted (batch), patched (a
  // prior row whose disposition flipped), carried (untouched) — the
  // incrementality is itself gated data (the oracle derives the same
  // column by recomputing the PRIOR manifest and diffing).
  //
  // Scale shape: the pair index and postings are the maintained
  // staged artifacts (appended per ingest in production); the
  // refresh adds one delta-sized reduced-graph CC (vertices = prior
  // cluster reps + batch docs, not corpus docs) and one delta-sized
  // broadcast join on Δ — at 100 TB the refresh cost tracks the
  // BATCH, not the corpus. The per-doc stages (quality, content
  // hash, postings) are computed here because the gate carries no
  // cross-run store; production reads them back from the shipped
  // manifest and indexes.
  // ---------------------------------------------------------------
  private val RefreshCcRounds = 20

  private def refreshIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val thr = docs.agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
    val isEval =
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000") <
        TextOps.EvalBp

    // per-doc-local stages (prior-restriction = filter, see header).
    // q is LAZY-checkpointed: it serves the final manifest join AND
    // (as the doc_id universe — quality is one row per document) the
    // label remap below, so the tokenize pass runs once, not twice
    // (r16, VERDICT item 5)
    val q = Dedup.qualityPerDoc(s, dir).localCheckpoint(false)
    val exactFlag = Dedup.exact(s, dir).select(col("doc_id"), col("is_duplicate"))

    // near-dup: prior CC + delta merge over the staged pair index
    val nd = Dedup.nearDupPairs(s, dir).select("doc_a", "doc_b")
    // both graphs are delta- or near-dup-sized: the Cc kernel resolves
    // them on the driver below its edge bound
    def cc(pairs: DataFrame, name: String): DataFrame =
      Cc.minLabelComponents(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
        RefreshCcRounds, name)
    // doc_a < doc_b always, and batch ids are the largest — so a pair
    // involves a batch doc iff doc_b > thr
    val priorLab = cc(nd.filter(col("doc_b") <= thr), "curation_refresh(prior)")
      .select(col("v").as("doc_id"), col("label").as("prior_cluster"))
    val deltaPairs = nd.filter(col("doc_b") > thr)
    val reduced = deltaPairs
      .join(priorLab.select(col("doc_id").as("doc_a"), col("prior_cluster").as("ra")),
        Seq("doc_a"), "left")
      .join(priorLab.select(col("doc_id").as("doc_b"), col("prior_cluster").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b"))
    val mergedLab = cc(reduced, "curation_refresh(delta)")
      .select(col("v").as("rep"), col("label").as("new_label"))
    val lab = q.select("doc_id")
      .join(broadcast(priorLab), Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("prior_cluster"), col("doc_id")))
      .join(broadcast(mergedLab), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("prior_cluster")).as("cluster_id"),
        col("prior_cluster"))

    // contamination: prior-reference hits + disjoint Δ-reference hits
    val sh = TextOps.withTokens(docs)
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr("graft_shingles3(toks)"))
      .withColumn("is_eval", isEval)
      .select(col("doc_id"), col("is_eval"), explode(col("sh")).as("g"))
      .select(col("doc_id"), col("is_eval"), expr(Dedup.sid60Spark).as("sid"))
    // ONE pass over the eval shingle explode derives BOTH references
    // (r16, VERDICT item 5 — the prior and Δ reference sets each
    // re-ran the tokenize→shingle→explode chain over the eval subset,
    // plus an anti-join to make them disjoint): per sid, hp = appears
    // under a prior eval doc; hd = appears ONLY under delta eval docs
    // (the anti-join as a filter of the same aggregate — the sets
    // stay disjoint by construction). Sid-grain, small by the eval
    // split's construction, so one broadcast join attaches both flags.
    val evRef = sh.filter(col("is_eval"))
      .groupBy("sid")
      .agg(max(when(col("doc_id") <= thr, 1).otherwise(0)).as("hp0"),
        max(when(col("doc_id") > thr, 1).otherwise(0)).as("hd0"))
      .select(col("sid"), col("hp0").as("hp"),
        when(col("hp0") === 0 && col("hd0") === 1, 1).otherwise(0).as("hd"))
    // ONE pass over the base (non-eval) shingle explode scores both
    // references: prior and Δ hits ride the same aggregate (the r15
    // before-plan re-ran the tokenize→shingle→explode chain — 98% of
    // the corpus — once per reference, plus a join to recombine;
    // guide §2.3 "aggregate before you shuffle", §2.4 shared pass),
    // through ONE broadcast join instead of two (evRef is sid-unique,
    // so the left join is row-preserving)
    val base = sh.filter(!col("is_eval"))
    val contam = base
      .join(broadcast(evRef), Seq("sid"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hp"), lit(0))).as("hit_prior"),
        sum(coalesce(col("hd"), lit(0))).as("hit_delta"))
      .withColumn("n_hit", col("hit_prior") + col("hit_delta"))
      .select("doc_id", "n_sh", "n_hit", "hit_prior")

    def dispo(ndDrop: Column, contaminated: Column) =
      when(col("is_duplicate") === 1, "exact_dup")
        .when(ndDrop, "near_dup")
        .when(isEval, "eval_holdout")
        .when(contaminated, "contaminated")
        .when(col("quality_ppm") < Dedup.QualityGatePpm, "low_quality")
        .otherwise("kept")
    q.join(exactFlag, "doc_id")
      .join(lab, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("disposition", dispo(
        col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
        col("n_hit").isNotNull && col("n_hit") * 100 >= col("n_sh") * TextOps.ContamPct))
      .withColumn("prior_disposition", dispo(
        col("prior_cluster").isNotNull && col("prior_cluster") =!= col("doc_id"),
        col("hit_prior").isNotNull && col("hit_prior") * 100 >= col("n_sh") * TextOps.ContamPct))
      .withColumn("refresh_action",
        when(col("doc_id") > thr, "inserted")
          .when(col("disposition") =!= col("prior_disposition"), "patched")
          .otherwise("carried"))
      .select("doc_id", "disposition", "quality_ppm", "n_tokens", "refresh_action")
      .orderBy("doc_id")
  }

  /** Oracle = the manifest recomputed FROM SCRATCH over the full
    * corpus (lab/hits), plus the PRIOR manifest recomputed over the
    * prior restriction (labp/hitsp) purely to derive refresh_action —
    * a hash match therefore proves the op's incremental merge equals
    * the full recompute row for row.
    */
  private val refreshSql =
    s"""${Dedup.shinglesDuck},
      |${Dedup.cappedPairsDuck},
      |thr AS (SELECT max(doc_id) * 9 // 10 AS v FROM documents),
      |nd AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs WHERE inter * 2 >= na + nb - inter),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM nd UNION SELECT doc_b, doc_a FROM nd
      |          UNION SELECT doc_a, doc_a FROM nd UNION SELECT doc_b, doc_b FROM nd),
      |reach AS (
      |  WITH RECURSIVE r(u, v) AS (
      |    SELECT u, v FROM edges
      |    UNION
      |    SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      |  SELECT u, v FROM r),
      |lab AS MATERIALIZED (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      |ndp AS (SELECT doc_a, doc_b FROM nd WHERE doc_b <= (SELECT v FROM thr)),
      |edgesp AS (SELECT doc_a AS u, doc_b AS v FROM ndp UNION SELECT doc_b, doc_a FROM ndp
      |           UNION SELECT doc_a, doc_a FROM ndp UNION SELECT doc_b, doc_b FROM ndp),
      |reachp AS (
      |  WITH RECURSIVE r(u, v) AS (
      |    SELECT u, v FROM edgesp
      |    UNION
      |    SELECT r.u, e.v FROM r JOIN edgesp e ON r.v = e.u)
      |  SELECT u, v FROM r),
      |labp AS MATERIALIZED (SELECT u AS doc_id, min(v) AS cluster_id FROM reachp GROUP BY u),
      |ex AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY content_hash) THEN 1 ELSE 0 END AS is_dup
      |  FROM (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash
      |        FROM documents) h),
      |q AS MATERIALIZED (
      |  SELECT doc_id,
      |    (10 * n - (5 * dup_cnt + 3 * stop_cnt + 2 * short_cnt)) * CAST(100000 AS BIGINT) // n AS quality_ppm,
      |    CAST(n AS BIGINT) AS n_tokens
      |  FROM (
      |    SELECT doc_id, len(toks) AS n,
      |      len(list_filter(toks, x -> x IN (${TextOps.stopList}))) AS stop_cnt,
      |      len(list_filter(toks, x -> length(x) <= 2)) AS short_cnt,
      |      len(toks) - len(list_distinct(toks)) AS dup_cnt
      |    FROM t) x),
      |evd AS MATERIALIZED (SELECT doc_id,
      |          (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 < ${TextOps.EvalBp} AS is_eval
      |        FROM documents),
      |evsid AS (SELECT DISTINCT p.sid FROM post0 p JOIN evd ON p.doc_id = evd.doc_id WHERE evd.is_eval),
      |evsidp AS (SELECT DISTINCT p.sid FROM post0 p JOIN evd ON p.doc_id = evd.doc_id
      |           WHERE evd.is_eval AND p.doc_id <= (SELECT v FROM thr)),
      |hits AS MATERIALIZED (
      |  SELECT p.doc_id, count(*) AS n_sh,
      |    CAST(sum(CASE WHEN e.sid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM post0 p JOIN evd ON p.doc_id = evd.doc_id
      |  LEFT JOIN evsid e ON p.sid = e.sid
      |  WHERE NOT evd.is_eval
      |  GROUP BY p.doc_id),
      |hitsp AS MATERIALIZED (
      |  SELECT p.doc_id, count(*) AS n_sh,
      |    CAST(sum(CASE WHEN e.sid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM post0 p JOIN evd ON p.doc_id = evd.doc_id
      |  LEFT JOIN evsidp e ON p.sid = e.sid
      |  WHERE NOT evd.is_eval
      |  GROUP BY p.doc_id),
      |mfull AS (
      |  SELECT q.doc_id,
      |    CASE WHEN ex.is_dup = 1 THEN 'exact_dup'
      |         WHEN lab.doc_id IS NOT NULL AND lab.doc_id <> lab.cluster_id THEN 'near_dup'
      |         WHEN evd.is_eval THEN 'eval_holdout'
      |         WHEN h.n_hit IS NOT NULL AND h.n_hit * 100 >= h.n_sh * ${TextOps.ContamPct} THEN 'contaminated'
      |         WHEN q.quality_ppm < ${Dedup.QualityGatePpm} THEN 'low_quality'
      |         ELSE 'kept' END AS disposition,
      |    q.quality_ppm, q.n_tokens
      |  FROM q
      |  JOIN ex ON q.doc_id = ex.doc_id
      |  JOIN evd ON q.doc_id = evd.doc_id
      |  LEFT JOIN lab ON q.doc_id = lab.doc_id
      |  LEFT JOIN hits h ON q.doc_id = h.doc_id),
      |mprior AS (
      |  SELECT q.doc_id,
      |    CASE WHEN ex.is_dup = 1 THEN 'exact_dup'
      |         WHEN labp.doc_id IS NOT NULL AND labp.doc_id <> labp.cluster_id THEN 'near_dup'
      |         WHEN evd.is_eval THEN 'eval_holdout'
      |         WHEN h.n_hit IS NOT NULL AND h.n_hit * 100 >= h.n_sh * ${TextOps.ContamPct} THEN 'contaminated'
      |         WHEN q.quality_ppm < ${Dedup.QualityGatePpm} THEN 'low_quality'
      |         ELSE 'kept' END AS disposition
      |  FROM q
      |  JOIN ex ON q.doc_id = ex.doc_id
      |  JOIN evd ON q.doc_id = evd.doc_id
      |  LEFT JOIN labp ON q.doc_id = labp.doc_id
      |  LEFT JOIN hitsp h ON q.doc_id = h.doc_id
      |  WHERE q.doc_id <= (SELECT v FROM thr))
      |SELECT f.doc_id, f.disposition, f.quality_ppm, f.n_tokens,
      |  CASE WHEN f.doc_id > (SELECT v FROM thr) THEN 'inserted'
      |       WHEN f.disposition <> p.disposition THEN 'patched'
      |       ELSE 'carried' END AS refresh_action
      |FROM mfull f LEFT JOIN mprior p ON f.doc_id = p.doc_id
      |ORDER BY f.doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("curation_manifest", manifest, Some(manifestSql)),
    Op("curation_refresh", refreshIncremental, Some(refreshSql)),
    Op("exp_dataset_card", datasetCard, Some(datasetCardSql)))
}
