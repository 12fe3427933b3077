package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the documents / embeddings tables —
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
  * (SURVEY.md §2 "Deduplication").
  *
  * Scale notes (100 TB):
  *  - Nothing here is ever all-pairs over the corpus. Candidate pairs
  *    come from equality joins on derived keys (content hash, shared
  *    shingle, LSH band signature, SimHash band) — linear postings,
  *    shuffle on the key, AQE-skew-handled.
  *  - All hashing is md5-derived integer arithmetic: portable to the
  *    DuckDB oracle AND fully deterministic across engines/partitions.
  */
object Dedup {

  /** Portable 32-bit token/shingle id: first 8 md5 hex chars. */
  private[ops] val sid32Spark = "CAST(conv(substr(md5(g), 1, 8), 16, 10) AS BIGINT) % 2147483647"
  private[ops] val sid32Duck = "(('0x' || substr(md5(g), 1, 8))::BIGINT) % 2147483647"

  /** Word 3-gram shingles (distinct) per doc; docs with <3 tokens are
    * out of near-dup scope.
    */
  private def withShingles(df: DataFrame): DataFrame = {
    TextOps.withTokens(df)
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr("graft_shingles3(toks)"))
  }

  private[ops] val shinglesDuck =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |      FROM t WHERE len(toks) >= 3)""".stripMargin

  // ---------------------------------------------------------------
  // dedup_exact — hash-groupBy on normalized content: one shuffle on
  // the md5, window assigns the canonical (min doc_id) per group.
  // ---------------------------------------------------------------
  private[ops] def exact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_hash")
    Tables.load(s, dir, "documents")
      .withColumn("content_hash", md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("content_hash"), col("canonical_id"),
        col("group_size"),
        when(col("doc_id") =!= col("canonical_id"), lit(1)).otherwise(lit(0)).as("is_duplicate"))
      .orderBy("doc_id")
  }

  private val exactSql =
    """SELECT doc_id, content_hash,
      | min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
      | count(*) OVER (PARTITION BY content_hash) AS group_size,
      | CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY content_hash) THEN 1 ELSE 0 END AS is_duplicate
      |FROM (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash
      |      FROM documents) h
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // dedup_ngram_jaccard — Jaccard ≥ 0.5 pairs via the inverted-index
  // (shared-shingle) join: postings explode → equality self-join →
  // per-pair intersection counts. Never all-pairs; any pair with
  // J ≥ 0.5 > 0 shares a shingle, so recall is exact. The join key is
  // the 60-bit md5-derived shingle id, not the shingle STRING — an
  // 8-byte shuffle key instead of a ~25-byte one (at 100 TB the
  // postings shuffle is the op's whole cost); both engines derive the
  // same id, and a 60-bit collision (≈1e-4 at 10⁹ distinct shingles)
  // merely merges two shingles identically on both sides.
  // Integer-only output (intersection/union sizes).
  // ---------------------------------------------------------------
  private[ops] val sid60Spark = "CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)"
  private[ops] val sid60Duck = "(('0x' || substr(md5(g), 1, 15))::BIGINT)"

  /** Document-frequency cap for the postings join: a shingle present
    * in more than this many documents contributes O(df²) candidate
    * pairs on its own — on a web corpus the top boilerplate 3-gram
    * appears in ~every document, and no AQE skew split can shrink
    * that OUTPUT. Shingles over the cap are dropped from the shingle
    * universe BEFORE the join (per-doc set sizes are recomputed over
    * the pruned universe, so the Jaccard stays exact w.r.t. the
    * informative shingles — the same move as stopword removal).
    * Near-dup pairs at J ≥ 0.5 share many shingles, so any realistic
    * cap keeps them connected; the cap is logged, never silent
    * (SURVEY §4 "no silent caps"). Testdata max df is 7 (sf0.01) /
    * 25 (sf0.1), so the default cap provably leaves oracle output
    * unchanged while bounding the worst key at ~10⁶ pairs.
    */
  private[graft] val MaxShingleDf = 1000L
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Corpus hot-shingle statistics memo, keyed by (corpus snapshot,
    * cap): whether any shingle exceeds the cap is per-corpus METADATA
    * (an ANALYZE-style statistic), so the registered ops compute it
    * once per JVM per corpus snapshot. The key embeds
    * [[Staging.snapshot]] (file names + sizes + mtimes), so an
    * in-process rewrite of the table invalidates the memo instead of
    * leaving a stale prune decision behind. It is not a staged
    * artifact and survives [[Staging.reset]].
    */
  private val hotStatsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  // ---------------------------------------------------------------
  // Staged pair graph — the near-dup candidate pair set is the
  // shared upstream of dedup_ngram_jaccard, dedup_containment,
  // dedup_clusters AND dedup_corpus_pipeline. Nobody recomputes a
  // corpus-wide pair graph four times at 100 TB: it is staged ONCE
  // per corpus snapshot (shingling → df-capped postings self-join →
  // threshold-union filter → parquet) in the [[Staging]] memo and
  // every consumer reads the staged result back — the reference's
  // staging zone (extract once, consume many). The staged set carries
  // RAW stats (doc_a, doc_b, na, nb, inter) for every pair passing
  // ANY consumer threshold (symmetric J ≥ 0.5 OR directional
  // containment ≥ 0.8 with ≥ MinContainShingles) — the superset stays
  // near-dup-sized (never the full co-shingle pair multiset), and
  // each consumer filters its own predicate from it. Registered ops
  // stage into managed temp space; production would stage into a
  // ZoneConfig staging path. The cluster labels, band index,
  // embedding pairs and IVF cells below are staged the same way,
  // each for the consumers named on it.
  // ---------------------------------------------------------------

  private[graft] def deleteDirQuietly(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
      finally walk.close()
    }
  }

  /** Free every staged artifact ([[Staging.reset]]); kept by name for
    * callers that reset the corpus stages.
    */
  def resetPairStage(): Unit = Staging.reset()

  /** Candidate pair stats passing ANY consumer threshold — what the
    * stage persists (see header above).
    */
  private[graft] def candidatePairStats(docs: DataFrame, maxDf: Long,
      memoKey: Option[(String, Long)] = None): DataFrame =
    pairStats(docs, maxDf, memoKey).filter(
      col("inter") * 2 >= col("na") + col("nb") - col("inter") ||
        (col("inter") * ContainDen >= col("na") * ContainNum &&
          col("na") >= MinContainShingles) ||
        (col("inter") * ContainDen >= col("nb") * ContainNum &&
          col("nb") >= MinContainShingles))

  // the hot-shingle statistic rides the snapshot key (hotStatsMemo)
  private[graft] val PairGraph = new Staging.Parquet("pair_graph", "documents")((s, dir) =>
    candidatePairStats(Tables.load(s, dir, "documents"), MaxShingleDf,
      Staging.snapshot(dir, "documents").map(h => (s"$dir@$h", MaxShingleDf))))

  /** Staged candidate pair stats for the corpus under `dir`
    * (doc_a, doc_b, na, nb, inter — threshold-union superset).
    */
  private[graft] def stagedCandidateStats(s: SparkSession, dir: String): DataFrame =
    PairGraph(s, dir)

  /** Staged J ≥ 0.5 pair graph (the dedup_ngram_jaccard contract:
    * doc_a, doc_b, inter, uni) — a filter over the staged stats.
    */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    stagedCandidateStats(s, dir)
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_a", "doc_b", "inter", "uni")

  /** Staged connected-component cluster labels (doc_id, cluster_id,
    * cluster_size) — the level ABOVE the pair graph: dedup_clusters,
    * dedup_corpus_pipeline and curation_manifest all consume the CC
    * labels, so nobody computes them three times per corpus snapshot
    * either. Derived FROM the staged pairs (one lineage: pairs stage →
    * labels stage → consumers); constructing the plan RUNS the Cc
    * kernel (its bounded collect, and above the bound its loop).
    */
  private[graft] val ClusterLabels =
    new Staging.Parquet("cluster_labels", "documents")(clustersComputed)

  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    ClusterLabels(s, dir)

  /** Staged MinHash band index (doc_id, band, sig) — the corpus-side
    * artifact dedup_minhash_lsh (self-join) and dedup_incremental
    * (batch-vs-corpus join) share. In production this is a MAINTAINED
    * index: appended per ingest batch, never recomputed corpus-wide —
    * the staging here gives the single-snapshot equivalent.
    */
  private[graft] val BandIndex = new Staging.Parquet("band_index", "documents")((s, dir) =>
    bandsOf(minhashBase(s, dir)))

  private[ops] def bandIndex(s: SparkSession, dir: String): DataFrame = BandIndex(s, dir)

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(s, dir).orderBy("doc_a", "doc_b")

  /** Raw per-pair overlap statistics (doc_a < doc_b, na, nb, inter)
    * from the df-capped postings self-join — the shared core of
    * dedup_ngram_jaccard (symmetric J ≥ 0.5 filter) and
    * dedup_containment (asymmetric inter/n_contained filter).
    */
  private[graft] def pairStats(docs: DataFrame, maxDf: Long,
      memoKey: Option[(String, Long)] = None): DataFrame = {
    val base = withShingles(docs)
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("bigint").as("n_sh"))
    val post0 = base
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("g"))
      .select(col("doc_id"), col("n_sh"), expr(sid60Spark).as("sid"))
    // df-cap: one partial-aggregated pass over postings finds the hot
    // shingles (tiny by construction: #hot ≤ postings/maxDf), which
    // then prune via a broadcast anti-join — no extra shuffle of the
    // postings themselves.
    def hotDf() = post0.groupBy("sid").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
    def countHot(): Long = {
      val hot = hotDf().cache()
      try {
        val n = hot.count()
        if (n > 0) {
          val dropped = hot.agg(sum(col("df"))).head().getLong(0)
          log.warn(s"dedup_ngram_jaccard: capped $n hot shingles (df > $maxDf), " +
            s"$dropped postings dropped from the pair join")
        }
        n
      } finally hot.unpersist()
    }
    val nHot = memoKey match {
      case Some(k) => hotStatsMemo.computeIfAbsent(k, _ => countHot())
      case None => countHot()
    }
    val post =
      if (nHot == 0) post0
      else {
        val pruned = post0.drop("n_sh")
          .join(broadcast(hotDf().select("sid")), Seq("sid"), "left_anti")
        val sized = pruned.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        pruned.join(sized, "doc_id")
      }
    val a = post.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("sid"))
    val b = post.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"), col("sid"))
    a.join(b, Seq("sid")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
  }

  private[graft] def ngramJaccardPairs(docs: DataFrame, maxDf: Long,
      memoKey: Option[(String, Long)] = None): DataFrame =
    pairStats(docs, maxDf, memoKey)
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_a", "doc_b", "inter", "uni")
      .orderBy("doc_a", "doc_b")

  /** Oracle replica of the df-capped postings join — shared by the
    * jaccard / clusters / corpus-pipeline oracles so all three gate
    * the exact production semantics (cap included; at testdata dfs
    * the cap provably never fires, so values match the uncapped
    * history bit-for-bit).
    */
  private[ops] val cappedPairsDuck =
    s"""post0 AS (SELECT doc_id, $sid60Duck AS sid
      |          FROM (SELECT doc_id, unnest(sh) AS g FROM s) u),
      |hot AS (SELECT sid FROM (SELECT sid, count(*) AS df FROM post0 GROUP BY sid) d
      |        WHERE df > $MaxShingleDf),
      |post AS (SELECT doc_id, sid FROM post0 WHERE sid NOT IN (SELECT sid FROM hot)),
      |sized AS (SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sa.n_sh AS na, sb.n_sh AS nb, count(*) AS inter
      |  FROM post a JOIN post b ON a.sid = b.sid AND a.doc_id < b.doc_id
      |  JOIN sized sa ON a.doc_id = sa.doc_id
      |  JOIN sized sb ON b.doc_id = sb.doc_id
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val ngramJaccardSql =
    s"""$shinglesDuck,
      |$cappedPairsDuck
      |SELECT doc_a, doc_b, inter, na + nb - inter AS uni
      |FROM pairs
      |WHERE inter * 2 >= na + nb - inter
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------
  // dedup_containment — ASYMMETRIC near-dup detection: ordered pairs
  // where ≥ 80% of the contained doc's shingles appear in the
  // container. This is the snippet/quote-inclusion case symmetric
  // Jaccard structurally misses (a 20-shingle snippet inside a
  // 500-shingle page has J = 0.04 but containment 1.0) — the dedup
  // every web-scale corpus runs to drop embedded boilerplate copies.
  // Same df-capped inverted-index postings join as the Jaccard op
  // (shared pairStats core + the memoized per-corpus hot-shingle
  // statistics), so the candidate generator stays an equality join on
  // the 8-byte shingle id — recall is exact: containment ≥ 0.8 > 0
  // implies a shared shingle. A contained doc must carry at least
  // MinContainShingles informative shingles — below that, containment
  // is too quantized to mean anything (a 2-shingle doc is "80%
  // contained" the moment both shingles are common phrases).
  // ---------------------------------------------------------------
  /** Per-doc sets of df-capped shingle ids — spec-only ground truth
    * for brute-force recomputes of pair statistics (same pruned
    * shingle universe as [[pairStats]]).
    */
  private[graft] def docShingleSets(s: SparkSession, dir: String): DataFrame = {
    val base = withShingles(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), expr(sid60Spark).as("sid"))
    val hot = base.groupBy("sid").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("sid")
    base.join(broadcast(hot), Seq("sid"), "left_anti")
      .groupBy("doc_id").agg(collect_set(col("sid")).as("sids"))
  }

  private[graft] val MinContainShingles = 10L
  private val ContainNum = 4L // containment threshold = ContainNum/ContainDen
  private val ContainDen = 5L

  private def containment(s: SparkSession, dir: String): DataFrame = {
    val st = stagedCandidateStats(s, dir)
    val ab = st.filter(col("inter") * ContainDen >= col("na") * ContainNum &&
        col("na") >= MinContainShingles)
      .select(col("doc_a").as("contained_id"), col("doc_b").as("container_id"),
        col("na").as("n_contained"), col("nb").as("n_container"), col("inter"))
    val ba = st.filter(col("inter") * ContainDen >= col("nb") * ContainNum &&
        col("nb") >= MinContainShingles)
      .select(col("doc_b").as("contained_id"), col("doc_a").as("container_id"),
        col("nb").as("n_contained"), col("na").as("n_container"), col("inter"))
    ab.unionAll(ba)
      .withColumn("containment_ppm",
        expr("inter * CAST(1000000 AS BIGINT) DIV n_contained"))
      .orderBy("contained_id", "container_id")
  }

  private val containmentSql =
    s"""$shinglesDuck,
      |$cappedPairsDuck,
      |dir AS (
      |  SELECT doc_a AS contained_id, doc_b AS container_id,
      |    na AS n_contained, nb AS n_container, inter
      |  FROM pairs WHERE inter * $ContainDen >= na * $ContainNum AND na >= $MinContainShingles
      |  UNION ALL
      |  SELECT doc_b, doc_a, nb, na, inter
      |  FROM pairs WHERE inter * $ContainDen >= nb * $ContainNum AND nb >= $MinContainShingles)
      |SELECT contained_id, container_id, n_contained, n_container, inter,
      |  inter * CAST(1000000 AS BIGINT) // n_contained AS containment_ppm
      |FROM dir
      |ORDER BY contained_id, container_id""".stripMargin

  // ---------------------------------------------------------------
  // dedup_minhash_lsh — MinHash signatures (32 universal-hash perms
  // over md5-derived shingle ids) + banded LSH (8 bands × 4 rows)
  // for candidates, exact Jaccard verify. Candidates come only from
  // equality joins on (band, signature) — the 100 TB path.
  // ---------------------------------------------------------------
  private[ops] val NPerm = 32
  private[ops] val NBands = 8
  private[ops] val RowsPerBand = NPerm / NBands
  private[ops] val MersennePrime = 2147483647L // 2^31-1; ids < 2^31 keep products < 2^62

  /** Deterministic permutation constants — canonical copy lives in
    * GraftFunctions.minhashPerms (the native kernel); the SQL oracle
    * below embeds the same literals.
    */
  private[ops] val perms: Seq[(Long, Long)] =
    graft.functions.GraftFunctions.minhashPerms.toSeq

  private def minhashBase(s: SparkSession, dir: String): DataFrame =
    // native MinHash32 kernel — equivalence with the interpreted
    // per-perm array_min form is locked by GraftFunctionsSpec
    withShingles(Tables.load(s, dir, "documents"))
      .withColumn("msig", expr("graft_minhash32(sh)"))
      .select("doc_id", "sh", "msig")

  /** (doc_id, band, sig) — one row per LSH band of each document. */
  private def bandsOf(base: DataFrame): DataFrame = {
    val bandSigs = (0 until NBands).map { j =>
      val parts = (0 until RowsPerBand)
        .map(r => s"CAST(element_at(msig, ${j * RowsPerBand + r + 1}) AS STRING)")
      expr(parts.mkString("concat_ws('_', ", ", ", ")"))
    }
    base.select(col("doc_id"),
      posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
  }

  private def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val base = minhashBase(s, dir)
    val bands = bandIndex(s, dir)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val av = base.select(col("doc_id").as("doc_a"), col("sh").as("sha"), col("msig").as("ma"))
    val bv = base.select(col("doc_id").as("doc_b"), col("sh").as("shb"), col("msig").as("mb"))
    cand.join(av, "doc_a").join(bv, "doc_b")
      .withColumn("mh_matches", expr(
        "CAST(aggregate(zip_with(ma, mb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v) AS INT)"))
      .withColumn("inter", expr("size(array_intersect(sha, shb))").cast("bigint"))
      .withColumn("uni", (expr("size(sha)") + expr("size(shb)")).cast("bigint") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_a", "doc_b", "mh_matches", "inter", "uni")
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle fragment: MinHash signatures + band index + the
    * LSH candidate pair set (CTEs sig/m/bands/cand; assumes
    * [[shinglesDuck]]'s `s` is in scope) — used by dedup_minhash_lsh
    * and the recall evaluation op.
    */
  private val minhashCandDuck = {
    val mins = perms.map { case (a, b) =>
      s"list_min(list_transform(sids, x -> ($a * x + $b) % $MersennePrime))"
    }.mkString("[", ",\n      ", "]")
    val bandRows = (0 until NBands).map { j =>
      val parts = (1 to RowsPerBand)
        .map(r => s"CAST(msig[${j * RowsPerBand + r}] AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $j AS band, $parts AS sig FROM m"
    }.mkString("\n  UNION ALL ")
    s"""sig AS (SELECT doc_id, sh, list_distinct(list_transform(sh, g -> $sid32Duck)) AS sids FROM s),
      |m AS (SELECT doc_id, sh,
      |      $mins AS msig
      |      FROM sig),
      |bands AS (
      |  $bandRows),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)""".stripMargin
  }

  private val minhashLshSql = {
    s"""$shinglesDuck,
      |$minhashCandDuck
      |SELECT doc_a, doc_b,
      |  CAST(list_sum(list_transform(range(1, ${NPerm + 1}),
      |    i -> CASE WHEN a.msig[i] = b.msig[i] THEN 1 ELSE 0 END)) AS INT) AS mh_matches,
      |  len(list_intersect(a.sh, b.sh)) AS inter,
      |  len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
      |FROM cand JOIN m a ON cand.doc_a = a.doc_id JOIN m b ON cand.doc_b = b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh)) * 2 >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // dedup_recall_eval — text-dedup index quality as DATA (the
  // companion to sim_recall_eval on the embedding side): per
  // Jaccard-decile band, how many of the TRUE near-dup pairs (the
  // registered df-capped exact-Jaccard ≥ 0.5 relation) the
  // MinHash-LSH index actually surfaces. The banding is the point —
  // LSH recall is sharply similarity-dependent (the S-curve), so one
  // aggregate recall number hides exactly the marginal-pair region a
  // production dedup must tune its banding against. Composes two
  // already-gated plans; everything past them is pair-set-sized
  // joins + one tiny aggregate.
  // ---------------------------------------------------------------
  private def recallEval(s: SparkSession, dir: String): DataFrame = {
    val truth = ngramJaccard(s, dir)
    val found = minhashLsh(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
    truth
      .withColumn("jband", expr("least(inter * 10 DIV uni, CAST(9 AS BIGINT))"))
      .join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy("jband")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall_ppm",
        expr("n_found * CAST(1000000 AS BIGINT) DIV n_true"))
      .orderBy("jband")
  }

  private val recallEvalSql =
    s"""$shinglesDuck,
      |$cappedPairsDuck,
      |tru AS (SELECT doc_a, doc_b, inter, na + nb - inter AS uni
      |        FROM pairs WHERE inter * 2 >= na + nb - inter),
      |$minhashCandDuck,
      |fnd AS (
      |  SELECT cand.doc_a, cand.doc_b
      |  FROM cand JOIN m a ON cand.doc_a = a.doc_id JOIN m b ON cand.doc_b = b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh)) * 2 >=
      |        len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      |SELECT least(t.inter * 10 // t.uni, 9) AS jband,
      |  count(*) AS n_true,
      |  CAST(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
      |  CAST(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_ppm
      |FROM tru t LEFT JOIN fnd f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b
      |GROUP BY 1
      |ORDER BY jband""".stripMargin

  // ---------------------------------------------------------------
  // dedup_incremental — new-batch-vs-corpus dedup, the flow a 100 TB
  // pipeline actually runs: a fresh ingest batch (here the newest
  // ~10% of docs by doc_id; threshold = floor(max_id·9/10), one
  // metadata scalar the oracle replicates as a subquery) is deduped
  // against the EXISTING corpus without reprocessing the corpus.
  // Candidates come from two equality joins on (band, sig): the
  // corpus band table (in production a maintained index, appended
  // per ingest — never recomputed) streamed against the BROADCAST
  // batch bands, plus a batch-internal self-join; then exact Jaccard
  // ≥ 0.5 verify with the skinny candidate set broadcast against the
  // shingle scans. The corpus is never shuffled, never self-joined —
  // cost per ingest is O(corpus scan + batch²-in-band), not
  // O(corpus²). Verdict per batch doc: dup_of_corpus (canonical =
  // lowest matched corpus id), dup_in_batch (earlier batch doc), or
  // novel.
  // ---------------------------------------------------------------
  private def incremental(s: SparkSession, dir: String): DataFrame = {
    val base = minhashBase(s, dir)
    val bands = bandIndex(s, dir)
    val maxId = bands.agg(max(col("doc_id"))).head().getLong(0)
    val threshold = maxId * 9 / 10
    val corpusBands = bands.filter(col("doc_id") <= threshold)
    val batchBands = bands.filter(col("doc_id") > threshold)
    // batch-vs-corpus: corpus streams, batch broadcasts
    val fromCorpus = corpusBands.as("c").join(broadcast(batchBands).as("n"),
        col("c.band") === col("n.band") && col("c.sig") === col("n.sig"))
      .select(col("n.doc_id").as("doc_id"), col("c.doc_id").as("match_id"))
    // batch-internal: earlier batch doc wins
    val inBatch = batchBands.as("x").join(broadcast(batchBands).as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("match_id"))
    val cand = fromCorpus.union(inBatch).distinct()
    // exact verify: both shingle lookups stream the scan against the
    // broadcast (progressively enriched) candidate set
    val matchSh = base.select(col("doc_id").as("match_id"), col("sh").as("shm"))
    val batchSh = base.filter(col("doc_id") > threshold)
      .select(col("doc_id"), col("sh").as("shn"))
    val withM = matchSh.join(broadcast(cand), Seq("match_id"))
    val pairs = batchSh.join(broadcast(withM), Seq("doc_id"))
      .withColumn("inter", expr("size(array_intersect(shn, shm))").cast("bigint"))
      .withColumn("uni", (expr("size(shn)") + expr("size(shm)")).cast("bigint") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_id", "match_id")
    val agg = pairs.groupBy("doc_id").agg(
      min(col("match_id")).as("dup_min"), count(lit(1)).as("n_matches"))
    base.filter(col("doc_id") > threshold).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_min"), col("doc_id")).as("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(col("dup_min").isNull, "novel")
          .when(col("dup_min") <= threshold, "dup_of_corpus")
          .otherwise("dup_in_batch").as("verdict"))
      .orderBy("doc_id")
  }

  private val incrementalSql = {
    val mins = perms.map { case (a, b) =>
      s"list_min(list_transform(sids, x -> ($a * x + $b) % $MersennePrime))"
    }.mkString("[", ",\n      ", "]")
    val bandRows = (0 until NBands).map { j =>
      val parts = (1 to RowsPerBand)
        .map(r => s"CAST(msig[${j * RowsPerBand + r}] AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $j AS band, $parts AS sig FROM m"
    }.mkString("\n  UNION ALL ")
    // candidate condition: batch doc (> T) vs ANY lower-id doc — all
    // corpus ids sit below T < batch ids, so match_id < doc_id covers
    // both the corpus and earlier-in-batch cases the Spark plan
    // builds as two separate joins.
    s"""$shinglesDuck,
      |sig AS (SELECT doc_id, sh, list_distinct(list_transform(sh, g -> $sid32Duck)) AS sids FROM s),
      |m AS (SELECT doc_id, sh,
      |      $mins AS msig
      |      FROM sig),
      |th AS (SELECT (max(doc_id) * 9) // 10 AS t FROM m),
      |bands AS (
      |  $bandRows),
      |cand AS (
      |  SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS match_id
      |  FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig AND c.doc_id < n.doc_id
      |  WHERE n.doc_id > (SELECT t FROM th)),
      |ver AS (
      |  SELECT cand.doc_id, cand.match_id
      |  FROM cand JOIN m a ON cand.doc_id = a.doc_id JOIN m b ON cand.match_id = b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh)) * 2 >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
      |agg AS (SELECT doc_id, min(match_id) AS dup_min, count(*) AS n_matches FROM ver GROUP BY doc_id)
      |SELECT i.doc_id,
      |  coalesce(a.dup_min, i.doc_id) AS dup_of,
      |  coalesce(a.n_matches, 0) AS n_matches,
      |  CASE WHEN a.dup_min IS NULL THEN 'novel'
      |       WHEN a.dup_min <= (SELECT t FROM th) THEN 'dup_of_corpus'
      |       ELSE 'dup_in_batch' END AS verdict
      |FROM (SELECT doc_id FROM m WHERE doc_id > (SELECT t FROM th)) i
      |LEFT JOIN agg a ON i.doc_id = a.doc_id
      |ORDER BY i.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // dedup_simhash — 60-bit SimHash over md5-derived token hashes
  // (multiplicity-weighted), candidates via 5 × 12-bit bands
  // (pigeonhole-exact for Hamming ≤ 4), verify with bit_count(xor).
  // ---------------------------------------------------------------
  private val SimBits = 60
  private val SimBands = 5
  private val BandBits = SimBits / SimBands
  private val HamMax = SimBands - 1 // pigeonhole: ≤4 diffs can't touch all 5 bands

  private def simhash(s: SparkSession, dir: String): DataFrame = {
    // native expression: same md5-derived 60-bit ids + weighted bit
    // votes as the interpreted HOF form, ~1000× cheaper per row
    val base = TextOps.withTokens(Tables.load(s, dir, "documents"))
      .withColumn("simhash", expr("graft_simhash60(toks)"))
      .select("doc_id", "simhash")
    val bandVals = (0 until SimBands)
      .map(k => expr(s"shiftright(simhash, ${k * BandBits}) & ${(1 << BandBits) - 1}"))
    val bands = base.select(col("doc_id"), col("simhash"),
      posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
      .filter(col("hamming") <= HamMax) // filter BEFORE distinct: shrink the dedup shuffle
      .select("doc_a", "doc_b", "hamming")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  private val simhashSql =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |h AS (SELECT doc_id, list_transform(toks, tk -> (('0x' || substr(md5(tk), 1, 15))::BIGINT)) AS hs FROM t),
      |sh AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(range(0, $SimBits), j ->
      |    CASE WHEN list_sum(list_transform(hs, v -> CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, simhash, band, (simhash >> (band * $BandBits)) & ${(1 << BandBits) - 1} AS bv
      |  FROM sh CROSS JOIN (SELECT unnest(range(0, $SimBands)) AS band) b),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.simhash AS sa, y.simhash AS sb
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(sa, sb)) <= $HamMax
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------
  // dedup_embedding — cosine near-dup pairs ≥ 0.4 (rounded to 4 dp;
  // double-precision math both sides), candidates from √N-cell IVF
  // quantization (Lloyd-refined, asymmetric probe: nprobe=8 probe
  // side × primary-cell index side), exact cosine verify. The
  // oracle replicates the cell grid, so the hash gate checks the
  // REAL scale path.
  // ---------------------------------------------------------------
  private[graft] def withNorm(df: DataFrame): DataFrame = {
    df.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("graft_array_dot(v, v)"))
  }

  private[graft] val EmbTau = 0.4

  /** Banded random-hyperplane LSH candidates + exact cosine verify —
    * kept for the banding sweep spec and for HIGH-τ corpora (τ ≥
    * 0.85) where r = 6-8 planes per band give fine buckets; the
    * REGISTERED op uses [[embeddingPairsIvf]] because at this op's
    * wide τ = 0.4 any banding with acceptable recall has O(1) buckets
    * per band and therefore a quadratic candidate set (measured 30×
    * op time at a 10× corpus before the switch).
    *
    * Banding is OR-of-ANDs: recall = 1-(1-p^r)^b with p = 1-θ/π.
    * The registered op verifies at τ = 0.4 (this corpus's near-dup
    * regime; max observed pair sim is 0.51), where r=2, b=8 measures
    * 57/59 = 0.97 recall at sf0.01. A production near-dup corpus
    * (τ ≥ 0.85) would pass r = 6-8 for 64-256× finer buckets — r/b
    * are parameters, and the tradeoff is the standard LSH one: low
    * thresholds buy recall with coarser (larger) buckets.
    */
  private[graft] def embeddingPairsLsh(emb: DataFrame, tau: Double,
      bands: Int, planesPerBand: Int): DataFrame = {
    val planes = Similarity.planesFor(bands * planesPerBand)
    val e = withNorm(emb).select(col("vec_id"), col("v"), col("nrm"))
    val bandVals = (0 until bands).map { j =>
      val bits = (0 until planesPerBand).map { r =>
        s"(CASE WHEN ${Similarity.planeDot(planes(j * planesPerBand + r))} > 0 THEN ${1 << r} ELSE 0 END)"
      }
      expr(bits.mkString(" + "))
    }
    val bandsDf = e.select(col("vec_id"),
      posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    // dedup candidates BEFORE the vector joins: an A/B at sf0.1
    // measured distinct-first at 2.6s vs verify-first at 5.1s — the
    // candidate dedup shuffles skinny 16-byte id pairs, where
    // verify-first drags two 512-byte vector payloads through the
    // joins for every duplicate candidate (a pair matches ≤ `bands`
    // bands) before anything shrinks
    val cand = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val av = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val bv = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(av, "vec_a").join(bv, "vec_b")
      .withColumn("sim", round(
        expr("graft_array_dot(va, vb)") / sqrt(col("na") * col("nb")), 4))
      .filter(col("sim") >= tau)
      .select("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** Cell-bounded candidate generation — the 100 TB path the
    * registered op ships: ceil(√N) Lloyd-refined IVF cells (the same
    * deterministic integer-ppm machinery sim_ivf hash-gates), every
    * vector assigned to its nprobe=2 nearest cells, candidate pairs
    * generated ONLY within a shared cell, skinny-distinct before the
    * vector rejoin, exact cosine ≥ τ verify.
    *
    * Why not banding here: the measured scaling slope of the 8×2
    * banded generator was QUADRATIC — r=2 gives 4 buckets per band
    * whatever N is, so a 10× synthesized corpus grew candidates
    * 5.3M → 534M (100×) and the op 30× (BENCH sf0.1 vs 10×). Wide-τ
    * (0.4) LSH cannot sub-split buckets without losing the recall the
    * threshold demands; cells that TRACK the data (k = √N, Lloyd-
    * refined) bound candidates at ~N^1.5 with measured recall parity
    * (DedupInvariantSpec). The banded generator stays as
    * [[embeddingPairsLsh]] for the sweep spec and for high-τ corpora
    * where fine bands are the better dial.
    */
  /** Cell grid: stride min(2√N, 96) — cells of ~2√N vectors while
    * the corpus is small, CONSTANT ~96-vector cells beyond N≈2.3k so
    * the candidate multiset grows LINEARLY (cells × const²) instead
    * of N^1.5/N². Probing is ASYMMETRIC (r11): the probe side takes
    * its nprobe = 8 nearest cells, the index side only its PRIMARY —
    * the classical IVF search shape. The r11 sweep against brute
    * truth at sf0.01 (τ = 0.4 pair recall / knn top-3 recall):
    * symmetric 4×4 (the r10 plan) = 0.983 / 0.973; asym 4/1 = 0.831
    * / 0.811; asym 6/1 = 0.915 / 0.934; asym 8/1 = 1.000 / 0.987 —
    * asym 8/1 DOMINATES the symmetric plan at the same ~8N²/C dot
    * count with a 4× smaller index side of every candidate join, so
    * it ships. The deliberately wide τ = 0.4 is the synthetic
    * corpus's near-dup regime (max pair sim 0.51); a production
    * near-dup corpus (τ ≥ 0.85) concentrates true pairs at distance
    * ≈ 0 where the probe count can drop. The N·k assignment stays
    * trivial into the millions of vectors; beyond that a deployment
    * adds a coarse first-level quantizer (standard two-level IVF) —
    * the per-cell pair work is already bounded.
    */
  private[ops] val IvfStrideMult = 2.0
  private[ops] val IvfProbe = 8
  private[ops] val IvfMaxStride = 96L

  /** Cell assignments over the shared √N Lloyd-refined grid (Spark
    * side of [[ivfCellsDuck]]'s ranked `ar`) — reused by
    * sim_knn_graph so graph edges come from the same cells as the
    * dedup pairs. Emits (vec_id, cell, crank) with crank ∈ [1,
    * probes]: crank = 1 is the PRIMARY cell (the index side of the
    * asymmetric candidate join), ranks 2..probes are the probe-side
    * expansion.
    */
  /** Coarse probe width for the staged grid's two-level assignment:
    * the probe side needs 8 good fine cells, and each coarse cell
    * routes ~√k fine cells, so CP coarse cells expose ~CP·√k fine
    * candidates. The r12 sweep vs brute truth at sf0.01/sf0.1 (same
    * harness as the r11 8/1 sweep) picked the smallest CP holding
    * the 0.9 pair-recall floor; numbers in SCALING_r12.md.
    */
  private[ops] val IvfCoarseProbe = 8

  private[ops] def ivfCellAssignments(emb: DataFrame, probes: Int = IvfProbe): DataFrame = {
    val e = withNorm(emb).select(col("vec_id"), col("v"), col("nrm"))
    // √N is corpus METADATA (like the hot-shingle stats): one count
    // action sizes the cell grid; both engines compute
    // least(ceil(2·sqrt(N)), 96). The SEED COUNT k0 (second metadata
    // count, seed-table-sized) sizes the coarse layer at ceil(√k0).
    val stride = math.min(
      math.ceil(IvfStrideMult * math.sqrt(e.count().toDouble)).toLong, IvfMaxStride)
    // BOTH assignment passes are two-level — the Lloyd seed pass
    // (inside refinedCentroids) is the same N·k dot count as the
    // final pass, so a flat pass anywhere would keep the stage
    // quadratic (r12 sf10 probe: 236 s at 100×; SCALING_r12.md §1).
    // ONE shared coarse routing serves both passes (r13).
    val coarse = Similarity.coarseSeeds(e, stride)
    val routing = Some(Similarity.coarseRouting(e, coarse, "vec_id").localCheckpoint())
    val cent = Similarity.refinedCentroids(e, stride, coarse, routingOpt = routing)
    Similarity.assignTwoLevel(e, cent, coarse, "vec_id", IvfCoarseProbe, probes,
      keepRank = true, routingOpt = routing)
  }

  /** Unsorted pair generation — what the stage WRITES. The sort
    * lives only on the consumer side (over the tiny verified pair
    * set): a sort directly above this plan would range-partition,
    * and RangePartitioning SAMPLES its child — executing the whole
    * candidate-generation + verify subplan twice per materialization
    * (measured 25.9 s → 70.7 s at the 10× corpus before this split).
    */
  private def embeddingPairsIvfUnsorted(emb: DataFrame, tau: Double,
      assignedOpt: Option[DataFrame] = None): DataFrame = {
    val e = withNorm(emb).select(col("vec_id"), col("v"), col("nrm"))
    val assigned = assignedOpt.getOrElse(ivfCellAssignments(emb))
    // cell-local scoring (r10, same rewrite as Similarity.
    // knnGraphUnsorted): vectors attach to the probes·N assignment
    // rows ONCE and pairs score inside the cell-keyed join — the
    // previous pair-list-first plan shuffled a pair-sized relation
    // of full vectors twice and spilled at the 30× corpus. The
    // post-score (a, b) aggregate dedupes multi-cell duplicates over
    // SKINNY rows; sim is identical across duplicates, so the gated
    // output is bit-identical.
    // ASYMMETRIC probe (r11): the probe side keeps all nprobe=8
    // assignments, the index side only the PRIMARY (crank = 1) cell
    // — the classical IVF search shape. A pair surfaces iff either
    // vector probes the other's primary cell; at the same ~8N²/C dot
    // count as the old symmetric 4×4 this MEASURES BETTER recall
    // (1.000 vs 0.983 pair recall at sf0.01 — sweep table at
    // IvfProbe) and shrinks the index side of every candidate join
    // 8×; full numbers in DedupInvariantSpec + SCALING_r11.md.
    val aw = assigned.join(e, "vec_id")
    val x = aw.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val y = aw.filter(col("crank") === 1).select(col("cell"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    x.join(y, Seq("cell"))
      .filter(col("vec_a") =!= col("vec_b"))
      .withColumn("sim", round(
        expr("graft_array_dot(va, vb)") / sqrt(col("na") * col("nb")), 4))
      .filter(col("sim") >= tau)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("sim"))
      .groupBy("vec_a", "vec_b").agg(max(col("sim")).as("sim"))
  }

  private[graft] def embeddingPairsIvf(emb: DataFrame, tau: Double): DataFrame =
    embeddingPairsIvfUnsorted(emb, tau).orderBy("vec_a", "vec_b")

  /** Staged embedding near-dup pair set (vec_a, vec_b, sim) — the
    * fourth snapshot-staged corpus artifact: dedup_embedding and
    * dedup_semantic both consume the same IVF-candidates + exact-
    * verify pair generation, which nobody runs twice per corpus
    * snapshot at 100 TB. Keyed on the EMBEDDINGS table snapshot;
    * probes the staged IVF cells.
    */
  private[graft] val EmbPairs = new Staging.Parquet("emb_pairs", "embeddings")((s, dir) =>
    embeddingPairsIvfUnsorted(Tables.load(s, dir, "embeddings"), EmbTau,
      Some(stagedCellAssignments(s, dir))))

  private[graft] def embeddingNearDupPairs(s: SparkSession, dir: String): DataFrame =
    EmbPairs(s, dir)

  /** Snapshot-staged IVF cell assignments (vec_id, cell) — the grid
    * BOTH embedding-pair generation and the kNN graph probe (the
    * oracle already shares it as `ivfCellsDuck`). The Lloyd-refined
    * assignment plan is the expensive, data-size-independent part of
    * both stages (~4 s of planning + jobs at any SF), and at 100 TB
    * the IVF grid is a maintained index artifact — built once per
    * corpus snapshot, probed by every consumer.
    */
  private[graft] val IvfCells = new Staging.Parquet("ivf_cells", "embeddings")((s, dir) =>
    ivfCellAssignments(Tables.load(s, dir, "embeddings")))

  private[ops] def stagedCellAssignments(s: SparkSession, dir: String): DataFrame =
    IvfCells(s, dir)

  private def embeddingDedup(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(s, dir).orderBy("vec_a", "vec_b")

  /** Shared oracle fragment: the √N-cell Lloyd-refined IVF grid with
    * nprobe=8 probe-side assignments (CTE `a2`: vec_id → probed
    * cell) and the primary index-side assignment (CTE `a1`, cr = 1)
    * — used by dedup_embedding, dedup_semantic and sim_knn_graph so
    * the ops provably search the same grid with the same asymmetric
    * probe.
    */
  private[ops] val ivfCellsDuck =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |st AS (SELECT CAST(least(ceil(2 * sqrt(count(*))), 96) AS BIGINT) AS stride FROM n),
      |cent0 AS (SELECT vec_id AS cid, v AS centv, nrm AS centn FROM n
      |          WHERE vec_id % (SELECT stride FROM st) = 0),
      |cst AS (SELECT CAST(greatest(ceil(sqrt(count(*))), 1) AS BIGINT) AS cstride FROM cent0),
      |coarse AS (SELECT vec_id AS ccid, v AS cv0, nrm AS cn0 FROM n
      |           WHERE vec_id % ((SELECT stride FROM st) * (SELECT cstride FROM cst)) = 0),
      |f2c0 AS (
      |  SELECT cid, centv, centn, ccid AS ccell FROM (
      |    SELECT f.cid, f.centv, f.centn, c.ccid,
      |      row_number() OVER (PARTITION BY f.cid
      |        ORDER BY round(list_dot_product(f.centv, c.cv0) / sqrt(f.centn * c.cn0), 4) DESC, c.ccid) AS fcr
      |    FROM cent0 f CROSS JOIN coarse c) a
      |  WHERE fcr = 1),
      |rt0 AS (
      |  SELECT vec_id, ccid AS ccell FROM (
      |    SELECT x.vec_id, c.ccid,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY round(list_dot_product(x.v, c.cv0) / sqrt(x.nrm * c.cn0), 4) DESC, c.ccid) AS cr0
      |    FROM n x CROSS JOIN coarse c
      |    WHERE c.ccid IN (SELECT DISTINCT ccell FROM f2c0)) a
      |  WHERE cr0 <= $IvfCoarseProbe),
      |a0 AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT x.vec_id, f.cid,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY round(list_dot_product(x.v, f.centv) / sqrt(x.nrm * f.centn), 4) DESC, f.cid) AS cr
      |    FROM rt0 r JOIN n x ON r.vec_id = x.vec_id
      |    JOIN f2c0 f ON r.ccell = f.ccell) a
      |  WHERE cr = 1),
      |px AS (
      |  SELECT cell, CAST(i AS INT) AS dim,
      |    CAST(floor(v[CAST(i + 1 AS INT)] * 1000000) AS BIGINT) AS v_ppm
      |  FROM (SELECT a0.cell, x.v, unnest(range(0, len(x.v))) AS i
      |        FROM n x JOIN a0 ON x.vec_id = a0.vec_id) u),
      |cs AS (SELECT cell, dim, count(*) AS nn, sum(v_ppm) AS s_ppm FROM px GROUP BY cell, dim),
      |cent AS (
      |  SELECT cell AS cid,
      |    list(CAST(s_ppm AS DOUBLE) / 1000000 / nn ORDER BY dim) AS centv
      |  FROM cs GROUP BY cell),
      |centf AS (SELECT cid, centv, list_dot_product(centv, centv) AS centn FROM cent),
      |f2c AS (
      |  SELECT cid, centv, centn, ccid AS ccell FROM (
      |    SELECT f.cid, f.centv, f.centn, c.ccid,
      |      row_number() OVER (PARTITION BY f.cid
      |        ORDER BY round(list_dot_product(f.centv, c.cv0) / sqrt(f.centn * c.cn0), 4) DESC, c.ccid) AS fcr
      |    FROM centf f CROSS JOIN coarse c) a
      |  WHERE fcr = 1),
      |rt AS (
      |  SELECT vec_id, ccid AS ccell FROM (
      |    SELECT x.vec_id, c.ccid,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY round(list_dot_product(x.v, c.cv0) / sqrt(x.nrm * c.cn0), 4) DESC, c.ccid) AS cr0
      |    FROM n x CROSS JOIN coarse c
      |    WHERE c.ccid IN (SELECT DISTINCT ccell FROM f2c)) a
      |  WHERE cr0 <= $IvfCoarseProbe),
      |ar AS MATERIALIZED (
      |  SELECT x.vec_id, f.cid,
      |    row_number() OVER (PARTITION BY x.vec_id
      |      ORDER BY round(list_dot_product(x.v, f.centv) / sqrt(x.nrm * f.centn), 4) DESC, f.cid) AS cr
      |  FROM rt r JOIN n x ON r.vec_id = x.vec_id
      |  JOIN f2c f ON r.ccell = f.ccell),
      |a2 AS (SELECT vec_id, cid AS cell FROM ar WHERE cr <= $IvfProbe),
      |a1 AS (SELECT vec_id, cid AS cell FROM ar WHERE cr = 1)""".stripMargin

  private val embeddingDedupSql =
    s"""$ivfCellsDuck,
      |cand AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS vec_a,
      |           greatest(x.vec_id, y.vec_id) AS vec_b
      |         FROM a2 x JOIN a1 y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
      |p AS (SELECT vec_a, vec_b,
      |        round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) AS sim
      |      FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id)
      |SELECT vec_a, vec_b, sim FROM p WHERE sim >= $EmbTau
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------
  // dedup_clusters — connected components over the near-dup pair
  // graph (ngram Jaccard ≥ 0.5): min-label propagation ACCELERATED by
  // pointer jumping — each round does (a) neighbor-min (label[u] :=
  // min over {u} ∪ N(u) of labels) then (b) label[u] := label[label[u]]
  // (a self-join; labels are always vertex ids so the lookup is total).
  // Plain propagation needs O(component diameter) rounds; the jump
  // squares the reach per round ⇒ O(log diameter) — a 1000-hop chain
  // converges in ~10 rounds, not 1000. That loop is the Cc kernel's
  // path above Cc.DriverEdgeBound edge rows; a near-dup graph below it
  // (every gate-scale corpus: a few hundred pairs) is resolved by one
  // bounded collect and a driver-side union-find, same labels.
  // ---------------------------------------------------------------
  private val MaxCcRounds = 20 // pointer jumping: covers diameter ~2^20

  /** The registered op: staged labels read back in doc order. */
  private[ops] def clusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir).orderBy("doc_id")

  /** Compute the CC labels from the (staged) pair graph — the plan
    * the labels stage materializes.
    */
  private def clustersComputed(s: SparkSession, dir: String): DataFrame = {
    // ngramJaccard may trigger the corpus-wide pair-graph STAGING,
    // which runs at full parallelism; the Cc kernel resolves the small
    // near-dup graph on the driver, and scopes its own loop to a
    // SIZE-DERIVED partition count only above its edge bound
    clustersLoop(ngramJaccard(s, dir).select("doc_a", "doc_b"))
  }

  /** Min-label CC over the undirected near-dup pairs, delegated to
    * the shared [[Cc]] kernel (one kernel for the dedup and graph
    * families — see Cc.scala for its driver and loop paths).
    */
  private def clustersLoop(pairs: DataFrame): DataFrame = {
    val labels = Cc.minLabelComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
        MaxCcRounds, "dedup_clusters")
      .select(col("v").as("doc_id"), col("label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // dedup_semantic — SemDeDup-style semantic deduplication END TO
  // END: connected components over the embedding near-dup pair graph
  // (the same cell-bounded IVF candidates + exact cosine ≥ τ verify
  // dedup_embedding gates), one canonical vector kept per semantic
  // cluster (min vec_id — deterministic on both engines), everyone
  // else marked dropped. Reuses the Cc kernel the text pipeline
  // proved, so the embedding and text dedup stacks share one
  // clustering engine. Output is the per-vector verdict the corpus
  // pipeline filters on (`WHERE is_kept = 1`).
  // ---------------------------------------------------------------
  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    // staged pair generation runs at full parallelism; the Cc kernel
    // picks its own path (same move as clustersComputed)
    val pairs = embeddingNearDupPairs(s, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val labels = clustersLoop(pairs)
    labels.select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0).as("is_kept"))
      .orderBy("vec_id")
  }

  private val semanticDedupSql =
    s"""$ivfCellsDuck,
      |cand AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS vec_a,
      |           greatest(x.vec_id, y.vec_id) AS vec_b
      |         FROM a2 x JOIN a1 y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
      |p AS (SELECT vec_a, vec_b,
      |        round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) AS sim
      |      FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id),
      |nd AS (SELECT vec_a, vec_b FROM p WHERE sim >= $EmbTau),
      |edges AS (SELECT vec_a AS u, vec_b AS v FROM nd UNION SELECT vec_b, vec_a FROM nd
      |          UNION SELECT vec_a, vec_a FROM nd UNION SELECT vec_b, vec_b FROM nd),
      |reach AS (
      |  WITH RECURSIVE r(u, v) AS (
      |    SELECT u, v FROM edges
      |    UNION
      |    SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      |  SELECT u, v FROM r),
      |lab AS (SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u)
      |SELECT vec_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |  CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS is_kept
      |FROM lab
      |ORDER BY vec_id""".stripMargin

  private val clustersSql =
    s"""$shinglesDuck,
      |$cappedPairsDuck,
      |nd AS (SELECT doc_a, doc_b FROM pairs WHERE inter * 2 >= na + nb - inter),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM nd UNION SELECT doc_b, doc_a FROM nd
      |          UNION SELECT doc_a, doc_a FROM nd UNION SELECT doc_b, doc_b FROM nd),
      |reach AS (
      |  WITH RECURSIVE r(u, v) AS (
      |    SELECT u, v FROM edges
      |    UNION
      |    SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      |  SELECT u, v FROM r),
      |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM lab
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // dedup_corpus_pipeline — the end-to-end training-corpus cleaning
  // flow as ONE lineage (the LLM-data analog of etl_end_to_end's DW
  // DAG): exact dedup keeps the canonical doc per content hash →
  // near-dup clustering drops non-canonical cluster members → a
  // quality gate (integer-ppm score) filters the survivors → final
  // corpus stats. Output = per-stage survivor counts + surviving
  // token mass, so any stage regression is visible in one row.
  // ---------------------------------------------------------------
  private[ops] val QualityGatePpm = 550000L

  /** Per-doc integer-ppm quality score + token count (the corpus
    * pipeline's gate input, shared with curation_manifest).
    */
  private[ops] def qualityPerDoc(s: SparkSession, dir: String): DataFrame =
    TextOps.withTokens(Tables.load(s, dir, "documents"))
      .withColumn("n", size(col("toks")))
      .withColumn("stop_cnt", expr(s"size(filter(toks, x -> x IN (${TextOps.stopList})))"))
      .withColumn("short_cnt", expr("size(filter(toks, x -> length(x) <= 2))"))
      .withColumn("dup_cnt", col("n") - size(array_distinct(col("toks"))))
      .withColumn("quality_ppm",
        expr("(10 * n - (5 * dup_cnt + 3 * stop_cnt + 2 * short_cnt)) * CAST(100000 AS BIGINT) DIV n"))
      .select(col("doc_id"), col("quality_ppm"), col("n").cast("bigint").as("n_tokens"))

  private def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    // per-doc stage flags, folded in ONE aggregation pass — separate
    // .count() actions per stage would re-execute the (expensive)
    // cluster lineage once per stage
    val exactFlag = exact(s, dir)
      .select(col("doc_id"), (col("is_duplicate") === 0).cast("int").as("keep_exact"))
    val nearDrop = clusterLabels(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1).as("nd_drop"))
    val quality = qualityPerDoc(s, dir)
    val nearKept = col("keep_exact") === 1 && col("nd_drop").isNull
    val finalKept = nearKept && col("quality_ppm") >= QualityGatePpm
    exactFlag
      .join(nearDrop, Seq("doc_id"), "left")
      .join(quality, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep_exact")).cast("bigint").as("n_after_exact"),
        sum(when(nearKept, 1).otherwise(0)).cast("bigint").as("n_after_neardup"),
        sum(when(finalKept, 1).otherwise(0)).cast("bigint").as("n_final"),
        sum(when(finalKept, col("n_tokens")).otherwise(0L)).as("final_tokens"))
  }

  private val corpusPipelineSql =
    s"""$shinglesDuck,
      |$cappedPairsDuck,
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
      |exact_keep AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS canon
      |    FROM documents) e
      |  WHERE doc_id = canon),
      |after_neardup AS (
      |  SELECT doc_id FROM exact_keep k
      |  WHERE NOT EXISTS (SELECT 1 FROM lab WHERE lab.doc_id = k.doc_id AND lab.doc_id <> lab.cluster_id)),
      |q AS (
      |  SELECT doc_id,
      |    (10 * n - (5 * dup_cnt + 3 * stop_cnt + 2 * short_cnt)) * CAST(100000 AS BIGINT) // n AS quality_ppm,
      |    n AS n_tokens
      |  FROM (
      |    SELECT doc_id, len(toks) AS n,
      |      len(list_filter(toks, x -> x IN (${TextOps.stopList}))) AS stop_cnt,
      |      len(list_filter(toks, x -> length(x) <= 2)) AS short_cnt,
      |      len(toks) - len(list_distinct(toks)) AS dup_cnt
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents) t) x),
      |surv AS (
      |  SELECT q.doc_id, q.n_tokens FROM after_neardup a JOIN q ON a.doc_id = q.doc_id
      |  WHERE q.quality_ppm >= $QualityGatePpm)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      |  (SELECT count(*) FROM exact_keep) AS n_after_exact,
      |  (SELECT count(*) FROM after_neardup) AS n_after_neardup,
      |  (SELECT count(*) FROM surv) AS n_final,
      |  (SELECT CAST(sum(n_tokens) AS BIGINT) FROM surv) AS final_tokens""".stripMargin

  // ---------------------------------------------------------------
  // dedup_source_sketch — per-source corpus MinHash sketch via the
  // typed [[graft.functions.MinHashUnion]] Aggregator: signatures
  // merge by element-wise min (MinHash is a mergeable sketch), so the
  // group sketch aggregates distributively — partial merges collapse
  // each partition to one 32-slot array before the shuffle, like a
  // built-in sum. Output exploded to (source, perm, sig_min) scalar
  // rows for the oracle; two source sketches estimate cross-corpus
  // Jaccard as matching-slots/32.
  // ---------------------------------------------------------------
  private def sourceSketch(s: SparkSession, dir: String): DataFrame = {
    val base = withShingles(Tables.load(s, dir, "documents"))
      .withColumn("msig", expr("graft_minhash32(sh)"))
      .select("source", "msig")
    val sketch = udaf(graft.functions.MinHashUnion)
    base.groupBy("source").agg(sketch(col("msig")).as("sk"))
      .select(col("source"), posexplode(col("sk")).as(Seq("perm", "sig_min")))
      .orderBy("source", "perm")
  }

  private val sourceSketchSql = {
    val mins = perms.map { case (a, b) =>
      s"list_min(list_transform(sids, x -> ($a * x + $b) % $MersennePrime))"
    }.mkString("[", ",\n      ", "]")
    s"""WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
      |s2 AS (SELECT doc_id, source, list_distinct(list_transform(range(1, len(toks)-1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |       FROM t WHERE len(toks) >= 3),
      |sig AS (SELECT source, list_distinct(list_transform(sh, g -> $sid32Duck)) AS sids FROM s2),
      |m AS (SELECT source,
      |      $mins AS msig
      |      FROM sig),
      |e AS (SELECT source, CAST(unnest(range(0, ${graft.functions.MinHashUnion.Slots})) AS INT) AS perm, msig FROM m)
      |SELECT source, perm, min(msig[perm + 1]) AS sig_min
      |FROM e
      |GROUP BY source, perm
      |ORDER BY source, perm""".stripMargin
  }

  // ---------------------------------------------------------------
  // dedup_edit_distance — character-level EXACT verification of the
  // shingle near-dup candidates: n-gram Jaccard certifies SET
  // overlap; edit distance certifies SEQUENCE closeness (a doc whose
  // shingle set survives reordering has high J but large edit
  // distance — the scrambled-near-dup false positive every set-based
  // family structurally can't see; dedup pipelines run exactly this
  // verify before destructive dedup). Candidates come from the SAME
  // staged df-capped inverted-index pair graph as dedup_ngram_jaccard
  // (linear in postings, never doc×doc) at a LOWER overlap bar
  // (J ≥ 1/4 — the verify stage exists to re-judge borderline pairs
  // the J ≥ 1/2 gate would discard unseen); only the pair-sized
  // survivors join back to the two texts, so the O(len²) levenshtein
  // DP runs on a relation orders of magnitude smaller than the
  // corpus — the staging + bucketing make the at-scale cost the pair
  // count, not the corpus square. sim_ppm = (maxlen − dist)·10⁶ DIV
  // maxlen; is_near_dup at ≥ 70%. Parity: both engines' levenshtein
  // is the classic character DP; DuckDB counts BYTES where Spark
  // counts CHARS — identical on this ASCII corpus (the multimodal
  // payload guard enforces ASCII), and a non-ASCII corpus would
  // hash-fail loudly rather than drift silently.
  // ---------------------------------------------------------------
  private val EditNearDupPpm = 700000L

  private def editDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    stagedCandidateStats(s, dir)
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 4 >= col("uni"))
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .withColumn("len_a", length(col("text_a")).cast("bigint"))
      .withColumn("len_b", length(col("text_b")).cast("bigint"))
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")).cast("bigint"))
      .withColumn("maxlen", greatest(col("len_a"), col("len_b"), lit(1L)))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        col("len_a"), col("len_b"), col("dist"),
        expr("(maxlen - dist) * 1000000 DIV maxlen").as("sim_ppm"),
        (expr("(maxlen - dist) * 1000000 DIV maxlen") >= EditNearDupPpm)
          .cast("int").as("is_near_dup"))
      .orderBy("doc_a", "doc_b")
  }

  private val editDistanceSql =
    s"""$shinglesDuck,
      |$cappedPairsDuck,
      |cand AS (SELECT doc_a, doc_b, inter, na + nb - inter AS uni
      |  FROM pairs WHERE inter * 4 >= na + nb - inter),
      |tx AS (SELECT c.doc_a, c.doc_b, c.inter, c.uni,
      |    CAST(length(da.text) AS BIGINT) AS len_a,
      |    CAST(length(db.text) AS BIGINT) AS len_b,
      |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
      |    GREATEST(length(da.text), length(db.text), 1) AS maxlen
      |  FROM cand c
      |  JOIN documents da ON c.doc_a = da.doc_id
      |  JOIN documents db ON c.doc_b = db.doc_id)
      |SELECT doc_a, doc_b, inter, uni, len_a, len_b, dist,
      |  (maxlen - dist) * 1000000 // maxlen AS sim_ppm,
      |  CAST(CASE WHEN (maxlen - dist) * 1000000 // maxlen >= $EditNearDupPpm
      |       THEN 1 ELSE 0 END AS INT) AS is_near_dup
      |FROM tx
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------
  // dedup_url_canonical — URL-canonicalization dedup: the FIRST
  // dedup pass every web corpus runs (CommonCrawl-style pipelines
  // dedup by canonical URL before any content hashing — one page
  // arrives under tracking-parameter, case, port and trailing-slash
  // variants). The corpus is synthetic (no real URLs), so the op
  // DERIVES a deterministic messy URL per doc first — scheme/host
  // case, an explicit :443 port, a trailing slash and utm_* tracking
  // params vary by doc_id residue, both engines synthesize the
  // identical string (the txt_pii_scrub convention) — then
  // canonicalizes with an ordered rule chain: lowercase → strip
  // default port → drop utm_* params (explicit [a-z_] classes, never
  // \\w — §5's regex-flavor rule; literal replace() for the
  // fixed-position rules, so no backslash-flavor hazard at all) →
  // collapse the path/query seam. Docs sharing a canonical URL form
  // a dup group; min doc_id is the keeper. Plan: pure map for the
  // synthesis + canonicalization, ONE shuffle on the canonical hash
  // for the group window — linear at any SF (URL dedup is the cheap
  // pass; that is WHY pipelines run it first).
  // ---------------------------------------------------------------
  private def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    val url =
      """concat(
        |  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
        |  CASE WHEN doc_id % 4 < 2 THEN 'WWW.' ELSE 'www.' END, source, '.Example.COM',
        |  CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
        |  '/p/', CAST(doc_id % 10 AS STRING),
        |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
        |  '?utm_source=feed&ref=', lang,
        |  CASE WHEN doc_id % 2 = 0 THEN '&utm_campaign=c0' ELSE '' END)""".stripMargin
    val canon =
      """replace(replace(regexp_replace(replace(lower(url), ':443/', '/'),
        |  '&utm_[a-z_]+=[a-z0-9]+', ''), '?utm_source=feed&', '?'), '/?', '?')""".stripMargin
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canonical_url")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("url", expr(url))
      .withColumn("canonical_url", expr(canon))
      .withColumn("dup_group_size", count(lit(1)).over(w))
      .withColumn("canonical_doc_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("url"), col("canonical_url"),
        col("dup_group_size"), col("canonical_doc_id"),
        (col("doc_id") === col("canonical_doc_id")).cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  private val urlCanonicalSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 4 < 2 THEN 'WWW.' ELSE 'www.' END) || source || '.Example.COM' ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
      |    '/p/' || CAST(doc_id % 10 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
      |    '?utm_source=feed&ref=' || lang ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '&utm_campaign=c0' ELSE '' END) AS url
      |  FROM documents),
      |c AS (SELECT doc_id, url,
      |    replace(replace(regexp_replace(replace(lower(url), ':443/', '/'),
      |      '&utm_[a-z_]+=[a-z0-9]+', '', 'g'), '?utm_source=feed&', '?'), '/?', '?')
      |      AS canonical_url
      |  FROM u)
      |SELECT doc_id, url, canonical_url,
      |  count(*) OVER w AS dup_group_size,
      |  min(doc_id) OVER w AS canonical_doc_id,
      |  CAST(CASE WHEN doc_id = min(doc_id) OVER w THEN 1 ELSE 0 END AS INT) AS is_canonical
      |FROM c
      |WINDOW w AS (PARTITION BY canonical_url)
      |ORDER BY doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("dedup_url_canonical", urlCanonical, Some(urlCanonicalSql)),
    Op("dedup_edit_distance", editDistance, Some(editDistanceSql)),
    Op("dedup_exact", exact, Some(exactSql)),
    Op("dedup_source_sketch", sourceSketch, Some(sourceSketchSql)),
    Op("dedup_clusters", clusters, Some(clustersSql)),
    Op("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    Op("dedup_containment", containment, Some(containmentSql)),
    Op("dedup_minhash_lsh", minhashLsh, Some(minhashLshSql)),
    Op("dedup_recall_eval", recallEval, Some(recallEvalSql)),
    Op("dedup_incremental", incremental, Some(incrementalSql)),
    Op("dedup_simhash", simhash, Some(simhashSql)),
    Op("dedup_embedding", embeddingDedup, Some(embeddingDedupSql)),
    Op("dedup_semantic", semanticDedup, Some(semanticDedupSql)),
    Op("dedup_corpus_pipeline", corpusPipeline, Some(corpusPipelineSql)))
}
