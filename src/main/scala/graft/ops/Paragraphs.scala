package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** dedup_cdc_chunks — PARAGRAPH-GRAIN near-duplicate detection via
  * content-defined chunking + MinHash-LSH (r14 VERDICT item 8b): the
  * spans family finds EXACT sub-document repeats and the MinHash
  * family finds WHOLE-document near-dups; what neither covers is the
  * RefinedWeb-style fuzzy dedup at sub-document grain — a paragraph
  * copied with small edits into otherwise-unrelated documents.
  *
  * Fixed-position blocks cannot find these (measured on this corpus:
  * ZERO near-dup pairs across distinct aligned 8/16-token blocks at
  * sf0.01 — one inserted token shifts every downstream block, so only
  * exact repeats survive alignment). The fix is the classic
  * content-defined chunking move (rsync/LBFS rolling-hash cut
  * points): a token position starts a new chunk when the md5-derived
  * 31-bit id of the trigram ENDING there ≡ 0 (mod CdcD) — boundaries
  * are functions of local content, so an insertion moves only the
  * chunk it lands in and chunk identity re-synchronizes at the next
  * cut point. Expected chunk length = CdcD tokens (~12–15 measured).
  *
  * Pipeline (all equality-keyed, linear in corpus tokens):
  *   1. cut points + chunk slices as per-row ARRAY ops (codegen'd
  *      filter/transform HOFs — no token-grain explode, no shuffle);
  *      chunks shorter than MinChunkToks carry < 4 shingles and are
  *      dropped (too quantized to mean anything, the
  *      MinContainShingles rationale).
  *   2. EXACT chunk classes first: hash-partition on md5(chunk text),
  *      canonical = (min doc_id, chunk_no), member count rides along.
  *      Exact sub-document repeats are the common case and a
  *      hash-groupBy handles them at any scale — MinHash then runs
  *      over DISTINCT contents only, so an m-fold exact repeat costs
  *      one signature instead of m² candidate pairs.
  *   3. MinHash (the gated graft_minhash32 kernel, same 32 perms as
  *      dedup_minhash_lsh) + 8×4 banded LSH over canonical chunks;
  *      candidates from band/sig equality joins only (the 100 TB
  *      path — never an all-pairs comparison).
  *   4. exact-Jaccard verify (≥ 0.5) on the chunk shingle sets; the
  *      emitted pair carries both classes' exact-repeat counts so a
  *      curation pass reads blast radius (dups_a × dups_b pairs of
  *      real occurrences) off one row.
  * At 100 TB: step 1 is map-only; step 2 shuffles chunk-grain rows
  * once on an 8-byte hash; step 3's band join is the same bounded
  * equality join the document-grain LSH runs; nothing is quadratic
  * in corpus size.
  */
object Paragraphs {

  /** Cut density: a trigram id ≡ 0 (mod CdcD) starts a chunk —
    * expected chunk ≈ CdcD tokens.
    */
  private val CdcD = 12L
  private val MinChunkToks = 6

  private[graft] def chunkRel(s: SparkSession, dir: String): DataFrame = {
    val docs = TextOps.withTokens(Tables.load(s, dir, "documents"))
      .filter(size(col("toks")) >= 3)
    // A position i (1-based, i >= 3) starts a new chunk when the
    // 31-bit id of toks[i-2..i] ≡ 0 (mod CdcD); position 1 always
    // starts chunk 0. The md5 runs on an EXPLODED trigram relation —
    // one codegen'd evaluation per position — NOT inside an array
    // lambda: higher-order-function bodies evaluate interpreted, and
    // projection collapse re-inlines the whole cut chain once per
    // downstream reference (measured 63 s vs <2 s at sf0.1 for the
    // same 270k positions). Cut rows are ~1/CdcD of positions, so the
    // collect_list per doc is bounded by doc length (the islandSpans
    // state bound).
    val cutPos = docs.selectExpr("doc_id",
        "posexplode(transform(sequence(3, size(toks)), i -> concat_ws(' ', " +
          "element_at(toks, i - 2), element_at(toks, i - 1), element_at(toks, i)))) AS (j, g)")
      .filter(expr(s"(${Dedup.sid32Spark}) % $CdcD = 0"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("j") + 3)).as("cuts"))
    docs.join(cutPos, Seq("doc_id"), "left")
      // `cuts` is a bound column after the join, so the chunk-building
      // lambdas below do only cheap array arithmetic per row
      .withColumn("starts", expr(
        "concat(array(1), coalesce(cuts, CAST(array() AS ARRAY<INT>)))"))
      .withColumn("chunks", expr(
        // try_element_at: the LAST chunk has no next start (DuckDB's
        // list index returns NULL there; Spark's element_at throws)
        "transform(starts, (st, k) -> " +
          "slice(toks, st, coalesce(try_element_at(starts, k + 2), size(toks) + 1) - st))"))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_no", "ptoks")))
      .filter(size(col("ptoks")) >= MinChunkToks)
      .select(col("doc_id"), col("chunk_no").cast("bigint").as("chunk_no"),
        concat_ws(" ", col("ptoks")).as("g"), expr("graft_shingles3(ptoks)").as("sh"))
  }

  /** Canonical-chunk relation (doc_id, chunk_no, sh, members, msig) —
    * the unstaged plan. Tokenize → CDC cut points → chunk slices →
    * exact-class canonicalization → MinHash signature.
    */
  private[ops] def canonPlan(s: SparkSession, dir: String): DataFrame = {
    val wCls = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_no"))
    chunkRel(s, dir)
      .withColumn("h", md5(col("g")))
      .withColumn("rn", row_number().over(wCls))
      .withColumn("members", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_no"), col("sh"), col("members"))
      .withColumn("msig", expr("graft_minhash32(sh)"))
  }

  /** [[canonPlan]] staged once per corpus snapshot in the [[Staging]]
    * memo. The op consumes canon FOUR times (band self-join x + y,
    * verify legs a + b); unstaged, each consumer re-ran the whole
    * tokenize→cut→window→minhash chain — the r15 before-plan showed
    * 16 parquet scans of `documents` and two graft_minhash32
    * evaluations with zero subtree reuse. Staged, the chain runs once
    * per corpus snapshot and every consumer is a scan of the
    * chunk-grain parquet (guide §2.4: share one exchange; §1.2: fix
    * the pass structure before per-task work). Re-billed by Bench's
    * timed staging phase (line `cdc_canon`).
    */
  private[graft] val CdcCanon = new Staging.Parquet("cdc_canon", "documents")(canonPlan)

  private[ops] def stagedCanon(s: SparkSession, dir: String): DataFrame = CdcCanon(s, dir)

  private def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val canon = stagedCanon(s, dir)
    val bandSigs = (0 until Dedup.NBands).map { j =>
      val parts = (0 until Dedup.RowsPerBand)
        .map(r => s"CAST(element_at(msig, ${j * Dedup.RowsPerBand + r + 1}) AS STRING)")
      expr(parts.mkString("concat_ws('_', ", ", ", ")"))
    }
    val bands = canon.select(col("doc_id"), col("chunk_no"),
      posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          (col("x.doc_id") < col("y.doc_id") ||
            (col("x.doc_id") === col("y.doc_id") && col("x.chunk_no") < col("y.chunk_no"))))
      .select(col("x.doc_id").as("doc_a"), col("x.chunk_no").as("chunk_a"),
        col("y.doc_id").as("doc_b"), col("y.chunk_no").as("chunk_b"))
      .distinct()
    val av = canon.select(col("doc_id").as("doc_a"), col("chunk_no").as("chunk_a"),
      col("sh").as("sha"), col("members").as("dups_a"))
    val bv = canon.select(col("doc_id").as("doc_b"), col("chunk_no").as("chunk_b"),
      col("sh").as("shb"), col("members").as("dups_b"))
    cand.join(av, Seq("doc_a", "chunk_a")).join(bv, Seq("doc_b", "chunk_b"))
      .withColumn("inter", expr("size(array_intersect(sha, shb))").cast("bigint"))
      .withColumn("uni", (expr("size(sha)") + expr("size(shb)")).cast("bigint") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("doc_a", "chunk_a", "doc_b", "chunk_b", "inter", "uni", "dups_a", "dups_b")
      .orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")
  }

  private val cdcChunksSql = {
    val mins = Dedup.perms.map { case (a, b) =>
      s"list_min(list_transform(sids, x -> ($a * x + $b) % ${Dedup.MersennePrime}))"
    }.mkString("[", ",\n      ", "]")
    val bandRows = (0 until Dedup.NBands).map { j =>
      val parts = (1 to Dedup.RowsPerBand)
        .map(r => s"CAST(msig[${j * Dedup.RowsPerBand + r}] AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, chunk_no, $j AS band, $parts AS sig FROM m"
    }.mkString("\n  UNION ALL ")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |       FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3),
      |cutp AS (SELECT doc_id, toks, list_prepend(CAST(1 AS BIGINT),
      |          list_filter(range(3, len(toks)+1), i ->
      |            ((('0x' || substr(md5(toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i]), 1, 8))::BIGINT)
      |             % ${Dedup.MersennePrime}) % $CdcD = 0)) AS starts FROM t),
      |ch0 AS (SELECT doc_id, unnest(range(1, len(starts)+1)) AS k, toks, starts FROM cutp),
      |chunks AS (SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_no,
      |        toks[starts[k] : coalesce(starts[k+1], len(toks)+1) - 1] AS ptoks FROM ch0),
      |cf AS (SELECT doc_id, chunk_no, array_to_string(ptoks, ' ') AS g,
      |        list_distinct(list_transform(range(1, len(ptoks)-1),
      |          i -> ptoks[i] || ' ' || ptoks[i+1] || ' ' || ptoks[i+2])) AS sh
      |       FROM chunks WHERE len(ptoks) >= $MinChunkToks),
      |cls AS (SELECT *, row_number() OVER (PARTITION BY md5(g) ORDER BY doc_id, chunk_no) AS rn,
      |        count(*) OVER (PARTITION BY md5(g)) AS members FROM cf),
      |canon AS MATERIALIZED (SELECT doc_id, chunk_no, sh, CAST(members AS BIGINT) AS members,
      |        list_distinct(list_transform(sh, g -> ${Dedup.sid32Duck})) AS sids
      |       FROM cls WHERE rn = 1),
      |m AS MATERIALIZED (SELECT doc_id, chunk_no, sh, members,
      |      $mins AS msig
      |      FROM canon),
      |bands AS (
      |  $bandRows),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.chunk_no AS chunk_a,
      |           y.doc_id AS doc_b, y.chunk_no AS chunk_b
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
      |   AND (x.doc_id < y.doc_id OR (x.doc_id = y.doc_id AND x.chunk_no < y.chunk_no)))
      |SELECT doc_a, chunk_a, doc_b, chunk_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
      |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni,
      |  a.members AS dups_a, b.members AS dups_b
      |FROM cand c JOIN m a ON c.doc_a = a.doc_id AND c.chunk_a = a.chunk_no
      |JOIN m b ON c.doc_b = b.doc_id AND c.chunk_b = b.chunk_no
      |WHERE len(list_intersect(a.sh, b.sh)) * 2 >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
      |ORDER BY doc_a, chunk_a, doc_b, chunk_b""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("dedup_cdc_chunks", cdcChunks, Some(cdcChunksSql)))
}
