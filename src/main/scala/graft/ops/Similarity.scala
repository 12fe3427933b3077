package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embeddings table (SURVEY.md §2
  * "Similarity search"): brute-force cosine top-k as the exact
  * baseline, plus two sub-linear scale paths — random-hyperplane LSH
  * bucketing and IVF-style coarse quantization. All three ops are
  * deterministic (hash-derived planes, fixed centroid seeds) AND
  * SQL-expressible, so each registers a full DuckDB hash-check oracle
  * — none fall back to rows-only checks.
  */
object Similarity {

  private val K = 5
  private val NQueries = 20 // query set: vec_id < 20

  private def emb(s: SparkSession, dir: String): DataFrame =
    Dedup.withNorm(Tables.load(s, dir, "embeddings")).select("vec_id", "v", "nrm")

  private def cosine(dot: Column, na: Column, nb: Column): Column =
    round(dot / sqrt(na * nb), 4)

  private val dotExpr = "graft_array_dot(qv, cv)"

  // ---------------------------------------------------------------
  // sim_knn_brute — exact top-k: tiny query side broadcast against
  // the corpus; rank by (rounded sim DESC, id) for determinism.
  // ---------------------------------------------------------------
  private def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  private val knnBruteSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        round(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 4) AS sim
      |      FROM n q JOIN n c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |      FROM p)
      |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // sim_knn_lsh — random-hyperplane LSH: 8 deterministic ±1 planes →
  // 8-bit bucket; queries search only their bucket. Sub-linear at
  // scale (bucket equality join); the deterministic planes mean the
  // oracle replicates the bucketing exactly, so this carries a full
  // SQL hash check like every other op.
  // ---------------------------------------------------------------
  private val NPlanes = 8
  private val Dim = 64

  /** Deterministic ±1 hyperplanes (LCG over (plane, dim)) — shared
    * with the banded embedding-dedup path in [[Dedup]], which takes a
    * longer prefix of the same family.
    */
  private[ops] def planesFor(n: Int): Seq[Seq[Int]] = (0 until n).map { p =>
    (0 until Dim).map { d =>
      val x = (1103515245L * (p * Dim + d + 1) + 12345L) % 2147483647L
      if ((x & 1L) == 0L) 1 else -1
    }
  }

  private[ops] val planes: Seq[Seq[Int]] = planesFor(NPlanes)

  /** SQL for `v`'s signed sum against a ±1 hyperplane, on the native
    * kernel. Bit-identical to the interpreted
    * `aggregate(zip_with(v, plane, (x, p) -> x * CAST(p AS DOUBLE)), 0D, (s, x) -> s + x)`:
    * multiplying by ±1.0 is exact, and the fold order and null padding
    * are the same (GraftFunctionsSpec).
    */
  private[ops] def planeDot(plane: Seq[Int]): String =
    plane.map(p => s"${p}D").mkString("graft_array_dot(v, array(", ", ", "))")

  private def withBucket(df: DataFrame): DataFrame = {
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      s"CASE WHEN ${planeDot(plane)} > 0 THEN ${1 << i} ELSE 0 END"
    }
    df.withColumn("bucket", expr(bits.mkString("", " + ", "")))
  }

  private def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = withBucket(emb(s, dir))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "sim", "bucket")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------
  // sim_knn_multiprobe — multi-probe LSH: each query searches its own
  // bucket PLUS every 1-bit-flip neighbor bucket (9 of 256 buckets
  // probed). Near misses in hyperplane LSH concentrate in buckets at
  // Hamming distance 1 (one borderline plane), so multi-probe buys
  // most of the recall of many hash tables for one table's memory —
  // the standard production dial (Lv et al., VLDB'07). Corpus side is
  // still bucket-partitioned; only the tiny query side fans out 9×.
  // ---------------------------------------------------------------
  private def knnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = withBucket(emb(s, dir))
    val probeExprs = col("bucket") +: (0 until NPlanes).map(i =>
      expr(s"CAST(bucket ^ ${1 << i} AS INT)"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array(probeExprs: _*)).as("bucket"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"),
      col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  private val knnMultiprobeSql = {
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    val masks = (0 +: (0 until NPlanes).map(1 << _)).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |b AS (SELECT vec_id, v, nrm,
      |      $bucketExpr AS bucket
      |      FROM n),
      |q AS (SELECT vec_id, v, nrm, CAST(xor(bucket, m) AS INT) AS bucket
      |      FROM b, (SELECT unnest($masks) AS m) masks
      |      WHERE vec_id < $NQueries),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        round(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 4) AS sim
      |      FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |      FROM p)
      |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // sim_ivf — IVF coarse quantization with ONE deterministic Lloyd
  // refinement: seed centroids (every 25th vector) → assign all
  // vectors → recompute each cell's centroid as the exact
  // integer-ppm component mean (the same quantization
  // emb_label_centroid hash-gates, so both engines reproduce the
  // refined centroids bit-for-bit) → final assignment against the
  // refined centroids; queries probe the nprobe=2 nearest lists.
  // Fixed-stride seeds land poorly on clustered corpora (adjacent
  // seeds inside one cluster split it; other clusters share a cell);
  // the Lloyd step moves centroids to the actual cluster means. At
  // scale the centroid table stays k×64 doubles — broadcast both in
  // the assign join and here. The stride is ceil(√N) (one metadata
  // count action, replicated by the oracle as a scalar subquery):
  // k = √N centroids is the classic IVF balance — a FIXED stride
  // would grow k linearly with N and make the N×k assignment
  // quadratic (the 10× scaling bench measured exactly that before
  // this changed: 12.5× op growth at 10× data).
  // ---------------------------------------------------------------
  private val NProbe = 2

  private def ivfStride(e: DataFrame): Long =
    math.ceil(math.sqrt(e.count().toDouble)).toLong

  /** Assign each row of `df` to its `probes` nearest centroids
    * (rounded cosine, cid tiebreak). `cent` must be broadcastable:
    * (cid, centv, centn). With `keepRank` the 1-based cell rank
    * survives as `crank` — rank 1 is the PRIMARY (index-side) cell
    * the asymmetric pair stages key on.
    */
  private[graft] def assignTo(df: DataFrame, cent: DataFrame, idCol: String,
      probes: Int, keepRank: Boolean = false): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col("csim").desc, col("cid"))
    val out = df.join(broadcast(cent), lit(true))
      .withColumn("csim", cosine(
        expr("graft_array_dot(v, centv)"), col("nrm"), col("centn")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= probes)
      .withColumnRenamed("cid", "cell")
      .drop("centv", "centn", "csim")
    if (keepRank) out else out.drop("crank")
  }

  /** One Lloyd iteration's cell means over an assignment `a0`
    * (vec_id, cell), in exact BIGINT ppm sums (deterministic and
    * engine-portable — no FP summation-order hazard in the means).
    * Shared by the flat [[refinedCentroids]] and the two-level
    * staged-grid refinement (Dedup.ivfCellAssignments).
    */
  private[graft] def lloydMeans(e: DataFrame, a0: DataFrame): DataFrame = {
    val px = e.join(a0, "vec_id")
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("cell"), col("dim"), expr(PpmExpr).as("v_ppm"))
    px.groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"), sum(col("v_ppm")).as("s_ppm"))
      .withColumn("comp", col("s_ppm").cast("double") / 1000000.0 / col("n"))
      .groupBy("cell")
      .agg(collect_list(struct(col("dim"), col("comp"))).as("cc"))
      .select(col("cell").as("cid"),
        expr("transform(array_sort(cc), s -> s.comp)").as("centv"))
      .withColumn("centn", expr("graft_array_dot(centv, centv)"))
  }

  /** Coarse routing seeds for a grid whose fine seeds sit on
    * `stride`: every (stride·cstride)-th vector RAW, cstride =
    * ceil(√k0) over the k0 fine seeds (one seed-table-sized count
    * action — corpus metadata, replicated by every oracle as a
    * scalar subquery). The coarse layer only routes; Lloyd refines
    * the fine layer. Shared by sim_ivf, sim_index_merge and the
    * staged grid (Dedup.ivfCellAssignments) so all two-level
    * assignments derive their routing the same way.
    */
  private[graft] def coarseSeeds(e: DataFrame, stride: Long): DataFrame =
    coarseSeedsFromCount(e, stride, e.filter(col("vec_id") % stride === 0).count())

  /** Run independent driver thunks (each typically an eager
    * localCheckpoint = one Spark job) CONCURRENTLY and return their
    * results in order (guide §2.6 — actions are only sequential
    * because the driver calls them sequentially; concurrent jobs
    * back-fill the executor slots a single tiny-data job leaves
    * idle). Job descriptions are thread-local, so each branch labels
    * correctly; a failed thunk rethrows from Await.
    */
  private[ops] def inParallel[A](thunks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fs = thunks.map(t => scala.concurrent.Future(t()))
      fs.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** [[coarseSeeds]] with the fine-seed count supplied by the caller —
    * lets an op that builds SEVERAL grids fold the per-grid seed-count
    * actions into one aggregate job (sim_index_drift runs K+1 grids;
    * at bench scale the sequential count jobs, not the data, were the
    * critical path — guide §1.2 distributed-algorithm-first, §2.6
    * don't leave the cluster idle between tiny jobs).
    */
  private[graft] def coarseSeedsFromCount(e: DataFrame, stride: Long, k0: Long): DataFrame = {
    val cstride = math.max(1L, math.ceil(math.sqrt(k0.toDouble)).toLong)
    e.filter(col("vec_id") % (stride * cstride) === 0)
      .select(col("vec_id").as("ccid"), col("v").as("cv0"), col("nrm").as("cn0"))
  }

  /** Refined centroids: one Lloyd iteration over the seed
    * assignment. The seed pass routes TWO-LEVEL through `coarse`
    * ([[coarseSeeds]]) — it costs the same dot count as the final
    * assignment, so a flat pass here would keep every consumer
    * quadratic (the r12 sf10 lesson; SCALING_r12.md §1).
    */
  private[graft] def refinedCentroids(e: DataFrame, stride: Long, coarse: DataFrame,
      routingOpt: Option[DataFrame] = None): DataFrame = {
    val cent0 = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cid"), col("v").as("centv"), col("nrm").as("centn"))
    val a0 = assignTwoLevel(e, cent0, coarse, "vec_id", Dedup.IvfCoarseProbe, 1,
        routingOpt = routingOpt)
      .select(col("vec_id"), col("cell"))
    lloydMeans(e, a0)
  }

  /** TWO-LEVEL assignment (sim_ivf_twolevel's topology as a reusable
    * kernel, r12): route each row of `df` (idCol, v, nrm) to its
    * `coarseProbes` nearest COARSE cells (k' dots), then rank only
    * those cells' fine centroids (`cent`, pre-routed via its own
    * top-1 coarse assignment) — never all k. This is what keeps the
    * staged grid's assignment linear: the cell-size cap makes k grow
    * ~N/96, so the flat N·k ranking is quadratic (measured 236 s at
    * the 100× corpus vs 2.7 s at 10× before this kernel — the r12
    * sf10 probe); two-level is N·(k' + coarseProbes·k/k') ≈ N^1.25.
    *
    * Exchange discipline: both ranking windows see only SKINNY
    * (id, cid, sim) rows — vectors re-attach by an id-keyed join for
    * the fine scoring, so no exchange ever carries a 64-float array
    * beside a candidate fan-out (the same rule R10PlanShapeSpec
    * enforces for the pair stages). Ties break by rounded sim DESC,
    * cid ASC — identical to [[assignTo]] and the DuckDB replica.
    *
    * Coverage (r13): vectors route only over LIVE coarse cells —
    * cells holding at least one fine centroid under the top-1 f2c
    * map. Without the restriction a vector whose every probed coarse
    * cell was empty silently vanished from the assignment (and hence
    * from Lloyd means, dedup candidates and the kNN graph — the r12
    * ADVICE drop case); ranking only live cells makes ≥ 1 fine
    * candidate per vector structural. TwoLevelAssignProps pins
    * assigned-id count == input-id count.
    */
  /** The vector → coarse FULL routing ranking (idCol, ccid, cr0 over
    * ALL coarse cells) — pass-independent: it depends only on (df,
    * coarse), never on the fine centroids, so one localCheckpoint'd
    * routing serves every assignment pass over the same corpus (the
    * Lloyd seed pass, the corpus pass, the query pass — r13: the
    * three passes each recomputed this identical N·k' window, the
    * dominant fixed cost of the two-level conversion at small N).
    * assignTwoLevel filters it to the pass's LIVE cells and re-ranks
    * — provably identical to ranking the live subset directly
    * (filtering preserves relative order).
    */
  private[graft] def coarseRouting(df: DataFrame, coarse: DataFrame,
      idCol: String): DataFrame = {
    val wc = Window.partitionBy(idCol).orderBy(col("csim0").desc, col("ccid"))
    df.join(broadcast(coarse), lit(true))
      .withColumn("csim0", cosine(expr("graft_array_dot(v, cv0)"), col("nrm"), col("cn0")))
      .select(col(idCol), col("ccid"), col("csim0"))
      .withColumn("cr0", row_number().over(wc))
      .select(col(idCol), col("ccid"), col("cr0"))
  }

  private[graft] def assignTwoLevel(df: DataFrame, cent: DataFrame, coarse: DataFrame,
      idCol: String, coarseProbes: Int, probes: Int, keepRank: Boolean = false,
      routingOpt: Option[DataFrame] = None): DataFrame = {
    // fine centroid → its ONE coarse routing cell (k × k' dots)
    val wfc = Window.partitionBy("cid").orderBy(col("fcsim").desc, col("ccid"))
    val f2c = cent.join(broadcast(coarse), lit(true))
      .withColumn("fcsim", cosine(
        expr("graft_array_dot(centv, cv0)"), col("centn"), col("cn0")))
      .withColumn("fcr", row_number().over(wfc))
      .filter(col("fcr") === 1)
      .select(col("cid"), col("centv"), col("centn"), col("ccid").as("ccell"))
    // live coarse cells only (coarse is seed-table-sized: the
    // restriction is a broadcast semi-join, never a shuffle)
    val liveCells = f2c.select(col("ccell").as("ccid")).distinct()
    // vector → top coarseProbes LIVE coarse cells: filter the full
    // routing to this pass's live cells and re-rank (≡ ranking the
    // live subset directly). A SHARED routing covers the whole corpus;
    // when this pass's df is a filter of it (the query passes), restrict
    // to df's ids BEFORE the rr window so the window ranks |df|
    // partitions, not N — the id semi-join hash-partitions on idCol,
    // which the window reuses, so the restriction costs no extra
    // exchange on the routing side. Ranking is per-id, so dropping
    // other ids' rows cannot change any surviving row (r13 ADVICE).
    val wr = Window.partitionBy(idCol).orderBy(col("cr0"))
    val base = routingOpt match {
      case Some(r) => r.join(df.select(col(idCol)), Seq(idCol), "left_semi")
      case None    => coarseRouting(df, coarse, idCol)
    }
    val routed = base
      .join(broadcast(liveCells), Seq("ccid"), "left_semi")
      .withColumn("rr", row_number().over(wr))
      .filter(col("rr") <= coarseProbes)
      .select(col(idCol), col("ccid").as("ccell"))
    // rank the routed cells' fine centroids; disjoint fine sets per
    // coarse cell (fcr = 1) mean no candidate ever appears twice
    val wf = Window.partitionBy(idCol).orderBy(col("csim").desc, col("cid"))
    val out = routed.join(df, Seq(idCol))
      .join(broadcast(f2c), "ccell")
      .withColumn("csim", cosine(expr("graft_array_dot(v, centv)"), col("nrm"), col("centn")))
      .select(col(idCol), col("cid"), col("csim"))
      .withColumn("crank", row_number().over(wf))
      .filter(col("crank") <= probes)
      .select(col(idCol), col("cid").as("cell"), col("crank"))
    if (keepRank) out else out.drop("crank")
  }

  private def knnIvf(s: SparkSession, dir: String): DataFrame = {
    // e feeds the routing, the Lloyd pass, both assignments and both
    // vector re-attach joins — checkpoint once (IndexMerge's rule)
    val e = emb(s, dir).localCheckpoint()
    val stride = ivfStride(e)
    val coarse = coarseSeeds(e, stride)
    // ONE coarse routing serves the seed, corpus and query passes
    // (it depends only on (e, coarse) — see coarseRouting). Lazy: it
    // materializes inside the eager `assigned` checkpoint below with
    // compute-once block caching, instead of as its own sequential
    // driver job (the indexDrift critical-path move, r16)
    val routing = Some(coarseRouting(e, coarse, "vec_id").localCheckpoint(false))
    val cent = refinedCentroids(e, stride, coarse, routingOpt = routing)
    // corpus + query assignment both route two-level (r13): k = √N
    // fine cells made the flat ranking N^1.5 — milder than the
    // staged grid's N²/96 but the same road (SCALING_r12.md §1).
    // Assignment emits skinny (vec_id, cell); vectors re-attach by
    // an id-keyed join, per the exchange discipline.
    // ONE keepRank assignment serves the corpus pass (crank = 1) AND
    // the query pass (crank <= NProbe, vec_id < NQueries) — r16: the
    // two passes each rebuilt the assignment chain INCLUDING the
    // Lloyd refinement subtree (cent appears inside each pass's f2c),
    // so the refinement ran twice per op run (guide §2.4). The top-1
    // row of the probes=NProbe ranking IS the probes=1 assignment,
    // and restricting to query ids after ranking equals assigning the
    // query subset directly (per-id windows — see coarseRouting).
    val assigned = assignTwoLevel(e, cent, coarse, "vec_id",
        Dedup.IvfCoarseProbe, NProbe, keepRank = true, routingOpt = routing)
      .join(e, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("crank"), col("v"), col("nrm"))
      .localCheckpoint()
    val corpus = assigned.filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"), col("cell"))
    val queries = assigned.filter(col("crank") <= NProbe && col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(queries).join(corpus, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "sim", "cell")
      .orderBy("query_id", "rank")
  }

  // Oracle replicas of the deterministic ANN paths: the hyperplane
  // literals and centroid seeds are generated from the same Scala
  // constants, so DuckDB reproduces buckets/cells exactly. (Sign /
  // rank boundaries sit ~1e-13 from any FP divergence — rounded
  // ranking keys make that immaterial.)
  private def planeLit(p: Seq[Int]): String = p.map(v => s"$v.0").mkString("[", ", ", "]")

  private val knnLshSql = {
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |b AS (SELECT vec_id, v, nrm,
      |      $bucketExpr AS bucket
      |      FROM n),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
      |        round(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 4) AS sim
      |      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |      FROM p)
      |SELECT query_id, rank, neighbor_id, sim, bucket FROM r WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin
  }

  // Two-level replica (r13): the same coarse-routing CTE chain as
  // Dedup.ivfCellsDuck (f2c0/rt0 seed pass, f2c/rt final pass, both
  // restricted to LIVE coarse cells), with sim_ivf's own stride
  // formula (ceil(√N), uncapped) and probe widths (corpus cr = 1,
  // queries cr ≤ NProbe).
  private val knnIvfSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |st AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS stride FROM n),
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
      |  WHERE cr0 <= ${Dedup.IvfCoarseProbe}),
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
      |  WHERE cr0 <= ${Dedup.IvfCoarseProbe}),
      |ar AS MATERIALIZED (
      |  SELECT x.vec_id, f.cid,
      |    row_number() OVER (PARTITION BY x.vec_id
      |      ORDER BY round(list_dot_product(x.v, f.centv) / sqrt(x.nrm * f.centn), 4) DESC, f.cid) AS cr
      |  FROM rt r JOIN n x ON r.vec_id = x.vec_id
      |  JOIN f2c f ON r.ccell = f.ccell),
      |corpus AS (
      |  SELECT a.vec_id AS neighbor_id, x.v, x.nrm, a.cid AS cell
      |  FROM ar a JOIN n x ON a.vec_id = x.vec_id WHERE a.cr = 1),
      |qs AS (
      |  SELECT a.vec_id AS query_id, x.v, x.nrm, a.cid AS cell
      |  FROM ar a JOIN n x ON a.vec_id = x.vec_id
      |  WHERE a.cr <= $NProbe AND a.vec_id < $NQueries),
      |p AS (SELECT q.query_id, t.neighbor_id, q.cell,
      |        round(list_dot_product(q.v, t.v) / sqrt(q.nrm * t.nrm), 4) AS sim
      |      FROM qs q JOIN corpus t ON q.cell = t.cell AND q.query_id <> t.neighbor_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |      FROM p)
      |SELECT query_id, rank, neighbor_id, sim, cell FROM r WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // sim_ivf_twolevel — IVF with a coarse quantizer over the centroid
  // table (the two-level assignment every billion-scale ANN system
  // ships): k ≈ √N fine centroids as usual, but vectors no longer
  // rank ALL k fine centroids. A second stride picks k' ≈ √k ≈ N^¼
  // COARSE centroids from the fine set; each fine centroid belongs
  // to its nearest coarse cell, and a vector first finds its coarse
  // cell (k' dots) then assigns among just that cell's ~k/k' fine
  // centroids. Assignment cost drops from N·k = N^1.5 dots (sim_ivf
  // — fine at 10⁶ vectors, dominant at 10⁸+) to N·(k' + c·k/k') ≈
  // N^1.25: at N = 10⁸, 10⁴ dots/vector becomes ~200. Queries probe
  // 2 coarse cells × 2 fine cells for recall at the boundary. Both
  // centroid tables stay broadcastable (k ≤ 10⁵ at N = 10¹⁰). Seeds
  // are raw strides here — the op isolates the assignment topology;
  // Lloyd refinement composes exactly as in sim_ivf.
  // ---------------------------------------------------------------
  private val CoarseProbe = 2

  private def knnIvfTwoLevel(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val stride = ivfStride(e)
    val fine = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("fid"), col("v").as("fv"), col("nrm").as("fn"))
    val cstride = math.ceil(math.sqrt(fine.count().toDouble)).toLong
    val coarse = e.filter(col("vec_id") % (stride * cstride) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv0"), col("nrm").as("cn0"))

    // fine centroid → its coarse cell (k × k' dots — trivial)
    val wf = Window.partitionBy("fid").orderBy(col("fcsim").desc, col("cid"))
    val f2c = fine.join(broadcast(coarse), lit(true))
      .withColumn("fcsim", cosine(expr("graft_array_dot(fv, cv0)"), col("fn"), col("cn0")))
      .withColumn("fcr", row_number().over(wf))
      .filter(col("fcr") === 1)
      .select(col("fid"), col("fv"), col("fn"), col("cid").as("ccell"))

    // vector → coarse cell(s) → fine cell(s) within them; routing
    // ranks only LIVE coarse cells (the assignTwoLevel r13 coverage
    // contract — here coarse ⊆ fine so a dead cell needs a rounding
    // tie, but the kernel rule is uniform: a dead cell never eats a
    // probe slot)
    val live = coarse.join(
      f2c.select(col("ccell").as("cid")).distinct(), Seq("cid"), "left_semi")
    def assign(df: DataFrame, idCol: String, coarseProbes: Int, fineProbes: Int): DataFrame = {
      val wc = Window.partitionBy(idCol).orderBy(col("csim").desc, col("cid"))
      val toCoarse = df.join(broadcast(live), lit(true))
        .withColumn("csim", cosine(expr("graft_array_dot(v, cv0)"), col("nrm"), col("cn0")))
        .withColumn("cr", row_number().over(wc))
        .filter(col("cr") <= coarseProbes)
        .select(col(idCol), col("v"), col("nrm"), col("cid").as("ccell"))
      val wff = Window.partitionBy(idCol).orderBy(col("fsim").desc, col("fid"))
      toCoarse.join(broadcast(f2c), "ccell")
        .withColumn("fsim", cosine(expr("graft_array_dot(v, fv)"), col("nrm"), col("fn")))
        .withColumn("fr", row_number().over(wff))
        .filter(col("fr") <= fineProbes)
        .select(col(idCol), col("v"), col("nrm"), col("fid").as("cell"))
    }

    val corpus = assign(e, "vec_id", 1, 1)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"), col("cell"))
    val queries = assign(e.filter(col("vec_id") < NQueries), "vec_id", CoarseProbe, NProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(queries).join(corpus, Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "sim", "cell")
      .orderBy("query_id", "rank")
  }

  private val knnIvfTwoLevelSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |st AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS stride FROM n),
      |fine AS (SELECT vec_id AS fid, v AS fv, nrm AS fn FROM n
      |         WHERE vec_id % (SELECT stride FROM st) = 0),
      |cst AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS cstride FROM fine),
      |coarse AS (SELECT vec_id AS cid, v AS cv0, nrm AS cn0 FROM n
      |           WHERE vec_id % ((SELECT stride FROM st) * (SELECT cstride FROM cst)) = 0),
      |f2c AS (
      |  SELECT fid, fv, fn, cid AS ccell FROM (
      |    SELECT f.fid, f.fv, f.fn, c.cid,
      |      row_number() OVER (PARTITION BY f.fid
      |        ORDER BY round(list_dot_product(f.fv, c.cv0) / sqrt(f.fn * c.cn0), 4) DESC, c.cid) AS fcr
      |    FROM fine f CROSS JOIN coarse c) a
      |  WHERE fcr = 1),
      |corpus AS (
      |  SELECT vec_id AS neighbor_id, v, nrm, fid AS cell FROM (
      |    SELECT tc.vec_id, tc.v, tc.nrm, g.fid,
      |      row_number() OVER (PARTITION BY tc.vec_id
      |        ORDER BY round(list_dot_product(tc.v, g.fv) / sqrt(tc.nrm * g.fn), 4) DESC, g.fid) AS fr
      |    FROM (
      |      SELECT vec_id, v, nrm, cid AS ccell FROM (
      |        SELECT x.vec_id, x.v, x.nrm, c.cid,
      |          row_number() OVER (PARTITION BY x.vec_id
      |            ORDER BY round(list_dot_product(x.v, c.cv0) / sqrt(x.nrm * c.cn0), 4) DESC, c.cid) AS cr
      |        FROM n x CROSS JOIN coarse c
      |        WHERE c.cid IN (SELECT DISTINCT ccell FROM f2c)) a
      |      WHERE cr = 1) tc
      |    JOIN f2c g ON tc.ccell = g.ccell) b
      |  WHERE fr = 1),
      |qs AS (
      |  SELECT vec_id AS query_id, v, nrm, fid AS cell FROM (
      |    SELECT tc.vec_id, tc.v, tc.nrm, g.fid,
      |      row_number() OVER (PARTITION BY tc.vec_id
      |        ORDER BY round(list_dot_product(tc.v, g.fv) / sqrt(tc.nrm * g.fn), 4) DESC, g.fid) AS fr
      |    FROM (
      |      SELECT vec_id, v, nrm, cid AS ccell FROM (
      |        SELECT x.vec_id, x.v, x.nrm, c.cid,
      |          row_number() OVER (PARTITION BY x.vec_id
      |            ORDER BY round(list_dot_product(x.v, c.cv0) / sqrt(x.nrm * c.cn0), 4) DESC, c.cid) AS cr
      |        FROM n x CROSS JOIN coarse c WHERE x.vec_id < $NQueries
      |          AND c.cid IN (SELECT DISTINCT ccell FROM f2c)) a
      |      WHERE cr <= $CoarseProbe) tc
      |    JOIN f2c g ON tc.ccell = g.ccell) b
      |  WHERE fr <= $NProbe),
      |p AS (SELECT q.query_id, t.neighbor_id, q.cell,
      |        round(list_dot_product(q.v, t.v) / sqrt(q.nrm * t.nrm), 4) AS sim
      |      FROM qs q JOIN corpus t ON q.cell = t.cell AND q.query_id <> t.neighbor_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |      FROM p)
      |SELECT query_id, rank, neighbor_id, sim, cell FROM r WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // sim_range_search — radius query: ALL neighbors with cosine ≥ τ
  // for each query (the other half of the ANN API surface next to
  // top-k). Same broadcast-query shape as sim_knn_brute; at scale the
  // corpus side would first prune by LSH bucket / IVF cell exactly as
  // in the top-k paths.
  // ---------------------------------------------------------------
  private val RangeTau = 0.3

  private def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .filter(col("sim") >= RangeTau)
      .select("query_id", "neighbor_id", "sim")
      .orderBy("query_id", "neighbor_id")
  }

  private val rangeSearchSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        round(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 4) AS sim
      |      FROM n q JOIN n c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id)
      |SELECT query_id, neighbor_id, sim FROM p WHERE sim >= $RangeTau
      |ORDER BY query_id, neighbor_id""".stripMargin

  // ---------------------------------------------------------------
  // sim_range_search_lsh — bucketed radius query: banded
  // random-hyperplane LSH candidates (8 bands × 2 planes, OR of
  // ANDs — the same shared plane family and banding the embedding
  // dedup path uses) then exact cosine ≥ τ verify. This is the
  // 100 TB shape of sim_range_search: the corpus is only touched
  // through a (band, signature) equality join, never a full scan per
  // query batch. A wide radius (τ = 0.3 ⇒ ~72° apart) makes 1-bit
  // multi-probe too shallow — measured 0.28 recall vs 0.93+ for
  // banding at the same verify cost — so the range op takes the
  // banded dial, and candidate pairs are distinct-ed as skinny id
  // pairs BEFORE the vector rejoin (the A/B-measured order from
  // dedup_embedding).
  // ---------------------------------------------------------------
  private val RangeBands = 8
  private val RangePlanesPerBand = 2

  private def rangeSearchLsh(s: SparkSession, dir: String): DataFrame = {
    val fam = planesFor(RangeBands * RangePlanesPerBand)
    val e = emb(s, dir)
    val bandVals = (0 until RangeBands).map { j =>
      val bits = (0 until RangePlanesPerBand).map { r =>
        s"(CASE WHEN ${planeDot(fam(j * RangePlanesPerBand + r))} > 0 THEN ${1 << r} ELSE 0 END)"
      }
      expr(bits.mkString(" + "))
    }
    val bandsDf = e.select(col("vec_id"), posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
    val qb = bandsDf.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bv"))
    val cb = bandsDf.select(col("vec_id").as("neighbor_id"), col("band"), col("bv"))
    val cand = broadcast(qb).join(cb, Seq("band", "bv"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cv = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .withColumn("sim", cosine(expr(dotExpr), col("qn"), col("cn")))
      .filter(col("sim") >= RangeTau)
      .select("query_id", "neighbor_id", "sim")
      .orderBy("query_id", "neighbor_id")
  }

  private val rangeSearchLshSql = {
    val fam = planesFor(RangeBands * RangePlanesPerBand)
    val bandRows = (0 until RangeBands).map { j =>
      val bits = (0 until RangePlanesPerBand).map { r =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(fam(j * RangePlanesPerBand + r))}) > 0 THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $j AS band, $bits AS bv FROM n"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |b AS (
      |  $bandRows),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM b q JOIN b c ON q.band = c.band AND q.bv = c.bv
      |  WHERE q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
      |p AS (SELECT cand.query_id, cand.neighbor_id,
      |        round(list_dot_product(a.v, t.v) / sqrt(a.nrm * t.nrm), 4) AS sim
      |      FROM cand JOIN n a ON cand.query_id = a.vec_id
      |                JOIN n t ON cand.neighbor_id = t.vec_id)
      |SELECT query_id, neighbor_id, sim FROM p WHERE sim >= $RangeTau
      |ORDER BY query_id, neighbor_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // emb_label_centroid — per-label embedding centroid (corpus drift /
  // class-balance monitoring: a training pipeline tracks per-source
  // and per-label centroids across snapshots). Components quantize to
  // integer ppm via floor(x·10⁶) — floor of a double is deterministic
  // and midpoint-free on BOTH engines, so the BIGINT sums are exact
  // and the hash gate is stable (SURVEY §5: no raw double sums).
  // Plan shape: posexplode → (label, dim) groupBy — map-side partial
  // aggregation collapses each task to |labels|×64 rows before the
  // shuffle, like any distributive agg.
  // ---------------------------------------------------------------
  private val PpmExpr = "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"

  private def labelCentroid(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), expr(PpmExpr).as("v_ppm"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("v_ppm")).as("sum_ppm"))
      .withColumn("centroid", col("sum_ppm").cast("double") / 1000000.0 / col("n_vecs"))
      .select("label", "dim", "n_vecs", "sum_ppm", "centroid")
      .orderBy("label", "dim")

  private val labelCentroidSql =
    """WITH x AS (
      |  SELECT label, CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS v_ppm
      |  FROM (SELECT label, embedding, unnest(range(0, len(embedding))) AS i FROM embeddings) u)
      |SELECT label, dim, count(*) AS n_vecs, CAST(sum(v_ppm) AS BIGINT) AS sum_ppm,
      |  CAST(sum(v_ppm) AS DOUBLE) / 1000000 / count(*) AS centroid
      |FROM x
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  // ---------------------------------------------------------------
  // emb_dim_stats — per-DIMENSION corpus health audit (the embedding
  // monitoring pass a training pipeline runs per snapshot: collapsed
  // or dead dimensions mean an upstream encoder regression, drifting
  // per-dim means mean a distribution shift). Everything derives from
  // the same floor(x·10⁶) ppm quantization the other emb ops gate:
  // exact BIGINT sums, exact DECIMAL(38,0) sums of squares, and the
  // population variance in exact integer ppm² via
  // (n·Σx² − (Σx)²) DIV n² — no FP accumulation anywhere, so the
  // hash gate is order-stable. n_zero counts exact ppm-zero cells
  // (dead-dimension detector). Plan shape: posexplode → groupBy(dim)
  // — map-side partial agg collapses every task to |dims| rows
  // before the one tiny shuffle; nothing downstream touches the
  // corpus again.
  // ---------------------------------------------------------------
  private def dimStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), expr(PpmExpr).as("v_ppm"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("v_ppm")).as("sum_ppm"),
        sum((col("v_ppm").cast("decimal(19,0)") * col("v_ppm").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("sumsq"),
        min(col("v_ppm")).as("min_ppm"),
        max(col("v_ppm")).as("max_ppm"),
        sum(when(col("v_ppm") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim"), col("n_vecs"), col("sum_ppm"),
        (col("sum_ppm").cast("double") / 1000000.0 / col("n_vecs")).as("mean"),
        expr("CAST((CAST(n_vecs AS DECIMAL(19,0)) * sumsq - " +
          "CAST(sum_ppm AS DECIMAL(19,0)) * CAST(sum_ppm AS DECIMAL(19,0))) DIV " +
          "(CAST(n_vecs AS DECIMAL(19,0)) * CAST(n_vecs AS DECIMAL(19,0))) AS BIGINT)")
          .as("var_ppm2"),
        col("min_ppm"), col("max_ppm"), col("n_zero"))
      .orderBy("dim")

  private val dimStatsSql =
    """WITH x AS (
      |  SELECT CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS v_ppm
      |  FROM (SELECT embedding, unnest(range(0, len(embedding))) AS i FROM embeddings) u),
      |a AS (
      |  SELECT dim, count(*) AS n_vecs, sum(v_ppm) AS sum_ppm,
      |    sum(CAST(v_ppm AS HUGEINT) * v_ppm) AS sumsq,
      |    min(v_ppm) AS min_ppm, max(v_ppm) AS max_ppm,
      |    CAST(sum(CASE WHEN v_ppm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |  FROM x GROUP BY dim)
      |SELECT dim, n_vecs, CAST(sum_ppm AS BIGINT) AS sum_ppm,
      |  CAST(sum_ppm AS DOUBLE) / 1000000 / n_vecs AS mean,
      |  CAST((CAST(n_vecs AS HUGEINT) * sumsq - CAST(sum_ppm AS HUGEINT) * sum_ppm)
      |    // (CAST(n_vecs AS HUGEINT) * n_vecs) AS BIGINT) AS var_ppm2,
      |  min_ppm, max_ppm, n_zero
      |FROM a
      |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------
  // emb_power_iter — dominant eigenvector of the corpus Gram matrix
  // (Σ v·vᵀ) by POWER ITERATION: the principal drift direction an
  // embedding monitor tracks across snapshots (first PC of the
  // uncentered second moment). Two unrolled supersteps of
  // x ← normalize(Σ_v (v·x)·v), entirely in scaled integers:
  // per-vector dot in BIGINT (64 dims × ppm² ≤ 6.4e13), per-dim
  // accumulation in DECIMAL(38,0) (the dot·component product
  // overflows BIGINT by design — the decimal is the point), and
  // max-|component| normalization back to ±10⁶ by truncating DIV
  // (DuckDB `//` and Spark DIV both truncate toward zero, so signed
  // components stay engine-exact). A float power iteration would
  // hash-drift on summation order; this one cannot.
  // Plan shape per superstep: postings ⋈ broadcast(64-row x) → per-
  // vector agg (map-side combined) → skinny dot rejoin → per-dim agg
  // → 1-row max broadcast. Two corpus passes per superstep, zero
  // corpus-sized shuffles beyond the keyed aggs.
  // ---------------------------------------------------------------
  private def powerStep(post: DataFrame, x: DataFrame): DataFrame = {
    val dots = post.join(broadcast(x), "dim")
      .groupBy("vec_id").agg(sum(col("v_ppm") * col("x_ppm")).as("dot"))
    val raw = post.join(dots, "vec_id")
      .groupBy("dim")
      .agg(sum(col("dot").cast("decimal(38,0)") * col("v_ppm").cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("raw"))
    val m = raw.agg(max(abs(col("raw"))).cast("decimal(38,0)").as("m"))
    raw.crossJoin(broadcast(m))
      .select(col("dim"), expr("CAST((raw * 1000000) DIV m AS BIGINT)").as("x_ppm"))
  }

  private def powerIter(s: SparkSession, dir: String): DataFrame = {
    // the supersteps scan the postings 4× (dot + accumulate each) and
    // Catalyst does not dedupe common subplans — but A/B at sf0.1
    // says RE-SCANNING wins (1.14 s vs 1.36 s localCheckpoint'd):
    // posexplode over a columnar scan is cheaper than materializing
    // 64·N quantized rows; the same trade holds at scale, where the
    // exploded relation is 64× the stored table
    val post = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), expr(PpmExpr).as("v_ppm"))
    val x0 = post.select("dim").distinct().withColumn("x_ppm", lit(1000000L))
    powerStep(post, powerStep(post, x0)).orderBy("dim")
  }

  private val powerIterSql = {
    def step(i: Int): String =
      s"""d$i AS (SELECT p.vec_id, CAST(sum(p.v_ppm * x.x_ppm) AS BIGINT) AS dot
        |  FROM p JOIN x${i - 1} x USING (dim) GROUP BY 1),
        |r$i AS (SELECT p.dim, CAST(sum(CAST(d.dot AS HUGEINT) * p.v_ppm) AS HUGEINT) AS raw
        |  FROM p JOIN d$i d USING (vec_id) GROUP BY 1),
        |x$i AS (SELECT dim, CAST((raw * 1000000) // t.m AS BIGINT) AS x_ppm
        |  FROM r$i, (SELECT max(abs(raw)) AS m FROM r$i) t)""".stripMargin
    s"""WITH p AS (
      |  SELECT vec_id, CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS v_ppm
      |  FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i FROM embeddings) u),
      |x0 AS (SELECT DISTINCT dim, CAST(1000000 AS BIGINT) AS x_ppm FROM p),
      |${Seq(1, 2).map(step).mkString(",\n")}
      |SELECT dim, x_ppm FROM x2
      |ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------
  // emb_outliers — farthest-from-centroid vectors per label (the
  // mislabeled/noisy-sample gate of a training pipeline). Distance is
  // compared entirely in scaled integers: for each dim,
  // term = n·v_ppm − Σv_ppm (∝ n·(v − centroid)); dist = Σ term² in
  // DECIMAL(38,0) — exact on both engines, so the per-label ranking
  // is deterministic without any FP summation-order hazard. Scale
  // shape: the per-(label,dim) sums are a tiny broadcastable table;
  // the per-vector term join never shuffles the corpus twice.
  // ---------------------------------------------------------------
  private val OutliersPerLabel = 3

  private def outliers(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"), expr(PpmExpr).as("v_ppm"))
    val sums = x.groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("v_ppm")).as("s_ppm"))
    val dist = x.join(broadcast(sums), Seq("label", "dim"))
      .withColumn("term",
        (col("n").cast("decimal(19,0)") * col("v_ppm").cast("decimal(19,0)")
          - col("s_ppm").cast("decimal(19,0)")).cast("decimal(38,0)"))
      .groupBy("vec_id", "label")
      .agg(sum(col("term") * col("term")).cast("decimal(38,0)").as("dist2"))
    val w = Window.partitionBy("label").orderBy(col("dist2").desc, col("vec_id"))
    dist
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= OutliersPerLabel)
      .select(col("label"), col("rank"), col("vec_id"), col("dist2").cast("double").as("dist2"))
      .orderBy("label", "rank")
  }

  private val outliersSql =
    s"""WITH x AS (
      |  SELECT vec_id, label, CAST(i AS INT) AS dim,
      |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) AS v_ppm
      |  FROM (SELECT vec_id, label, embedding, unnest(range(0, len(embedding))) AS i FROM embeddings) u),
      |s AS (SELECT label, dim, count(*) AS n, sum(v_ppm) AS s_ppm FROM x GROUP BY label, dim),
      |d AS (
      |  SELECT x.vec_id, x.label,
      |    sum(CAST(CAST(s.n AS HUGEINT) * x.v_ppm - s.s_ppm AS HUGEINT)
      |      * CAST(CAST(s.n AS HUGEINT) * x.v_ppm - s.s_ppm AS HUGEINT)) AS dist2
      |  FROM x JOIN s ON x.label = s.label AND x.dim = s.dim
      |  GROUP BY x.vec_id, x.label),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS INT) AS rank
      |      FROM d)
      |SELECT label, rank, vec_id, CAST(dist2 AS DOUBLE) AS dist2
      |FROM r WHERE rank <= $OutliersPerLabel
      |ORDER BY label, rank""".stripMargin

  // ---------------------------------------------------------------
  // sim_knn_graph — the corpus-wide k-nearest-neighbor GRAPH (every
  // vector's top-3 neighbors), the building block of semantic dedup
  // (SemDeDup-style: cluster the graph, keep one doc per clique) and
  // of graph-based ANN indexes. Candidate edges come ONLY from the
  // shared √N Lloyd-refined IVF grid (asymmetric probe: nprobe=8
  // probe side × primary-cell index side) that dedup_embedding
  // searches — cells are capped at ~96 vectors, so each vector ranks
  // a BOUNDED candidate set (~8·cell) and total work stays linear in
  // N, never the N² all-pairs graph. Exact cosine on candidates,
  // rounded-sim ranking with neighbor-id tiebreak; vectors whose
  // probed cells hold fewer than k candidates emit fewer edges (an
  // approximation the oracle replicates cell-for-cell).
  // ---------------------------------------------------------------
  private val KnnGraphK = 3

  /** Unsorted kNN-graph edges (vec_id, rank, neighbor_id, sim) —
    * what the stage writes; the sort lives on the consumer side for
    * the same RangePartitioning-samples-its-child reason the
    * embedding pair stage splits (Dedup.embeddingPairsIvfUnsorted).
    */
  private[graft] def knnGraphUnsorted(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val assigned = Dedup.stagedCellAssignments(s, dir)
    // CELL-LOCAL scoring (r10): join the two assignment sides on the
    // CELL key with vectors already attached, so the only wide-row
    // shuffles are the 2·(probes·N) assignment rows — the previous
    // plan generated the pair list first and then shuffled a
    // pair-sized relation of full vectors TWICE (vec_a join, then
    // vec_b join with the 64-float array riding along), which at the
    // 30× corpus spilled: measured 205 s staging, 11.9× wall for 3×
    // data. Duplicate pairs (two vectors sharing several probed
    // cells) are deduped AFTER scoring by a skinny (a, b, sim)
    // aggregate — sim is identical across duplicates by construction,
    // so max() is a value-preserving dedupe and the gated output is
    // bit-identical to the pair-first plan.
    val aw = assigned.join(e, "vec_id")
    // ASYMMETRIC probe (r11, same shape as Dedup's pair stage): the
    // probe side keeps all nprobe=8 cells, the index side only the
    // PRIMARY (crank = 1) — candidate edges are vectors whose primary
    // cell one endpoint probes, the classical IVF search (top-3
    // recall 0.987 vs the r10 symmetric plan's 0.973 at the same dot
    // count). Cosine is symmetric: each surviving UNORDERED pair
    // scores once (both orderings collapse via least/greatest before
    // the skinny aggregate), then mirrors.
    val x = aw.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val y = aw.filter(col("crank") === 1).select(col("cell"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    val pairSim = x.join(y, Seq("cell"))
      .filter(col("vec_a") =!= col("vec_b"))
      .withColumn("sim", cosine(expr("graft_array_dot(va, vb)"), col("na"), col("nb")))
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("sim"))
      .groupBy("vec_a", "vec_b").agg(max(col("sim")).as("sim"))
    val mirrored = pairSim.unionAll(
      pairSim.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b"), col("sim")))
    val w = Window.partitionBy("vec_a").orderBy(col("sim").desc, col("vec_b"))
    mirrored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnGraphK)
      .select(col("vec_a").as("vec_id"), col("rank"),
        col("vec_b").as("neighbor_id"), col("sim"))
  }

  /** Snapshot-staged kNN graph — the fifth staged corpus artifact:
    * sim_knn_graph emits it and graph_triangles consumes it, and at
    * 100 TB nobody builds the corpus-wide neighbor graph twice per
    * snapshot (in production it is a maintained index, like the
    * MinHash band index). Staged in the [[Staging]] memo, keyed on the
    * embeddings table snapshot; probes the staged IVF cells.
    */
  private[graft] val KnnGraph =
    new Staging.Parquet("knn_graph", "embeddings")(knnGraphUnsorted)

  private[ops] def knnGraphStaged(s: SparkSession, dir: String): DataFrame =
    KnnGraph(s, dir)

  private def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphStaged(s, dir).orderBy("vec_id", "rank")

  /** Shared oracle fragment: the complete kNN-graph edge relation
    * (CTE `g`: vec_id, rank, neighbor_id, sim) — used by both
    * sim_knn_graph and graph_triangles so the triangle audit provably
    * runs over the exact gated graph.
    *
    * `g` (like `n`/`ar` in ivfCellsDuck) is MATERIALIZED (r13):
    * DuckDB inlines CTEs per reference, so a consumer touching `g`
    * three times re-derived the whole grid chain three times — under
    * a bounded oracle connection the graph-family oracles either
    * OOM'd (the r12 graph_bfs red row: its old l0..lK cascade failed
    * even at an 8 GB limit) or spill-crawled. Materializing the
    * shared fragments once bounds every consumer; results are
    * byte-identical, it is purely physical.
    */
  private[ops] val knnEdgesDuck =
    s"""${Dedup.ivfCellsDuck},
      |cand AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS vec_a,
      |           greatest(x.vec_id, y.vec_id) AS vec_b
      |         FROM a2 x JOIN a1 y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
      |m AS (SELECT vec_a, vec_b FROM cand UNION ALL SELECT vec_b, vec_a FROM cand),
      |p AS (SELECT vec_a, vec_b,
      |        round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) AS sim
      |      FROM m JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id),
      |r AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, sim,
      |        CAST(row_number() OVER (PARTITION BY vec_a ORDER BY sim DESC, vec_b) AS INT) AS rank
      |      FROM p),
      |g AS MATERIALIZED (SELECT vec_id, rank, neighbor_id, sim FROM r WHERE rank <= $KnnGraphK)""".stripMargin

  private val knnGraphSql =
    s"""$knnEdgesDuck
      |SELECT vec_id, rank, neighbor_id, sim FROM g
      |ORDER BY vec_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // sim_knn_beam — greedy beam search over the staged kNN graph: the
  // QUERY half of the graph-ANN pair (the graph is the index the
  // repo already stages; HNSW answers queries by exactly this walk
  // on its layer 0). From a deterministic entry vertex (the smallest
  // corpus id ≠ query), each hop expands the current best-BeamWidth
  // frontier's graph neighbors, scores them exactly against the
  // query, and keeps the accumulated visited set; after BeamHops
  // hops the top-K of the visited set is the answer. The query
  // vertex itself is excluded from the walk (a real query is not a
  // corpus member), so the op cannot degenerate into reading the
  // query's own gated adjacency list.
  //
  // Scale shape: per query per hop the walk touches ≤ BeamWidth·2k
  // edges and scores ≤ that many vectors — O(|Q|·H·B·k) total, zero
  // corpus passes beyond the staged graph scan, and the per-hop
  // joins are skinny 8-byte-key equality joins against the BROADCAST
  // query sample. That independence from corpus size is the whole
  // point of graph ANN: brute is O(N) per query, IVF is O(N/cells ·
  // nprobe), the beam walk is O(H·B·k). localCheckpoint truncation
  // per hop keeps the 3-hop plan cascade bounded (same move as
  // graph_bfs). Determinism for the hash gate: fixed entry rule,
  // fixed B/H, ties broken by (sim DESC, id) everywhere.
  // ---------------------------------------------------------------
  private val BeamWidth = 8
  private val BeamHops = 3

  /** The greedy beam walk over the staged kNN graph from a per-query
    * `entry` relation (query_id, cand_id) — the loop body shared by
    * sim_knn_beam (fixed smallest-id entry) and sim_hnsw_descent
    * (grid-descended entry). Returns the accumulated VISITED set
    * (query_id, cand_id, sim), unranked.
    */
  private def beamWalk(s: SparkSession, dir: String, q: DataFrame,
      entry: DataFrame): DataFrame =
    beamWalkAt(s, dir, q, entry, BeamWidth, BeamHops, Set(BeamHops))(BeamHops)._1

  /** The walk at an explicit (beam width, hops) budget, returning the
    * VISITED set snapshot at each hop in `keep` (so a budget curve
    * reads one chain instead of re-walking per point — hop h of a
    * width-`bw` walk is a prefix of hop h' > h) WITH its checkpoint
    * ids, so the caller can `Rounds.free` each kept snapshot once its
    * derived result materializes (r14 VERDICT item 3 — no
    * JVM-lifetime block pinning). All other intermediate state is
    * freed per hop as before.
    */
  private def beamWalkAt(s: SparkSession, dir: String, q: DataFrame,
      entry: DataFrame, bw: Int, hops: Int,
      keep: Set[Int]): Map[Int, (DataFrame, Set[Int])] = {
    val e = emb(s, dir)
    val c = e.select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cn"))
    val g0 = knnGraphStaged(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val edges = g0.unionByName(g0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    def score(ids: DataFrame): DataFrame = ids
      .join(c, "cand_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", cosine(expr("graft_array_dot(qv, cv)"), col("qn"), col("cn")))
      .select("query_id", "cand_id", "sim")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    var (visited, vIds) = Rounds.checkpoint(score(entry))
    var out = Map.empty[Int, (DataFrame, Set[Int])]
    if (keep.contains(0)) out += 0 -> (visited, vIds)
    for (h <- 1 to hops) {
      val beam = visited.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= bw)
      val grown = beam.select("query_id", "cand_id")
        .join(edges, col("cand_id") === col("src"))
        .filter(col("dst") =!= col("query_id"))
        .select(col("query_id"), col("dst").as("cand_id"))
        .distinct()
        // visited candidates already carry their (deterministic)
        // score — never rescore, only extend
        .join(visited.select("query_id", "cand_id"), Seq("query_id", "cand_id"), "left_anti")
      val (nv, ids) = Rounds.checkpoint(visited.unionByName(score(grown)))
      if (!out.values.exists(_._1 eq visited)) Rounds.free(visited, vIds)
      visited = nv
      vIds = ids
      if (keep.contains(h)) out += h -> (visited, vIds)
    }
    out
  }

  private def knnBeam(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // entry: smallest corpus id that is not the query itself — a
    // 2-row × |Q|-row broadcast product, config-sized
    val low2 = e.orderBy("vec_id").limit(2).select(col("vec_id").as("cand_id"))
    val entry = broadcast(q.select("query_id")).crossJoin(broadcast(low2))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id").agg(min("cand_id").as("cand_id"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    beamWalk(s, dir, q, entry)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------
  // sim_hnsw_descent — the HNSW query path (Malkov & Yashunin 2018)
  // composed from the repo's two gated index artifacts: the upper
  // layers are the staged grid's coarse→fine routing (layer 2 =
  // coarse seeds, layer 1 = Lloyd-refined fine centroids — exactly
  // what HNSW's sparse layers approximate: a coarse navigable map of
  // the space), and layer 0 is the staged kNN graph searched by the
  // gated beam walk. The descent: each query routes two-level to its
  // PRIMARY fine cell (the staged a1 assignment), enters the bottom
  // layer at its smallest cell-mate (global smallest-id fallback for
  // singleton cells — the sim_knn_beam entry rule), and beam-walks
  // B=8/H=3 from there. The pinned claim is structural: a descended
  // entry starts the walk inside the query's neighborhood instead of
  // at a fixed corner of the graph, so the same walk budget buys
  // strictly fresher candidates; entry_id is emitted so the gate
  // hash-pins the descent itself, not just the final top-K.
  //
  // Scale shape: descent = the staged assignment relation (already
  // built, broadcastable centroid tables); entry lookup = one
  // cell-keyed equality join of the |Q| query cells against the
  // staged primary assignment; walk = O(|Q|·H·B·k) — corpus-size
  // independence is the whole point (HNSW's layer count is log N;
  // the grid's two levels are that log for any corpus a single
  // snapshot serves, and the staged artifacts ARE the upper layers,
  // maintained once, probed by every query).
  // ---------------------------------------------------------------
  /** The descent entry relation (query_id, cand_id): each query's
    * smallest primary-cell mate under the staged grid, global
    * smallest-id fallback for singleton cells — shared by
    * sim_hnsw_descent and sim_descent_curve.
    */
  private def descentEntry(s: SparkSession, dir: String,
      e: DataFrame, q: DataFrame): DataFrame = {
    // layer 2 → layer 1: the staged grid's primary cells (crank = 1)
    val a1 = Dedup.stagedCellAssignments(s, dir)
      .filter(col("crank") === 1).select(col("vec_id"), col("cell"))
    val qcell = a1.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("cell"))
    // layer 1 → layer 0 entry: smallest cell-mate ≠ query
    val cellEntry = qcell.join(a1, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id").agg(min("vec_id").as("cell_entry"))
    val low2 = e.orderBy("vec_id").limit(2).select(col("vec_id").as("cand_id"))
    val fallback = broadcast(q.select("query_id")).crossJoin(broadcast(low2))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id").agg(min("cand_id").as("fb_entry"))
    fallback.join(cellEntry, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("cell_entry"), col("fb_entry")).as("cand_id"))
  }

  /** The CELL-BREADTH descent entry (query_id, cand_id — one row per
    * primary-cell mate): the walk enters at EVERY cell mate instead
    * of the smallest one, i.e. the layer-1 → layer-0 handoff scores
    * the whole routed cell (IVF probe-1) and the graph walk refines
    * from there. On weak-gradient corpora (this test data's median
    * pairwise cosine is ~0) a single entry leaves greedy routing
    * nothing to climb; the cell seeds the frontier inside the
    * query's true neighborhood. Cost stays corpus-size-independent:
    * cell population is capped by the grid's stride rule (~96 at
    * scale), so entry cost is O(|Q|·cell), not O(|Q|·N). Smallest-id
    * fallback only for queries whose cell is a singleton.
    */
  private def descentEntryCell(s: SparkSession, dir: String,
      e: DataFrame, q: DataFrame): DataFrame = {
    val a1 = Dedup.stagedCellAssignments(s, dir)
      .filter(col("crank") === 1).select(col("vec_id"), col("cell"))
    val qcell = a1.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("cell"))
    val mates = qcell.join(a1, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
    val low2 = e.orderBy("vec_id").limit(2).select(col("vec_id").as("cand_id"))
    val fallback = broadcast(q.select("query_id")).crossJoin(broadcast(low2))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy("query_id").agg(min("cand_id").as("cand_id"))
    val noMates = fallback
      .join(mates.select("query_id").distinct(), Seq("query_id"), "left_anti")
    mates.unionByName(noMates)
  }

  private def hnswDescent(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val entry = descentEntry(s, dir, e, q)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    beamWalk(s, dir, q, entry)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .join(entry.withColumnRenamed("cand_id", "entry_id"), "query_id")
      .select(col("query_id"), col("entry_id"), col("rank"),
        col("cand_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "rank")
  }

  /** Beam-walk oracle fragment (CTEs sedge/qq/low2/bent/bv0..bv$BeamHops;
    * assumes [[knnEdgesDuck]]'s `n` and `g` are in scope) — shared by
    * sim_knn_beam, sim_hnsw_descent and the recall evaluation.
    * UNION-dedup replicates the Spark side's anti-join-then-extend
    * visited set because the score of a (query, candidate) pair is
    * deterministic. `entryCtes` must define `bent(query_id,
    * cand_id)`; the default is the fixed smallest-id entry.
    */
  /** One hop-`i` step of a width-`bw` beam chain, CTE names prefixed
    * `pfx` (so several budget chains coexist in one oracle). Hops in
    * `mat` are marked MATERIALIZED (they're re-read by the curve's
    * grading CTEs — the multiply-referenced-fragment rule).
    */
  private def beamChainDuck(pfx: String, bw: Int, hops: Int,
      mat: Set[Int] = Set.empty, entryCte: String = "bent"): String = {
    def m(i: Int) = if (mat.contains(i)) " MATERIALIZED" else ""
    def hop(i: Int): String =
      s"""${pfx}bb$i AS (SELECT query_id, cand_id, sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rn
        |    FROM ${pfx}bv${i - 1}) t WHERE rn <= $bw),
        |${pfx}bx$i AS (SELECT DISTINCT b.query_id, s.dst AS cand_id
        |         FROM ${pfx}bb$i b JOIN sedge s ON b.cand_id = s.src
        |         WHERE s.dst <> b.query_id),
        |${pfx}bs$i AS (SELECT x.query_id, x.cand_id,
        |           round(list_dot_product(qq.qv, c.v) / sqrt(qq.qn * c.nrm), 4) AS sim
        |         FROM ${pfx}bx$i x JOIN n c ON x.cand_id = c.vec_id
        |              JOIN qq ON qq.query_id = x.query_id),
        |${pfx}bv$i AS${m(i)} (SELECT query_id, cand_id, sim FROM ${pfx}bv${i - 1}
        |         UNION SELECT query_id, cand_id, sim FROM ${pfx}bs$i)""".stripMargin
    s"""${pfx}bv0 AS (SELECT e0.query_id, e0.cand_id,
      |          round(list_dot_product(qq.qv, c.v) / sqrt(qq.qn * c.nrm), 4) AS sim
      |        FROM $entryCte e0 JOIN n c ON e0.cand_id = c.vec_id
      |             JOIN qq ON qq.query_id = e0.query_id),
      |${(1 to hops).map(hop).mkString(",\n")}""".stripMargin
  }

  /** Shared walk preamble: symmetrized edges, query sample, fixed
    * low-id pool, plus the caller's entry CTEs (must define `bent`).
    */
  private def beamPreambleDuck(entryCtes: String): String =
    s"""sedge AS (SELECT vec_id AS src, neighbor_id AS dst FROM g
      |          UNION SELECT neighbor_id, vec_id FROM g),
      |qq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < $NQueries),
      |low2 AS (SELECT vec_id FROM n ORDER BY vec_id LIMIT 2),
      |$entryCtes""".stripMargin

  private def beamDuckFrom(entryCtes: String): String =
    s"""${beamPreambleDuck(entryCtes)},
      |${beamChainDuck("", BeamWidth, BeamHops)}""".stripMargin

  private val beamDuck = beamDuckFrom(
    s"""bent AS (SELECT q.query_id, min(l.vec_id) AS cand_id
      |         FROM qq q JOIN low2 l ON l.vec_id <> q.query_id GROUP BY 1)""".stripMargin)

  private val knnBeamSql =
    s"""$knnEdgesDuck,
      |$beamDuck
      |SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS neighbor_id, sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      |  FROM bv$BeamHops) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // Descent-entry oracle: the query's primary staged cell (a1, in
  // scope from knnEdgesDuck's grid chain), entered at its smallest
  // cell-mate, smallest-global-id fallback for singleton cells.
  private val descentEntryDuck =
    s"""qcell AS (SELECT vec_id AS query_id, cell FROM a1 WHERE vec_id < $NQueries),
      |centry AS (SELECT q.query_id, min(a.vec_id) AS cell_entry
      |           FROM qcell q JOIN a1 a ON a.cell = q.cell AND a.vec_id <> q.query_id
      |           GROUP BY 1),
      |fb AS (SELECT q.query_id, min(l.vec_id) AS fb_entry
      |       FROM qq q JOIN low2 l ON l.vec_id <> q.query_id GROUP BY 1),
      |bent AS (SELECT f.query_id, coalesce(c.cell_entry, f.fb_entry) AS cand_id
      |         FROM fb f LEFT JOIN centry c ON f.query_id = c.query_id)""".stripMargin

  private val hnswDescentSql =
    s"""$knnEdgesDuck,
      |${beamDuckFrom(descentEntryDuck)}
      |SELECT t.query_id, b.cand_id AS entry_id, CAST(rank AS INT) AS rank,
      |  t.cand_id AS neighbor_id, sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      |  FROM bv$BeamHops) t
      |JOIN bent b ON t.query_id = b.query_id
      |WHERE rank <= $K
      |ORDER BY t.query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // sim_descent_curve — the descent index's BUDGET→RECALL curve as
  // gated data (r13 VERDICT item 5): sim_hnsw_descent proves the
  // descended entry beats the fixed entry AT ONE budget (B=8, H=3 —
  // a 5×-at-equal-cost demonstration, not a production operating
  // point); this op emits the curve an operator actually reads to
  // PICK the budget — one row per (entry_mode, beam_width, hops)
  // point with aggregate recall@K vs exact brute truth AND the
  // measured cost (n_visited = candidates scored, the walk's real
  // bill), the sim_recall_eval recall-as-data convention. Chains
  // share walk prefixes (hop h is a prefix of hop h' > h at equal
  // width/entry), so three chains price nine points.
  //
  // What the gated curve pins (sf0.1): on this corpus — median
  // pairwise cosine ~0, i.e. the weak-gradient regime where greedy
  // graph routing has nothing to climb — ENTRY BREADTH dominates
  // walk depth: single-entry recall@5 saturates at 5% (B=8, H=3)
  // while the cell entry reaches 28% at ONE hop and the production
  // point (cell, B=32, H=6) reaches 50% — vs 27% for BOTH other
  // gated sublinear indexes (multiprobe LSH and IVF nprobe=2) and
  // 1% for the fixed-entry walk at the same H·B budget. 50% is what
  // "high recall at realistic cost" means on near-random vectors:
  // no sublinear index recalls noise-floor neighbors, and the
  // descent+walk composite nearly DOUBLES the best bucket index at
  // a cost (O(|Q|·(cell + H·B·k)) scored candidates) that stays
  // corpus-size-independent, vs brute's O(|Q|·N).
  //
  // Scale shape: identical to sim_knn_beam per chain; exact truth is
  // ONE |Q|·N brute pass, checkpointed and re-read by all nine
  // points (the sim_index_drift single-ranking rule).
  // ---------------------------------------------------------------
  private val CurveChains: Seq[(String, Int, Int, Seq[Int])] = Seq(
    ("single", BeamWidth, BeamHops, Seq(1, 2, 3)), // the gated op's own budget curve
    ("cell", BeamWidth, BeamHops, Seq(1, 2, 3)),   // same walk budget, cell entry
    ("cell", 32, 6, Seq(2, 4, 6)))                 // the production point

  private def descentCurve(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val entries = Map(
      "single" -> descentEntry(s, dir, e, q),
      "cell" -> descentEntryCell(s, dir, e, q))
    // one exact truth serves every budget point; checkpointed WITH
    // ids so it can be freed once the nine 1-row points are on the
    // driver (r14 VERDICT item 3 — the walk snapshots and the truth
    // must not pin blocks for JVM lifetime)
    val (exact, exactIds) = Rounds.checkpoint(
      knnBrute(s, dir).select(col("query_id"), col("neighbor_id")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    // the three chains are INDEPENDENT (hops only share a prefix
    // within a chain) — walk them in concurrent driver threads (r16,
    // guide §2.6: the hop checkpoints and 1-row point collects are
    // sequential tiny jobs, so one driver thread left the executors
    // idle; Rounds' lineage-intersected bookkeeping is explicitly
    // safe under concurrent checkpoint/free). Result order is
    // chain-ordered by inParallel, and orderBy pins the output.
    val rows = inParallel(CurveChains.map { case (em, bw, hops, emitAt) =>
      () => {
        val snaps = beamWalkAt(s, dir, q, entries(em), bw, hops, emitAt.toSet)
        val points = emitAt.map { h =>
          val (visited, _) = snaps(h)
          val ann = visited.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= K)
            .select(col("query_id"), col("cand_id").as("neighbor_id"),
              lit(1L).as("hit"))
          // the point is ONE row — materialize it on the driver (the
          // coreset `picked` pattern) so the chain's snapshots can be
          // freed as soon as the chain finishes
          val r = exact.join(ann, Seq("query_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
            .crossJoin(broadcast(visited.agg(count(lit(1)).as("n_visited"))))
            .collect()(0)
          val (nExact, nHits, nVisited) = (r.getLong(0), r.getLong(1), r.getLong(2))
          (em, bw.toLong, h.toLong, nExact, nHits, nHits * 1000000L / nExact, nVisited)
        }
        snaps.values.foreach { case (snap, ids) => Rounds.free(snap, ids) }
        points
      }
    }).flatten
    Rounds.free(exact, exactIds)
    import s.implicits._
    rows.toDF("entry_mode", "beam_width", "hops", "n_exact", "n_hits",
        "recall_ppm", "n_visited")
      .orderBy("entry_mode", "beam_width", "hops")
  }

  // Cell-breadth entry oracle: every primary-cell mate (qmates),
  // smallest-global-id fallback only for mate-less queries.
  private val descentCellEntryDuck =
    s"""qmates AS (SELECT q.query_id, a.vec_id AS cand_id
      |           FROM qcell q JOIN a1 a ON a.cell = q.cell AND a.vec_id <> q.query_id),
      |bentc AS (SELECT query_id, cand_id FROM qmates
      |          UNION ALL
      |          SELECT f.query_id, f.fb_entry FROM fb f
      |          WHERE NOT EXISTS (SELECT 1 FROM qmates m WHERE m.query_id = f.query_id))""".stripMargin

  private def curvePfx(em: String, bw: Int): String = s"c${em.head}$bw"

  private val descentCurveSql = {
    val chains = CurveChains.map { case (em, bw, hops, emitAt) =>
      beamChainDuck(curvePfx(em, bw), bw, hops, emitAt.toSet,
        entryCte = if (em == "cell") "bentc" else "bent")
    }.mkString(",\n")
    val points = CurveChains.flatMap { case (em, bw, _, emitAt) =>
      val pfx = curvePfx(em, bw)
      emitAt.map { h =>
        s"""p${pfx}_$h AS (
          |  SELECT '$em' AS entry_mode,
          |    CAST($bw AS BIGINT) AS beam_width, CAST($h AS BIGINT) AS hops,
          |    r.n_exact, r.n_hits, r.recall_ppm, v.n_visited
          |  FROM (
          |    SELECT CAST(count(*) AS BIGINT) AS n_exact,
          |      CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          |      CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_ppm
          |    FROM exact LEFT JOIN (
          |      SELECT query_id, cand_id FROM (
          |        SELECT query_id, cand_id,
          |          row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
          |        FROM ${pfx}bv$h) z WHERE rk <= $K) a
          |      ON exact.query_id = a.query_id AND exact.neighbor_id = a.cand_id) r
          |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_visited FROM ${pfx}bv$h) v)""".stripMargin
      }
    }.mkString(",\n")
    val unions = CurveChains.flatMap { case (em, bw, _, emitAt) =>
      emitAt.map(h => s"SELECT * FROM p${curvePfx(em, bw)}_$h")
    }.mkString("\n      UNION ALL ")
    s"""$knnEdgesDuck,
      |${beamPreambleDuck(descentEntryDuck)},
      |$descentCellEntryDuck,
      |$chains,
      |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 4) AS sim
      |       FROM n q JOIN n c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
      |br AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |       FROM bp),
      |exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM br WHERE rank <= $K),
      |$points
      |SELECT entry_mode, beam_width, hops, n_exact, n_hits, recall_ppm, n_visited
      |FROM ($unions) u
      |ORDER BY entry_mode, beam_width, hops""".stripMargin
  }

  // ---------------------------------------------------------------
  // sim_recall_eval — ANN index quality as DATA: per-query recall@K
  // of BOTH approximate index families — the multiprobe LSH bucket
  // index and the staged-graph beam walk (one row per method per
  // query) — against the exact brute-force top-K,
  // plus the index's candidate-side selectivity proxy (the probed
  // result's worst kept sim vs the exact kth sim). Production vector
  // stores run exactly this audit on a query sample before trusting
  // an index — recall is a measured table, not a README claim. The
  // op COMPOSES the two already-gated plans (same query sample, same
  // deterministic planes), so the hash gate proves the evaluation
  // harness itself, end to end, on both engines.
  //
  // Scale shape: both sides are top-K relations over the bounded
  // query sample (|Q|·K rows) — the join and aggregate are
  // query-sample-sized; the corpus passes are the two underlying
  // index scans, each already proven sub-linear.
  // ---------------------------------------------------------------
  private def recallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = knnBrute(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("sim").as("exact_sim"))
    def recallOf(ann: DataFrame, method: String): DataFrame =
      exact.join(ann.select(col("query_id"), col("neighbor_id"), col("sim").as("ann_sim")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("k"),
          sum(when(col("ann_sim").isNotNull, 1L).otherwise(0L)).as("n_hits"),
          min(col("exact_sim")).as("exact_kth_sim"))
        .withColumn("recall_ppm", expr("n_hits * CAST(1000000 AS BIGINT) DIV k"))
        .withColumn("method", lit(method))
        .select("method", "query_id", "k", "n_hits", "recall_ppm", "exact_kth_sim")
    // both index families graded against the same exact baseline on
    // the same query sample: the hash-bucket index (multiprobe LSH)
    // and the graph index (beam walk)
    recallOf(knnMultiprobe(s, dir), "multiprobe")
      .unionByName(recallOf(knnBeam(s, dir), "beam"))
      .orderBy("method", "query_id")
  }

  private val recallEvalSql = {
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    val masks = (0 +: (0 until NPlanes).map(1 << _)).mkString("[", ", ", "]")
    def recallOf(method: String, annCte: String): String =
      s"""SELECT '$method' AS method, exact.query_id, count(*) AS k,
        |  CAST(sum(CASE WHEN a.ann_sim IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN a.ann_sim IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_ppm,
        |  min(exact.exact_sim) AS exact_kth_sim
        |FROM exact LEFT JOIN $annCte a
        |  ON exact.query_id = a.query_id AND exact.neighbor_id = a.neighbor_id
        |GROUP BY exact.query_id""".stripMargin
    s"""$knnEdgesDuck,
      |$beamDuck,
      |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 4) AS sim
      |       FROM n q JOIN n c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
      |br AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |       FROM bp),
      |exact AS (SELECT query_id, neighbor_id, sim AS exact_sim FROM br WHERE rank <= $K),
      |b AS (SELECT vec_id, v, nrm,
      |      $bucketExpr AS bucket
      |      FROM n),
      |mq AS (SELECT vec_id, v, nrm, CAST(xor(bucket, m) AS INT) AS bucket
      |       FROM b, (SELECT unnest($masks) AS m) masks
      |       WHERE vec_id < $NQueries),
      |mp AS (SELECT mq.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_dot_product(mq.v, c.v) / sqrt(mq.nrm * c.nrm), 4) AS sim
      |       FROM mq JOIN b c ON mq.bucket = c.bucket AND mq.vec_id <> c.vec_id),
      |mr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |       FROM mp),
      |ann AS (SELECT query_id, neighbor_id, sim AS ann_sim FROM mr WHERE rank <= $K),
      |bmr AS (SELECT query_id, cand_id AS neighbor_id, sim AS ann_sim FROM (
      |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      |         FROM bv$BeamHops) t WHERE rank <= $K)
      |${recallOf("multiprobe", "ann")}
      |UNION ALL
      |${recallOf("beam", "bmr")}
      |ORDER BY method, query_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // samp_hard_negatives — hard-negative mining off the staged kNN
  // graph: for every vector, its highest-similarity neighbors BELOW
  // the near-dup threshold (sim ∈ [0.20, 0.40 = Dedup.EmbTau)),
  // ranked, top-2 — the contrastive-training selection ("closest
  // non-duplicates") every embedding-model pipeline mines, and by
  // construction disjoint from the near-dup pair set dedup_embedding
  // gates (near-dups ARE sim ≥ τ, so the band filter is the
  // anti-join). Pure filter + per-vertex ≤k-row window over the
  // already-gated graph relation: zero corpus passes, zero new
  // shuffles beyond the |edges| scan. The floor keeps random-ish
  // pairs (sim ≈ 0) out — those are easy negatives a trainer gets
  // for free.
  // ---------------------------------------------------------------
  private val NegFloor4 = 2000L // 0.20 in 1e-4 sim units
  private val NegPerVec = 2

  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraphStaged(s, dir)
      .withColumn("sim4", expr("CAST(round(sim * 10000) AS BIGINT)"))
      .filter(col("sim4") >= NegFloor4 &&
        col("sim4") < (Dedup.EmbTau * 10000).toLong)
    val w = Window.partitionBy("vec_id").orderBy(col("sim4").desc, col("neighbor_id"))
    g.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= NegPerVec)
      .select(col("vec_id"), col("neg_rank"), col("neighbor_id"), col("sim4"))
      .orderBy("vec_id", "neg_rank")
  }

  private val hardNegativesSql =
    s"""$knnEdgesDuck,
      |band AS (SELECT vec_id, neighbor_id,
      |           CAST(round(sim * 10000) AS BIGINT) AS sim4 FROM g
      |         WHERE round(sim * 10000) >= $NegFloor4
      |           AND round(sim * 10000) < ${(Dedup.EmbTau * 10000).toLong}),
      |nr AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
      |         ORDER BY sim4 DESC, neighbor_id) AS INT) AS neg_rank FROM band)
      |SELECT vec_id, neg_rank, neighbor_id, sim4 FROM nr
      |WHERE neg_rank <= $NegPerVec
      |ORDER BY vec_id, neg_rank""".stripMargin

  // ---------------------------------------------------------------
  // emb_coreset — k-center greedy coreset selection (Gonzalez 1985
  // farthest-point traversal, the 2-approximation that anchors every
  // coreset / diverse-subset pipeline): seed with the smallest
  // vec_id, then K−1 times add the point FARTHEST from the selected
  // set (min cosine to its nearest center; ties → smallest id) — the
  // "pick 8 maximally spread exemplars" selection a curation pipeline
  // runs to seed clustering, pick annotation batches, or cap a
  // topic's redundancy. Output: each center with its selection step
  // and the corpus max-min coverage radius AT selection (the classic
  // monotone k-center curve).
  //
  // Determinism: rounded-1e-4 sims with vec_id tie-breaks at the
  // argmin make every pick engine-exact (same contract as every
  // other greedy op here). Scale shape: per step ONE map over the
  // corpus against the single new center (broadcast 1 row) to fold
  // best_sim, plus a TakeOrdered(1) argmin — K bounded passes, state
  // localCheckpointed per round like the other iterative engines;
  // the 1-row driver collect per step is the same fixpoint pattern
  // as dedup's CC rounds. At 100 TB: K scans of a skinny
  // (id, best_sim) relation + the vector column — never a pairwise
  // join.
  // ---------------------------------------------------------------
  private val CoresetK = 8

  private def coreset(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v"), col("nrm"))
    val c0 = e.orderBy("vec_id").limit(1).collect()(0)
    def simTo(cv: Seq[Double], cn: Double) = {
      // explicit D suffix: bare decimal literals parse as DECIMAL and
      // the dot kernel takes ARRAY<DOUBLE>
      val lit0 = cv.map(x => s"${x}D").mkString("array(", ", ", ")")
      expr(s"round(graft_array_dot(v, $lit0) / sqrt(nrm * ${cn}D), 4)")
    }
    var picked = Seq((c0.getLong(0), 1L, 10000L)) // (vec_id, step, radius4)
    var (state, stateIds) = Rounds.checkpoint(
      e.filter(col("vec_id") =!= c0.getLong(0))
        .withColumn("best", simTo(c0.getSeq[Double](1), c0.getDouble(2))))
    for (k <- 2 to CoresetK) {
      val next = state.orderBy(col("best").asc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("v"), col("nrm"), col("best")).collect()(0)
      picked :+= ((next.getLong(0), k.toLong,
        (next.getDouble(3) * 10000).round))
      val (st2, ids2) = Rounds.checkpoint(
        state.filter(col("vec_id") =!= next.getLong(0))
          .withColumn("best", greatest(col("best"),
            simTo(next.getSeq[Double](1), next.getDouble(2)))))
      Rounds.free(state, stateIds)
      state = st2
      stateIds = ids2
    }
    Rounds.free(state, stateIds) // output is driver-side `picked`; state is done
    import s.implicits._
    picked.toDF("vec_id", "step", "coverage_sim4")
      .select(col("step"), col("vec_id"), col("coverage_sim4"))
      .orderBy("step")
  }

  private val coresetSql = {
    // replicate the greedy exactly: step CTEs carry (selected set,
    // per-point best sim); each pick is the 1-row argmin
    def step(k: Int): String =
      s"""p$k AS (SELECT vec_id, v, nrm, best FROM s${k - 1}
        |        ORDER BY best, vec_id LIMIT 1),
        |s$k AS (SELECT t.vec_id, t.v, t.nrm,
        |          greatest(t.best, round(list_dot_product(t.v, p.v) / sqrt(t.nrm * p.nrm), 4)) AS best
        |        FROM s${k - 1} t, p$k p WHERE t.vec_id <> p.vec_id)""".stripMargin
    val steps = (2 to CoresetK).map(step).mkString(",\n")
    val outs = (2 to CoresetK)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, vec_id, CAST(round(best * 10000) AS BIGINT) AS coverage_sim4 FROM p$k")
      .mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e0),
      |c0 AS (SELECT vec_id, v, nrm FROM n ORDER BY vec_id LIMIT 1),
      |s1 AS (SELECT t.vec_id, t.v, t.nrm,
      |         round(list_dot_product(t.v, c.v) / sqrt(t.nrm * c.nrm), 4) AS best
      |       FROM n t, c0 c WHERE t.vec_id <> c.vec_id),
      |$steps
      |SELECT CAST(1 AS BIGINT) AS step, vec_id, CAST(10000 AS BIGINT) AS coverage_sim4 FROM c0
      |UNION ALL
      |$outs
      |ORDER BY step""".stripMargin
  }

  // ---------------------------------------------------------------
  // emb_matryoshka_eval — truncated-dimension retrieval audit
  // (Kusupati et al. 2022, "Matryoshka Representation Learning"):
  // per-query recall@K of brute-force search over the first
  // 8/16/32 components against the full 64-dim top-K — the
  // measurement behind every "search the cheap prefix first, rerank
  // with the full vector" deployment, and the budget table that says
  // which prefix an ANN tier can index. Same evaluation skeleton as
  // sim_recall_eval (top-K sets joined per query, integer-ppm
  // recall); rounded-sim ranking with neighbor-id tiebreak keeps
  // every per-dim top-K engine-stable.
  //
  // Scale shape: each dim's pass is the brute scan over the bounded
  // query sample (|Q|·N dots, prefix-length each) — 3 extra passes
  // at ≤ half the full-dim flops; everything downstream is |Q|·K
  // rows. At 100 TB the corpus side would be the ANN shortlist per
  // tier (same contract as sim_mmr's pool).
  // ---------------------------------------------------------------
  private val MatDims = Seq(8, 16, 32)
  private val MatK = 10

  private def matryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    def topk(d: Int): DataFrame = {
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), expr(s"slice(v, 1, $d)").as("qv"))
        .withColumn("qn", expr("graft_array_dot(qv, qv)"))
      val c = e.select(col("vec_id").as("nid"), expr(s"slice(v, 1, $d)").as("cv"))
        .withColumn("cn", expr("graft_array_dot(cv, cv)"))
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nid"))
      broadcast(q).join(c, col("query_id") =!= col("nid"))
        .withColumn("sim", cosine(expr("graft_array_dot(qv, cv)"), col("qn"), col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= MatK)
        .select(col("query_id"), col("nid"))
    }
    val full = topk(64)
      .select(col("query_id").as("fq"), col("nid").as("fid"))
      .localCheckpoint()
    MatDims.map { d =>
      topk(d)
        .join(full, col("query_id") === col("fq") && col("nid") === col("fid"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(when(col("fid").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(lit(d.toLong).as("dim"), col("query_id"), col("k"),
          col("n_hits"),
          expr("n_hits * CAST(1000000 AS BIGINT) DIV k").as("recall_ppm"))
    }.reduce(_ unionByName _).orderBy("dim", "query_id")
  }

  private val matryoshkaSql = {
    def pass(d: Int, name: String) =
      s"""p$name AS (SELECT q.vec_id AS query_id, c.vec_id AS nid,
        |  round(list_dot_product(q.v[1:$d], c.v[1:$d]) /
        |        sqrt(list_dot_product(q.v[1:$d], q.v[1:$d]) *
        |             list_dot_product(c.v[1:$d], c.v[1:$d])), 4) AS sim
        |  FROM e q JOIN e c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
        |t$name AS (SELECT query_id, nid FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, nid) AS rank FROM p$name) z WHERE rank <= $MatK)""".stripMargin
    val dims = MatDims.map(d => pass(d, d.toString)).mkString(",\n")
    val unions = MatDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, t.query_id, count(*) AS k,
        |  CAST(sum(CASE WHEN f.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN f.nid IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        |FROM t$d t LEFT JOIN tfull f
        |  ON t.query_id = f.query_id AND t.nid = f.nid
        |GROUP BY t.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |${pass(64, "full")},
      |$dims
      |$unions
      |ORDER BY dim, query_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // sim_mmr — maximal-marginal-relevance re-ranking (Carbonell &
  // Goldstein 1998): greedy diversified top-k over each query's
  // candidate pool, score(c) = λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)
  // — the de-dup-at-retrieval-time step every RAG / search stack
  // runs so the 5 results aren't 5 copies of the same document.
  // λ = 0.7 as the exact rational 7/10 over sims in exact 1e-4 units:
  // score×10 = 7·sim4 − 3·max_sel4, pure BIGINT algebra, ties by id —
  // the greedy argmax is engine-stable at every step, which is what
  // lets an ITERATIVE re-ranker face the hash gate.
  //
  // Scale shape: the pool is the brute top-20 per query (at scale
  // it'd be the ANN shortlist — same contract: MMR always runs over a
  // BOUNDED pool, never the corpus); the pairwise-sim relation is
  // |Q|·20·19 rows; the K−1 greedy steps join candidate-pool-sized
  // relations. One corpus pass total (the pool scan); everything
  // after is query-sample-sized.
  // ---------------------------------------------------------------
  private val MmrPool = 20
  private val MmrK = 5

  private def mmr(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val poolW = Window.partitionBy("query_id").orderBy(col("sim4").desc, col("cid"))
    val cand = broadcast(q).join(c, col("query_id") =!= col("cid"))
      .withColumn("sim4",
        expr("CAST(round(10000 * graft_array_dot(qv, cv) / sqrt(qn * cn), 0) AS BIGINT)"))
      .withColumn("rk", row_number().over(poolW))
      .filter(col("rk") <= MmrPool)
      .select("query_id", "cid", "cv", "cn", "sim4")
      .localCheckpoint() // |Q|·pool rows; the base of 4 greedy steps
    val px = cand.select(col("query_id"), col("cid").as("c1"), col("cv").as("v1"), col("cn").as("n1"))
    val py = cand.select(col("query_id"), col("cid").as("c2"), col("cv").as("v2"), col("cn").as("n2"))
    val pair = px.join(py, Seq("query_id")).filter(col("c1") =!= col("c2"))
      .withColumn("psim4",
        expr("CAST(round(10000 * graft_array_dot(v1, v2) / sqrt(n1 * n2), 0) AS BIGINT)"))
      .select("query_id", "c1", "c2", "psim4")
      .localCheckpoint() // |Q|·pool·(pool−1) skinny rows
    val base = cand.select("query_id", "cid", "sim4")
    var sel = base
      .withColumn("rk", row_number().over(poolW))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cid"), lit(1L).as("rank"),
        col("sim4"), (col("sim4") * 7).as("score10"))
    var selIds = Set.empty[Int]
    for (k <- 2 to MmrK) {
      val rem = base.join(sel.select("query_id", "cid"), Seq("query_id", "cid"), "left_anti")
      val pen = pair
        .join(sel.select(col("query_id"), col("cid").as("c2")), Seq("query_id", "c2"))
        .groupBy(col("query_id"), col("c1").as("cid"))
        .agg(max(col("psim4")).as("max_sel4"))
      val stepW = Window.partitionBy("query_id").orderBy(col("score10").desc, col("cid"))
      val pick = rem.join(pen, Seq("query_id", "cid"))
        .withColumn("score10", expr("7 * sim4 - 3 * max_sel4"))
        .withColumn("rk", row_number().over(stepW))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("cid"), lit(k.toLong).as("rank"),
          col("sim4"), col("score10"))
      // truncate lineage each step: pick_k references sel_{k-1} TWICE
      // (remaining-pool anti-join + penalty join), so without this the
      // final plan embeds ~2^K copies of the cascade — at sf0.1 that
      // was 5.0s of pure planning/codegen for |Q|·K tiny rows (6.7s at
      // sf0.01: the cost was plan-shaped, not data-shaped). Superseded
      // steps freed via Rounds bookkeeping.
      val (sel2, ids2) = Rounds.checkpoint(sel.unionByName(pick))
      Rounds.free(sel, selIds)
      sel = sel2
      selIds = ids2
    }
    sel.withColumnRenamed("cid", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  private val mmrSql = {
    val steps = (2 to MmrK).map { k =>
      s"""pen$k AS (SELECT p.query_id, p.c1 AS cid, max(p.psim4) AS max_sel4
        |  FROM pair p JOIN sel${k - 1} s ON p.query_id = s.query_id AND p.c2 = s.cid
        |  GROUP BY 1, 2),
        |pick$k AS (SELECT query_id, cid, CAST($k AS BIGINT) AS rank, sim4, score10 FROM (
        |    SELECT c.query_id, c.cid, c.sim4, 7 * c.sim4 - 3 * pen$k.max_sel4 AS score10,
        |      row_number() OVER (PARTITION BY c.query_id ORDER BY 7 * c.sim4 - 3 * pen$k.max_sel4 DESC, c.cid) AS rk
        |    FROM cand c JOIN pen$k ON c.query_id = pen$k.query_id AND c.cid = pen$k.cid
        |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s WHERE s.query_id = c.query_id AND s.cid = c.cid)
        |  ) z WHERE rk = 1),
        |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
      |c0 AS (SELECT q.vec_id AS query_id, c.vec_id AS cid,
      |         CAST(round(10000 * list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 0) AS BIGINT) AS sim4
      |       FROM n q JOIN n c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
      |cand AS (SELECT query_id, cid, sim4 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim4 DESC, cid) AS rk FROM c0
      |  ) z WHERE rk <= $MmrPool),
      |pair AS (SELECT x.query_id, x.cid AS c1, y.cid AS c2,
      |         CAST(round(10000 * list_dot_product(xv.v, yv.v) / sqrt(xv.nrm * yv.nrm), 0) AS BIGINT) AS psim4
      |       FROM cand x JOIN cand y ON x.query_id = y.query_id AND x.cid <> y.cid
      |       JOIN n xv ON x.cid = xv.vec_id JOIN n yv ON y.cid = yv.vec_id),
      |sel1 AS (SELECT query_id, cid, CAST(1 AS BIGINT) AS rank, sim4, 7 * sim4 AS score10 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim4 DESC, cid) AS rk FROM cand
      |  ) z WHERE rk = 1),
      |$steps
      |SELECT query_id, rank, cid AS neighbor_id, sim4, score10 FROM sel$MmrK
      |ORDER BY query_id, rank""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("sim_knn_graph", knnGraph, Some(knnGraphSql)),
    Op("sim_recall_eval", recallEval, Some(recallEvalSql)),
    Op("emb_matryoshka_eval", matryoshka, Some(matryoshkaSql)),
    Op("emb_coreset", coreset, Some(coresetSql)),
    Op("samp_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Op("sim_mmr", mmr, Some(mmrSql)),
    Op("sim_knn_brute", knnBrute, Some(knnBruteSql)),
    Op("sim_knn_lsh", knnLsh, Some(knnLshSql)),
    Op("sim_knn_multiprobe", knnMultiprobe, Some(knnMultiprobeSql)),
    Op("sim_knn_beam", knnBeam, Some(knnBeamSql)),
    Op("sim_hnsw_descent", hnswDescent, Some(hnswDescentSql)),
    Op("sim_descent_curve", descentCurve, Some(descentCurveSql)),
    Op("sim_ivf", knnIvf, Some(knnIvfSql)),
    Op("sim_ivf_twolevel", knnIvfTwoLevel, Some(knnIvfTwoLevelSql)),
    Op("sim_range_search", rangeSearch, Some(rangeSearchSql)),
    Op("sim_range_search_lsh", rangeSearchLsh, Some(rangeSearchLshSql)),
    Op("emb_label_centroid", labelCentroid, Some(labelCentroidSql)),
    Op("emb_dim_stats", dimStats, Some(dimStatsSql)),
    Op("emb_power_iter", powerIter, Some(powerIterSql)),
    Op("emb_outliers", outliers, Some(outliersSql)))
}
