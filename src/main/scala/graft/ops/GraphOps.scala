package graft.ops

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph algebra over warehouse relations — the capability
  * class (Pregel-style fixed-point computation) that none of the
  * single-pass operators exercise. The dedup family's connected
  * components is one instance; this adds the other canonical one.
  */
object GraphOps {

  // ---------------------------------------------------------------
  // graph_pagerank — PageRank over the bipartite customer–supplier
  // purchase graph (who-bought-from-whom, undirected as two directed
  // edges so the walk has no sinks), THE canonical iterative
  // join-aggregate workload. Three damped iterations, unrolled, in
  // EXACT integer ppm mass: r₀ = 10⁶ per vertex;
  // r_{i+1}(v) = 150000 + (85 · Σ_{u→v} (r_i(u) DIV outdeg(u))) DIV 100
  // — truncating integer division at both steps makes every engine
  // compute bit-identical masses (a float PageRank would hash-drift
  // on summation order), which is what lets an ITERATIVE algorithm
  // face the hash gate at all.
  //
  // Plan shape per iteration: join mass to edges on src (shuffle on
  // an 8-byte key; outdeg rides the same partitioning) + one
  // map-side-combined aggregate on dst — the textbook Pregel
  // superstep as two bounded shuffles, linear in |E| per iteration.
  // The edge list is DISTINCT (cust, supp) pairs — one fact-table
  // pass, then every iteration runs on the edge relation only. At
  // 100 TB: iterations would persist/checkpoint the mass relation and
  // pre-partition edges by src so every superstep reuses one
  // partitioning; with 3 unrolled iterations Catalyst's plan is
  // bounded and needs neither.
  // ---------------------------------------------------------------
  private val Iters = 3

  /** Symmetrized bipartite purchase graph (customer 2c ↔ supplier
    * 2sp+1) — the edge relation every op in this family (pagerank ×2,
    * kcore, degree_dist, assortativity) walks, and the pagerank loops
    * walk once PER SUPERSTEP.
    *
    * Staged as a SRC-BUCKETED TABLE, built once per corpus snapshot
    * in the [[Staging]] memo (repo lesson 26 / round-8 verdict item
    * 2): a bucketed scan surfaces HashPartitioning(src, PgBuckets),
    * so every edges⨝mass-on-src superstep join plans with NO exchange on the
    * |E|-sized side — only the skinny |V|-sized mass relation
    * shuffles per round (BucketingSpec proves the no-shuffle shape).
    * Bucket count is DERIVED from the BUILDING session's shuffle
    * parallelism at stage-build time (floor 32, and part of the
    * stage's snapshot so a wider session supersedes a narrower stage
    * rather than reuse it): when both superstep join children satisfy
    * the clustered distribution, EnsureRequirements keeps the child
    * with MORE partitions and re-exchanges the other — a bucket count below
    * spark.sql.shuffle.partitions would put the |E| side on the
    * losing end of that rule and re-shuffle it every round (observed
    * at 8 buckets vs 32 shuffle partitions; a hardcoded 32 had the
    * same failure on a >32-core Bench host). At cluster scale, size
    * buckets to |E| and keep them ≥ the shuffle parallelism.
    * The previous localCheckpoint staging materialized edges with
    * arbitrary partitioning, so at cluster scale every round paid a
    * full |E| exchange; it also rebuilt the fact join once per
    * CONSUMER OP (5× per bench pass), where the bucketed table is
    * built once per corpus. outdeg is bucketed identically so the
    * superstep's second src join is exchange-free too. The stage is
    * alive while its files and both catalog tables are; freeing it
    * drops the tables through the session that created them (its
    * catalog holds them) and deletes the dir. A non-local dir (no
    * snapshot ⇒ no safe memo) falls back to the inline
    * localCheckpoint staging — correct, never stale.
    */
  private[graft] val PgMinBuckets = 32
  private[graft] def pgBuckets(s: SparkSession): Int =
    math.max(PgMinBuckets,
      s.conf.get("spark.sql.shuffle.partitions", PgMinBuckets.toString).toInt)
  /** The raw (unstaged) edge plan — what the stage writes, and what
    * PlanGuardSpec audits (the registered ops only ever see a
    * bucketed-table scan).
    */
  private[ops] def purchaseGraphEdgesPlan(s: SparkSession, dir: String): DataFrame = {
    val co = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    co.select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
      .unionByName(co.select((col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
  }

  private[graft] def purchaseGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Staging.memo(s, "purchase_graph", dir, Staging.snapshot(dir, "orders", "lineitem")
        .map(h => s"$h@b${pgBuckets(s)}"))(stagePurchaseGraph(s, dir))
      .map { case (et, ot) => (s.table(et), s.table(ot)) }
      .getOrElse {
        val edges = purchaseGraphEdgesPlan(s, dir).localCheckpoint()
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
          .localCheckpoint()
        (edges, outdeg)
      }

  private def stagePurchaseGraph(s: SparkSession, dir: String): Staging.Staged[(String, String)] = {
    val nb = pgBuckets(s)
    // one table pair per stage dir: the dir's unique temp suffix names it
    def tables(path: String): (String, String) = {
      val id = java.nio.file.Paths.get(path).getFileName.toString.stripPrefix("graft_pg_stage")
      (s"graft_pg_edges_$id", s"graft_pg_outdeg_$id")
    }
    val files = Staging.inTmpDir("graft_pg_stage") { path =>
      val (edgesTable, outdegTable) = tables(path)
      // repartition on the bucket key first ⇒ one file per
      // bucket, so bucket-sorted reads stay sorted
      purchaseGraphEdgesPlan(s, dir)
        .repartition(nb, col("src"))
        .write.mode("overwrite").option("path", s"$path/edges")
        .bucketBy(nb, "src").sortBy("src").saveAsTable(edgesTable)
      s.table(edgesTable).groupBy("src").agg(count(lit(1)).as("outdeg"))
        .repartition(nb, col("src"))
        .write.mode("overwrite").option("path", s"$path/outdeg")
        .bucketBy(nb, "src").sortBy("src").saveAsTable(outdegTable)
    }
    val (et, ot) = tables(files.value)
    Staging.Staged((et, ot),
      cur => files.alive(cur) && cur.catalog.tableExists(et) && cur.catalog.tableExists(ot),
      () => {
        Seq(et, ot).foreach { t =>
          try s.sql(s"DROP TABLE IF EXISTS $t")
          catch { case scala.util.control.NonFatal(_) => () }
        }
        files.free()
      })
  }

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    val (edges, outdeg) = purchaseGraph(s, dir)
    var mass = outdeg.select(col("src").as("v"), lit(1000000L).as("mass"))
    for (_ <- 1 to Iters) {
      mass = edges
        .join(mass.withColumnRenamed("v", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("v"), expr("mass DIV outdeg").as("contrib"))
        .groupBy("v").agg(sum(col("contrib")).as("inflow"))
        .select(col("v"), expr("150000L + (85 * inflow) DIV 100").as("mass"))
    }
    mass.select(col("v"),
        when(col("v") % 2 === 0, "customer").otherwise("supplier").as("entity"),
        expr("v DIV 2").as("key"), col("mass").as("mass_ppm"))
      .orderBy("v")
  }

  private val pagerankSql = {
    def step(i: Int): String =
      s"""c$i AS (SELECT e.dst AS v, sum(m.mass // od.outdeg) AS inflow
        |  FROM e JOIN m${i - 1} m ON e.src = m.v JOIN od ON e.src = od.src GROUP BY 1),
        |m$i AS (SELECT v, CAST(150000 + (85 * inflow) // 100 AS BIGINT) AS mass FROM c$i)""".stripMargin
    s"""WITH co AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT c*2 AS src, sp*2+1 AS dst FROM co
      |      UNION ALL SELECT sp*2+1, c*2 FROM co),
      |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      |m0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS mass FROM od),
      |${(1 to Iters).map(step).mkString(",\n")}
      |SELECT v, CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
      |  v // 2 AS key, mass AS mass_ppm
      |FROM m$Iters
      |ORDER BY v""".stripMargin
  }

  // ---------------------------------------------------------------
  // graph_pagerank_converged — the same exact integer-ppm PageRank,
  // but iterated to a RESIDUAL STOP instead of a fixed unroll: rounds
  // continue while max_v |Δmass(v)| > PrTolPpm, so the round count is
  // bound by the DATA (the graph's mixing time) and not by the code —
  // the property that makes "iterative graph algebra" a general
  // claim rather than a 3-superstep special case. Measured on the
  // gate corpus the walk needs ~36 rounds to reach a 5% residual
  // (the bipartite graph's period-2 oscillation makes the decay
  // slower than the 0.85 damping factor suggests, and exact integer
  // truncation means an EXACT fixed point is never reached — both
  // engines measured round-identical masses, which is why the stop
  // must be a tolerance, not equality). A loud cap (PrMaxRounds)
  // turns non-convergence into an error, never silent wrong output;
  // n_rounds is emitted as a column so the hash gate proves the two
  // engines stopped after the SAME data-bound round count.
  //
  // Plan shape per round: identical to graph_pagerank's superstep
  // (the src-bucketed edge table scans exchange-free; only the
  // skinny mass relation and the dst aggregate shuffle), plus ONE
  // driver-read scalar (the residual max — an
  // aggregate of a |V|-sized join, the same config-sized action the
  // CC engine's convergence test does). localCheckpoint truncation
  // per round keeps the plan O(1) across an unbounded round count,
  // and Rounds.free releases each superseded mass relation — at
  // 100 TB the mass is one skinny (v, mass) relation co-partitioned
  // with the edge list, and rounds cost |E| each regardless of how
  // many the tolerance demands.
  // ---------------------------------------------------------------
  private[graft] val PrTolPpm = 50000L
  private[graft] val PrMaxRounds = 80

  /** The converged-PageRank fixpoint as a SHARED per-snapshot artifact
    * (r14 VERDICT item 6): the loop's per-round residuals were already
    * computed (they ARE the stop test) but thrown away; now the loop
    * returns (final mass, the round→residual curve) and is staged in
    * the [[Staging]] memo per corpus snapshot, so
    * graph_pagerank_converged and graph_pagerank_residuals split ONE
    * ~36-round run instead of each paying it. Re-billed by Bench's
    * timed staging phase (line `pr_fixpoint`). Zero extra jobs per
    * round: the curve rows are the driver-side scalars the residual
    * action already returned. The stage is alive only for the session
    * that built it (its checkpoint blocks die with that session's
    * executors); freeing it releases those blocks.
    */
  private[graft] def prFixpoint(s: SparkSession, dir: String): (DataFrame, Seq[(Long, Long)]) =
    Staging.memo(s, "pr_fixpoint", dir, Staging.snapshot(dir, "orders", "lineitem")) {
      val (m, ids, curve) = prFixpointComputed(s, dir)
      Staging.Staged((m, curve), _ eq m.sparkSession, () => Rounds.freeQuietly(m, ids))
    }.getOrElse {
      val (m, _, curve) = prFixpointComputed(s, dir)
      (m, curve)
    }

  private def prFixpointComputed(
      s: SparkSession, dir: String): (DataFrame, Set[Int], Seq[(Long, Long)]) = {
    val (edges, outdeg) = purchaseGraph(s, dir)
    var (mass, massIds) = Rounds.checkpoint(
      outdeg.select(col("src").as("v"), lit(1000000L).as("mass")))
    var residual = Long.MaxValue
    var rounds = 0
    var curve = Vector.empty[(Long, Long)]
    // one superstep + the carried previous mass — EXACTLY the r15
    // per-round relation: the residual is a map-side scan of the
    // round's own checkpoint blocks, never a second |V|-join job
    // (at sf1 the separate residual job was ~half the op's cost)
    def stepWithPrev(m: DataFrame): DataFrame = edges
      .join(m.withColumnRenamed("v", "src"), "src")
      .join(outdeg, "src")
      .select(col("dst").as("v"), expr("mass DIV outdeg").as("contrib"))
      .groupBy("v").agg(sum(col("contrib")).as("inflow"))
      .select(col("v"), expr("150000L + (85 * inflow) DIV 100").as("mass"))
      .join(m.select(col("v"), col("mass").as("prev")), "v")
    try {
      while (residual > PrTolPpm && rounds < PrMaxRounds) {
        if (rounds + 1 >= PrMaxRounds) {
          // cap boundary: only one more round is allowed — the r15
          // single-superstep body, unchanged
          val (next, ids) = Rounds.checkpoint(eager = false, df = stepWithPrev(mass))
          try residual = next.agg(max(abs(col("mass") - col("prev")))).head().getLong(0)
          catch { case e: Throwable => Rounds.freeQuietly(next, ids); throw e }
          Rounds.free(mass, massIds)
          mass = next.select(col("v"), col("mass"))
          massIds = ids
          rounds += 1
          curve :+= ((rounds.toLong, residual))
        } else {
          // TWO supersteps per checkpoint/action (r16, VERDICT item
          // 3): at sf0.1 the ~36 data-bound rounds are per-job
          // scheduler constants, so halving the job count halves the
          // loop's fixed cost. Constructed as exactly two r15 rounds
          // fused: round a's relation is LAZY-checkpointed (computed
          // once — round b's input AND the union branch read the same
          // RDD via block cache), both rounds ride ONE tagged union
          // relation, and ONE aggregate action returns both residuals
          // while materializing both checkpoints. If round a already
          // met the tolerance, round b's columns are discarded —
          // wasted work on the final pair only, never a semantics
          // change (curve, n_rounds and the emitted masses are
          // row-identical to the single-step loop; the oracle's
          // recursive CTE pins that).
          val (s1, s1Ids) = Rounds.checkpoint(eager = false, df = stepWithPrev(mass))
          val m1 = s1.select(col("v"), col("mass"))
          val (next, ids) = Rounds.checkpoint(eager = false, df =
            stepWithPrev(m1)
              .select(col("v"), col("mass"), col("prev"), lit(2).as("rnd"))
              .unionByName(
                s1.select(col("v"), col("mass"), col("prev"), lit(1).as("rnd"))))
          val (r1, r2) =
            try pairResiduals(next)
            catch { case e: Throwable =>
              Rounds.freeQuietly(next, ids)
              Rounds.freeQuietly(s1, s1Ids)
              throw e
            }
          Rounds.free(mass, massIds)
          Rounds.free(s1, s1Ids) // next is materialized; round a's blocks are superseded
          massIds = ids
          rounds += 1
          curve :+= ((rounds.toLong, r1))
          residual = r1
          r2 match {
            case Some(rb) if r1 > PrTolPpm =>
              rounds += 1
              curve :+= ((rounds.toLong, rb))
              residual = rb
              mass = next.filter(col("rnd") === 2).select(col("v"), col("mass"))
            case _ =>
              mass = next.filter(col("rnd") === 1).select(col("v"), col("mass"))
          }
        }
      }
      if (residual > PrTolPpm)
        throw new IllegalStateException(
          s"graph_pagerank_converged: residual $residual ppm > $PrTolPpm " +
            s"after $PrMaxRounds rounds — graph mixing slower than the cap allows")
    } catch {
      // failure path: the loop's storage (incl. the final round on the
      // cap-exceeded throw) must not stay parked — same convention as
      // Cc.minLabelComponents
      case e: Throwable =>
        Rounds.freeQuietly(mass, massIds)
        throw e
    }
    (mass, massIds, curve)
  }

  /** The fused pair's residuals in ONE action over its tagged union:
    * round a's, and round b's unless round b has no rows — its max is
    * then NULL, and the pair keeps round a's result.
    */
  private[graft] def pairResiduals(pair: DataFrame): (Long, Option[Long]) = {
    val row = pair.agg(
      max(when(col("rnd") === 1, abs(col("mass") - col("prev")))),
      max(when(col("rnd") === 2, abs(col("mass") - col("prev"))))).head()
    (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1)))
  }

  private def pagerankConverged(s: SparkSession, dir: String): DataFrame = {
    val (mass, curve) = prFixpoint(s, dir)
    mass.select(col("v"),
        when(col("v") % 2 === 0, "customer").otherwise("supplier").as("entity"),
        expr("v DIV 2").as("key"), col("mass").as("mass_ppm"),
        lit(curve.size.toLong).as("n_rounds"))
      .orderBy("v")
  }

  // ---------------------------------------------------------------
  // graph_pagerank_residuals — the fixpoint's ROUND→RESIDUAL decay
  // curve as gated data (r14 VERDICT item 6): the operator-facing
  // question for any tolerance-stopped walk is "how many |E|-cost
  // rounds does tolerance X buy me", and the answer was already being
  // computed every round (the residual IS the stop test) then thrown
  // away. One row per round with that round's max_v |Δmass(v)| in
  // ppm; the curve plus graph_pagerank_converged's n_rounds lets an
  // operator read the marginal cost of tightening PrTolPpm straight
  // off gated data (the sim_descent_curve treatment for the graph
  // family). Zero extra distributed work: both ops read the shared
  // memoized fixpoint, and the curve rows are driver-side scalars.
  // ---------------------------------------------------------------
  private def pagerankResiduals(s: SparkSession, dir: String): DataFrame = {
    val (_, curve) = prFixpoint(s, dir)
    import s.implicits._
    curve.toDF("round", "max_residual_ppm").orderBy("round")
  }

  /** The oracle replicates the data-bound loop with a recursive CTE:
    * the working table is the previous round's mass relation, the
    * recursive term is one superstep (join + aggregate), and the stop
    * rule gates on the previous level's max residual — the `it <=
    * PrMaxRounds` guard only prevents a hang if the cap is ever hit
    * (Spark throws loudly in that case, failing the gate anyway).
    */
  /** The data-bound recursive loop, shared verbatim by the converged
    * op's oracle and the residual-curve oracle (per-round deltas are
    * already a column of the working table).
    */
  private val prRecursiveCtes =
    s"""WITH RECURSIVE co AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT c*2 AS src, sp*2+1 AS dst FROM co
      |      UNION ALL SELECT sp*2+1, c*2 FROM co),
      |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      |pr(it, v, mass, delta) AS (
      |  SELECT 0, src, CAST(1000000 AS BIGINT), CAST(1000000 AS BIGINT) FROM od
      |  UNION ALL
      |  SELECT nxt.it, nxt.v, nxt.mass, abs(nxt.mass - prev.mass)
      |  FROM (
      |    SELECT p.it + 1 AS it, e.dst AS v,
      |           CAST(150000 + (85 * sum(p.mass // od.outdeg)) // 100 AS BIGINT) AS mass
      |    FROM pr p JOIN e ON p.v = e.src JOIN od ON e.src = od.src
      |    WHERE p.it = (SELECT max(it) FROM pr)
      |    GROUP BY p.it, e.dst
      |  ) nxt
      |  JOIN pr prev ON prev.v = nxt.v AND prev.it = nxt.it - 1
      |  WHERE (SELECT max(delta) FROM pr WHERE it = nxt.it - 1) > $PrTolPpm
      |    AND nxt.it <= $PrMaxRounds
      |)""".stripMargin

  private val pagerankConvergedSql =
    s"""$prRecursiveCtes
      |SELECT v, CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
      |  v // 2 AS key, mass AS mass_ppm,
      |  CAST((SELECT max(it) FROM pr) AS BIGINT) AS n_rounds
      |FROM pr WHERE it = (SELECT max(it) FROM pr)
      |ORDER BY v""".stripMargin

  private val pagerankResidualsSql =
    s"""$prRecursiveCtes
      |SELECT CAST(it AS BIGINT) AS round, CAST(max(delta) AS BIGINT) AS max_residual_ppm
      |FROM pr WHERE it >= 1
      |GROUP BY it
      |ORDER BY round""".stripMargin

  // ---------------------------------------------------------------
  // graph_triangles — triangle counting + local clustering
  // coefficient over the symmetrized kNN graph (the one
  // sim_knn_graph stages and gates): the neighborhood-density audit
  // of an embedding space. Triangle-dense vertices sit in genuine
  // clique-like duplicate/topic families; triangle-free high-degree
  // vertices are hubness artifacts or chain false positives — the
  // exact cases SemDeDup-style semantic dedup over-merges on, so a
  // curation pipeline reads this before trusting connected
  // components over the same graph.
  //
  // Algorithm: degree-ordered edge orientation (Schank–Wagner /
  // Cohen's MapReduce formulation — public-domain classics): orient
  // every undirected edge from its (degree, id)-smaller endpoint to
  // the larger; each triangle then has exactly ONE vertex with two
  // out-edges, so wedges (u→v, u→w with v ≺ w) joined against the
  // oriented edge v→w count each triangle once. Orientation bounds
  // the wedge fan-out by the max ORIENTED out-degree ≤ O(√|E|)
  // regardless of raw degree skew — a celebrity vertex with 10⁷
  // neighbors generates no wedges because its edges all point INTO
  // it; on a kNN graph out-degree is additionally ≤ 2k by
  // construction. All joins are equality joins on 8-byte vertex ids;
  // per-vertex counts partial-aggregate map-side. At 100 TB the edge
  // relation is the staged artifact (pre-partitioned by src), and
  // every step is one bounded shuffle of skinny id rows — nothing
  // quadratic survives.
  //
  // Exact integers end to end: counts are counts, and the local
  // clustering coefficient is published in truncating integer ppm —
  // cc_ppm = (2·10⁶·n_tri) DIV (deg·(deg−1)) — so the hash gate is
  // engine- and order-stable.
  // ---------------------------------------------------------------
  private def triangles(s: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraphStaged(s, dir)
    // symmetrize: the kNN relation is directed (i's top-k); the
    // underlying similarity graph is not
    val ue = g.select(
        least(col("vec_id"), col("neighbor_id")).as("a"),
        greatest(col("vec_id"), col("neighbor_id")).as("b"))
      .distinct()
    val dg = ue.select(col("a").as("v"))
      .unionAll(ue.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val da = dg.select(col("v").as("a"), col("deg").as("dega"))
    val db = dg.select(col("v").as("b"), col("deg").as("degb"))
    // orient a→b when (deg, id)(a) ≺ (deg, id)(b); carry the dst's
    // (deg, id) so the wedge join can order v ≺ w without re-joining
    val o = ue.join(da, "a").join(db, "b")
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"),
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("degb"))
          .otherwise(col("dega")).as("ddeg"))
    val o1 = o.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val o2 = o.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = o1.join(o2, "src")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    val tri = wedges.join(
      o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val part = tri.select(col("u").as("x"))
      .unionAll(tri.select(col("v").as("x")))
      .unionAll(tri.select(col("w").as("x")))
      .groupBy("x").agg(count(lit(1)).as("n_tri"))
    dg.join(part.withColumnRenamed("x", "v"), Seq("v"), "left")
      .select(col("v").as("vec_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_ppm",
        when(col("degree") >= 2,
          expr("(2 * 1000000 * n_tri) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy("vec_id")
  }

  private val trianglesSql =
    s"""${Similarity.knnEdgesDuck},
      |ue AS MATERIALIZED (SELECT DISTINCT least(vec_id, neighbor_id) AS a,
      |                       greatest(vec_id, neighbor_id) AS b FROM g),
      |dg AS MATERIALIZED (SELECT v, count(*) AS deg
      |       FROM (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) z GROUP BY 1),
      |o AS MATERIALIZED (SELECT CASE WHEN (da.deg, ue.a) < (db.deg, ue.b) THEN ue.a ELSE ue.b END AS src,
      |             CASE WHEN (da.deg, ue.a) < (db.deg, ue.b) THEN ue.b ELSE ue.a END AS dst,
      |             CASE WHEN (da.deg, ue.a) < (db.deg, ue.b) THEN db.deg ELSE da.deg END AS ddeg
      |      FROM ue JOIN dg da ON ue.a = da.v JOIN dg db ON ue.b = db.v),
      |tri AS MATERIALIZED (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
      |        FROM o o1 JOIN o o2 ON o1.src = o2.src
      |          AND ((o1.ddeg, o1.dst) < (o2.ddeg, o2.dst))
      |        JOIN o oc ON oc.src = o1.dst AND oc.dst = o2.dst),
      |part AS (SELECT x, count(*) AS n_tri FROM (
      |           SELECT u AS x FROM tri UNION ALL SELECT v FROM tri
      |           UNION ALL SELECT w FROM tri) z GROUP BY 1)
      |SELECT dg.v AS vec_id, dg.deg AS degree,
      |  CAST(coalesce(part.n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST(CASE WHEN dg.deg >= 2
      |    THEN (2 * 1000000 * coalesce(part.n_tri, 0)) // (dg.deg * (dg.deg - 1))
      |    ELSE 0 END AS BIGINT) AS cc_ppm
      |FROM dg LEFT JOIN part ON dg.v = part.x
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // graph_link_predict — co-citation link prediction over the staged
  // kNN graph: for every non-adjacent pair (a, b) that some vertex u
  // points to together (u→a AND u→b in its top-k list), score the
  // missing edge by its co-recommendation count and the Jaccard of
  // the two in-neighbor sets — the "users who bought X also bought Y"
  // primitive, and on an embedding kNN graph the candidate generator
  // for "these two documents are probably near-dups the index
  // missed".
  //
  // The scale argument is the WEDGE DIRECTION: wedges centered on
  // common IN-neighbors (u→a, u→b) are bounded by C(k,2) = 3 per
  // vertex regardless of skew — a hub vertex with 10⁶ in-links
  // contributes the same 3 wedges as anyone else, because its OWN
  // out-list is k long by construction. Centering on common
  // out-neighbors instead (a→u, b→u) would be in-degree-quadratic and
  // die on hubs. |wedges| = N·C(k,2) exactly; everything downstream
  // is equality joins on 8-byte pair keys, map-side combined.
  // Jaccard is over in-neighbor sets (|in(a) ∪ in(b)| denominators
  // from the in-degree relation), truncating-DIV ppm so the gate is
  // engine-stable; ranked output carries a strict total order.
  // ---------------------------------------------------------------
  private val LpTopN = 50

  private def linkPredict(s: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraphStaged(s, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    // undirected adjacency (for the "already linked" exclusion)
    val und = g.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val indeg = g.groupBy(col("dst").as("v")).agg(count(lit(1)).as("indeg"))
    // wedges from each vertex's own k-bounded out-list: u→a, u→b, a<b
    val o1 = g.select(col("src").as("u"), col("dst").as("a"))
    val o2 = g.select(col("src").as("u"), col("dst").as("b"))
    val cand = o1.join(o2, "u").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .join(und, Seq("a", "b"), "left_anti")
    val scored = cand
      .join(indeg.select(col("v").as("a"), col("indeg").as("ina")), "a")
      .join(indeg.select(col("v").as("b"), col("indeg").as("inb")), "b")
      .withColumn("jaccard_ppm",
        expr("n_common * CAST(1000000 AS BIGINT) DIV (ina + inb - n_common)"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_common").desc, col("jaccard_ppm").desc, col("a"), col("b"))
    // global rank over the |candidates| relation (≤ 3N pairs, already
    // aggregated): TakeOrdered on a skinny relation, never the corpus
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= LpTopN)
      .select("rank", "a", "b", "n_common", "ina", "inb", "jaccard_ppm")
      .orderBy("rank")
  }

  private val linkPredictSql =
    s"""${Similarity.knnEdgesDuck},
      |ed AS MATERIALIZED (SELECT vec_id AS src, neighbor_id AS dst FROM g),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed),
      |indeg AS (SELECT dst AS v, count(*) AS indeg FROM ed GROUP BY 1),
      |lpc AS (
      |  SELECT o1.dst AS a, o2.dst AS b, count(*) AS n_common
      |  FROM ed o1 JOIN ed o2 ON o1.src = o2.src AND o1.dst < o2.dst
      |  GROUP BY 1, 2),
      |nonadj AS (SELECT lpc.* FROM lpc
      |           LEFT JOIN und ON lpc.a = und.a AND lpc.b = und.b
      |           WHERE und.a IS NULL),
      |scored AS (
      |  SELECT n.a, n.b, n.n_common, ia.indeg AS ina, ib.indeg AS inb,
      |    CAST(n.n_common * 1000000 // (ia.indeg + ib.indeg - n.n_common) AS BIGINT) AS jaccard_ppm
      |  FROM nonadj n JOIN indeg ia ON n.a = ia.v JOIN indeg ib ON n.b = ib.v),
      |lpr AS (SELECT *, CAST(row_number() OVER (ORDER BY n_common DESC, jaccard_ppm DESC, a, b) AS INT) AS rank
      |      FROM scored)
      |SELECT rank, a, b, n_common, ina, inb, jaccard_ppm FROM lpr WHERE rank <= $LpTopN
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------
  // graph_bfs — multi-source breadth-first distance over the
  // symmetrized staged kNN graph: hop distance from the seed set
  // (vec_id < 5) out to 3 hops — the "how far is everything from the
  // flagged cluster" query behind contamination blast-radius audits
  // (seed = known-bad docs, dist = how many near-dup hops away) and
  // graph-ANN entry-point analysis. The FRONTIER formulation, not
  // pointer jumping: per round, join the current frontier to the edge
  // relation, anti-join everything already labeled, min-aggregate new
  // vertices — each round touches frontier×k edges, never the whole
  // graph; 3 unrolled rounds keep the plan bounded (a 100 TB run
  // would loop with localCheckpoint like dedup's CC engine, one
  // bounded shuffle pair per round).
  //
  // Exactness: distances are small integers; ties (a vertex reached
  // from two frontier vertices in the same round) collapse in the
  // min/distinct — order-independent, hash-stable.
  // ---------------------------------------------------------------
  private val BfsSeeds = 5L
  private val BfsRounds = 3

  private def bfs(s: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraphStaged(s, dir)
    val edges = g.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .unionAll(g.select(col("neighbor_id").as("src"), col("vec_id").as("dst")))
      .distinct()
    val seeds = g.select(col("vec_id").as("v")).unionAll(g.select(col("neighbor_id").as("v")))
      .filter(col("v") < BfsSeeds).distinct()
      .withColumn("dist", lit(0L))
    // truncate lineage each round: `next` reads BOTH frontier and
    // labeled — without checkpoints the final plan embeds the whole
    // cascade ~2^rounds times (6.1s at sf0.1, ~same at sf0.01: plan
    // cost, not data). `labeled` stays a UNION of the checkpointed
    // round frontiers (the harmonic_landmarks r15 shape): one
    // checkpoint job per round instead of two, no cumulative rewrite
    // of prior rounds, and the storage pinned at the end — all round
    // frontiers — is row-identical to the final labeled checkpoint
    // the old shape kept.
    var labeled = seeds
    var frontier = seeds
    var spent = List.empty[(DataFrame, Set[Int])]
    try {
      for (k <- 1 to BfsRounds) {
        val (next, nextIds) = Rounds.checkpoint(
          frontier.join(edges, frontier("v") === edges("src"))
            .select(col("dst").as("v")).distinct()
            .join(labeled.select("v"), Seq("v"), "left_anti")
            .withColumn("dist", lit(k.toLong)))
        spent = (next, nextIds) :: spent
        frontier = next
        labeled = labeled.unionByName(next)
      }
    } catch {
      case e: Throwable =>
        spent.foreach { case (df, ids) => Rounds.freeQuietly(df, ids) }
        throw e
    }
    labeled.orderBy("v")
  }

  // Oracle formulation (r13): MIN WALK LENGTH, not frontier-with-
  // anti-join — a vertex's shortest-path distance is the minimum
  // length over ALL walks from the seed set (a walk of length k
  // exists for every k-hop expansion, and min over k = 0..rounds of
  // "reachable in exactly k hops" is exactly the BFS distance, with
  // vertices beyond `rounds` hops absent from every f_k). Equivalent
  // to the Spark frontier loop's output by construction, but the SQL
  // plan is BOUNDED: no NOT EXISTS anti-join per round, no l0..lK
  // cascade where l_{k-1} is referenced twice per round (the r12
  // sweep's oracle died OOM in exactly that O(rounds²) CTE re-
  // expansion). `bedges` is MATERIALIZED — it is referenced
  // rounds+1 times and fronts the whole staged-grid derivation
  // chain, so inlining it would re-derive the grid per round.
  private val bfsSql = {
    val rounds = (1 to BfsRounds).map { k =>
      s"""f$k AS MATERIALIZED (SELECT DISTINCT e.dst AS v
        |  FROM f${k - 1} f JOIN bedges e ON f.v = e.src)""".stripMargin
    }.mkString(",\n")
    val walks = (0 to BfsRounds).map { k =>
      s"SELECT v, CAST($k AS BIGINT) AS dist FROM f$k"
    }.mkString("\n      UNION ALL ")
    s"""${Similarity.knnEdgesDuck},
      |bedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |    SELECT vec_id AS src, neighbor_id AS dst FROM g
      |    UNION ALL SELECT neighbor_id, vec_id FROM g) z),
      |f0 AS (SELECT DISTINCT src AS v FROM bedges WHERE src < $BfsSeeds),
      |$rounds
      |SELECT v, min(dist) AS dist FROM (
      |  $walks) u
      |GROUP BY v
      |ORDER BY v""".stripMargin
  }

  // ---------------------------------------------------------------
  // graph_lpa — synchronous label propagation (community detection)
  // over the symmetrized staged kNN graph: labels start as vertex
  // ids; each round every vertex adopts the MOST FREQUENT label among
  // its neighbors (ties → smallest label — the determinism knob that
  // makes an LPA face a hash gate at all; classic async LPA is
  // run-order-dependent by construction). Three unrolled rounds.
  // Communities differ from connected components (dedup_clusters'
  // output): LPA splits a weakly-bridged component into its dense
  // cores, which is what topic/near-dup FAMILY discovery wants —
  // components only say "reachable", LPA says "belongs".
  //
  // Plan per round: one equality join of the label relation to the
  // edge relation on src (shuffle on 8-byte ids), one
  // map-side-combined count per (dst, label), one per-dst window
  // argmax — the window partitions by vertex (max k rows each; never
  // global) and sits above an Aggregate. Edges localCheckpoint once,
  // reused all rounds. At 100 TB: per-superstep cost is |E| join
  // rows, label relation persists between rounds — same staging
  // contract as pagerank/bfs.
  // ---------------------------------------------------------------
  private val LpaRounds = 3

  /** Symmetrized distinct edge relation of the staged kNN graph. */
  private def symEdges(s: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraphStaged(s, dir)
    g.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .unionAll(g.select(col("neighbor_id").as("src"), col("vec_id").as("dst")))
      .distinct()
  }

  /** LPA fixpoint labels (v, label) over `edges` — shared by the
    * community op and the modularity audit.
    */
  private def lpaLabels(edges: DataFrame): DataFrame = {
    var lab = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
    for (_ <- 1 to LpaRounds) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dst").orderBy(col("cnt").desc, col("label").asc)
      lab = edges.join(lab.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("v"), col("label"))
    }
    lab
  }

  private def lpa(s: SparkSession, dir: String): DataFrame = {
    val edges = symEdges(s, dir).localCheckpoint()
    val lab = lpaLabels(edges)
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "label")
      .select(col("v").as("vec_id"), col("label").as("community"),
        col("community_size"))
      .orderBy("vec_id")
  }

  /** Shared oracle fragment: kNN edges + symmetrized `ledges` + the
    * LPA fixpoint CTEs (final labels in `lv{LpaRounds}`).
    */
  private val lpaDuckCtes = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""lv$i AS MATERIALIZED (
        |  SELECT dst AS v, label FROM (
        |    SELECT e.dst, l.label, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY e.dst
        |        ORDER BY count(*) DESC, l.label) AS rn
        |    FROM ledges e JOIN lv${i - 1} l ON e.src = l.v
        |    GROUP BY e.dst, l.label) z
        |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${Similarity.knnEdgesDuck},
      |ledges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |    SELECT vec_id AS src, neighbor_id AS dst FROM g
      |    UNION ALL SELECT neighbor_id, vec_id FROM g) z),
      |lv0 AS (SELECT DISTINCT src AS v, src AS label FROM ledges),
      |$rounds""".stripMargin
  }

  private val lpaSql =
    s"""$lpaDuckCtes,
      |sz AS (SELECT label, count(*) AS community_size FROM lv$LpaRounds GROUP BY 1)
      |SELECT l.v AS vec_id, l.label AS community, sz.community_size
      |FROM lv$LpaRounds l JOIN sz ON l.label = sz.label
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // graph_modularity — Newman modularity decomposition of the LPA
  // communities over the same symmetrized kNN graph: per community,
  // Q_c = e_c/m − (d_c/2m)², published in truncating integer ppm
  // (e_c·10⁶ DIV m − d_c²·10⁶ DIV 4m²) with the community's vertex /
  // internal-edge / degree-sum bookkeeping — the audit that says
  // whether the communities are REAL structure (ΣQ_c ≫ 0) or
  // partition noise (≈ 0), read before anyone trusts the labels for
  // redundancy capping. Composes the gated LPA labels with the gated
  // edge relation, so the quality score is itself oracle-proven.
  //
  // Plan shape: labels join the undirected edge relation twice (both
  // endpoints, 8-byte keys), then two map-side-combined aggregates
  // (per-community internal edges; per-community degree mass). m and
  // the per-community rows are |communities|-sized. At 100 TB the
  // labels and edges are the staged artifacts; nothing here adds a
  // corpus pass.
  // ---------------------------------------------------------------
  private def modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = symEdges(s, dir).localCheckpoint()
    val lab = lpaLabels(edges)
    val ue = edges.filter(col("src") < col("dst"))
    val la = lab.select(col("v").as("src"), col("label").as("ca"))
    val lb = lab.select(col("v").as("dst"), col("label").as("cb"))
    val m = ue.count()
    val internal = ue.join(la, "src").join(lb, "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val degs = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val dsum = lab.join(degs, "v")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("degree_sum"))
    dsum.join(internal, Seq("community"), "left")
      .withColumn("internal_edges", coalesce(col("internal_edges"), lit(0L)))
      // Both DIV operands of the d_c²·10⁶/4m² term are positive, so
      // Spark's truncating DIV and DuckDB's flooring // agree — which
      // lets each engine use its own wide type for the products:
      // DECIMAL(38,0) here, HUGEINT in the oracle. Interpolating $m
      // bare would parse as an INT literal and (4*m*m) overflows INT
      // at m>23,170 (ANSI mode ⇒ hard failure); d_c²·10⁶ similarly
      // outgrows BIGINT at degree mass ≥3×10⁶. The decimal algebra
      // keeps the op exact to ~10³⁸, far past any real edge count.
      .withColumn("modularity_ppm", expr(
        s"internal_edges * CAST(1000000 AS BIGINT) DIV $m" +
          s" - CAST((CAST(degree_sum AS DECIMAL(38,0)) * degree_sum * 1000000)" +
          s" DIV (CAST(4 AS DECIMAL(38,0)) * $m * $m) AS BIGINT)"))
      .select("community", "n_vertices", "internal_edges", "degree_sum",
        "modularity_ppm")
      .orderBy("community")
  }

  private val modularitySql =
    s"""$lpaDuckCtes,
      |ue AS (SELECT src, dst FROM ledges WHERE src < dst),
      |mm AS (SELECT count(*) AS m FROM ue),
      |inte AS (SELECT la.label AS community, count(*) AS internal_edges
      |         FROM ue JOIN lv$LpaRounds la ON ue.src = la.v
      |                 JOIN lv$LpaRounds lb ON ue.dst = lb.v
      |         WHERE la.label = lb.label GROUP BY 1),
      |degs AS (SELECT src AS v, count(*) AS deg FROM ledges GROUP BY 1),
      |dsum AS (SELECT l.label AS community, count(*) AS n_vertices,
      |           sum(d.deg) AS degree_sum
      |         FROM lv$LpaRounds l JOIN degs d ON l.v = d.v GROUP BY 1)
      |SELECT d.community, CAST(d.n_vertices AS BIGINT) AS n_vertices,
      |  CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
      |  CAST(d.degree_sum AS BIGINT) AS degree_sum,
      |  CAST(coalesce(i.internal_edges, 0) * 1000000 // mm.m
      |    - (CAST(d.degree_sum AS HUGEINT) * d.degree_sum * 1000000)
      |      // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS modularity_ppm
      |FROM dsum d LEFT JOIN inte i ON d.community = i.community CROSS JOIN mm
      |ORDER BY d.community""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("graph_lpa", lpa, Some(lpaSql)),
    Op("graph_modularity", modularity, Some(modularitySql)),
    Op("graph_pagerank", pagerank, Some(pagerankSql)),
    Op("graph_pagerank_converged", pagerankConverged, Some(pagerankConvergedSql)),
    Op("graph_pagerank_residuals", pagerankResiduals, Some(pagerankResidualsSql)),
    Op("graph_triangles", triangles, Some(trianglesSql)),
    Op("graph_link_predict", linkPredict, Some(linkPredictSql)),
    Op("graph_bfs", bfs, Some(bfsSql)))
}
