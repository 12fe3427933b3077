package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Bookkeeping for iterative-loop checkpoints. `localCheckpoint`
  * truncates lineage (keeps per-round replans O(1)) but parks the
  * round's blocks in executor storage, and the checkpointed RDD is
  * not reachable through a public Dataset API — so superseded rounds
  * are tracked by diffing `sc.getPersistentRDDs` ids around the
  * checkpoint call, then INTERSECTING the diff with the returned
  * Dataset's own RDD lineage. The intersection is what makes the
  * capture safe under concurrent op execution: a neighbor's
  * concurrently-persisted RDD can appear in the keySet diff but can
  * never appear in this Dataset's dependency walk, so [[free]] can
  * only ever unpersist blocks this loop created. That matters
  * because unpersisting someone else's LOCALLY checkpointed RDD is
  * not recoverable — localCheckpoint truncates lineage, so Spark
  * cannot recompute the blocks and later access fails; an id-diff
  * alone would risk exactly that. (Same freeing convention as the
  * dedup CC engine at Dedup.clustersComputed.)
  *
  * Also home of [[partitionsFor]], the size-derived partition count.
  */
private[graft] object Rounds {

  /** The shuffle partition count for `bytes` of input:
    * `ceil(bytes / advisory)`, clamped to `[1, cap]`. AQE coalesces a
    * batch shuffle to the advisory size after the fact; a plan that
    * cannot coalesce, such as a stream whose state partitioning is fixed
    * at its first batch, applies the same size up front.
    */
  def partitionsFor(bytes: Long, advisory: Long, cap: Int): Int = {
    require(advisory > 0, s"advisory partition size must be positive, got $advisory")
    val n = bytes / advisory + (if (bytes % advisory == 0) 0 else 1)
    math.max(1L, math.min(cap.toLong, n)).toInt
  }

  /** [[partitionsFor]] under `s`'s confs: the advisory size is
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the cap the
    * session's `spark.sql.shuffle.partitions`.
    */
  def partitionsFor(s: SparkSession, bytes: Long): Int = {
    val conf = s.sessionState.conf
    partitionsFor(bytes, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.getConf(SQLConf.SHUFFLE_PARTITIONS))
  }

  /** Checkpoint `df`, returning it plus the persisted RDD ids the
    * call created within `df`'s own lineage (pass them to [[free]]
    * once the round is superseded). With `eager = false` the
    * checkpoint job is NOT run here: the blocks materialize inside
    * the CALLER'S next action over the returned Dataset (e.g. a
    * convergence-residual aggregate), folding what would be two jobs
    * per round into one. Caller contract when lazy: run an action
    * over the returned Dataset BEFORE freeing the previous round's
    * ids — unpersisting the inputs of a never-materialized local
    * checkpoint is unrecoverable (lineage is already truncated).
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint(eager)
    val created = sc.getPersistentRDDs.keySet.toSet -- before
    (out, created.intersect(lineageIds(out.queryExecution.toRdd)))
  }

  def free(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** [[free]] for FAILURE paths: swallows secondary errors (e.g. a
    * dead SparkContext after an executor loss) so the cleanup inside
    * a catch block can never mask the original Throwable being
    * rethrown. Success-path frees keep using [[free]] — there an
    * unpersist failure is worth surfacing.
    */
  def freeQuietly(df: DataFrame, ids: Set[Int]): Unit =
    try free(df, ids) catch { case _: Throwable => () }

  /** The persisted RDD ids behind `df`'s checkpointed leaves (its
    * LogicalRDD scans) — what a one-shot consumer of `df`, done with
    * it, may pass to [[free]] after removing the ids it does not own.
    */
  def leafCheckpoints(df: DataFrame): Set[Int] = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs.keySet
    df.queryExecution.logical.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.LogicalRDD => lineageIds(r.rdd)
    }.flatten.toSet.filter(persisted.contains)
  }

  /** All RDD ids reachable through `rdd`'s dependency graph
    * (including itself). The checkpointed block manager RDD is an
    * ancestor of the returned Dataset's physical scan, so it is
    * always in this set.
    */
  private def lineageIds(rdd: RDD[_]): Set[Int] = {
    val seen = scala.collection.mutable.Set[Int]()
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    walk(rdd)
    seen.toSet
  }
}
