package graft.streaming

import org.apache.spark.sql.SparkSession

/** Snapshot-keyed memo of fully-choreographed streaming SOURCE
  * directories (r13 VERDICT item 3): the 20 stream gates each staged
  * their own mtime-ordered micro-batch directory per invocation, and
  * that staging — corpus read + parquet rewrite + sentinel/mtime
  * choreography — was the family's dominant fixed cost (42.6 s = 18%
  * of the sf0.1 gate, with the sf0.1 > sf1 inversion on
  * stream_two_phase_agg proving the constants dominate the data
  * work). Every gate completes its staging BEFORE the drain starts
  * (sentinel batches and mtime stamps included), so a staged dir is
  * immutable once built — exactly the once-per-JVM-per-corpus-
  * snapshot shape Dedup's bandStageMemo already amortizes for the
  * dedup artifacts.
  *
  * Keying matches [[graft.ops.Dedup.stagedBySnapshot]]: (corpus dir @
  * events-snapshot-hash, shape). A rewritten events table re-stages
  * and evicts the superseded dir; a staged path reaped from /tmp
  * re-stages instead of poisoning the JVM; a non-local dir (no usable
  * snapshot) skips the memo and stages fresh — correct, never stale.
  * Drains stay per-op: every query starts from a fresh checkpoint
  * (EventStream.drain / withCheckpoint, which delete it once the query
  * has terminated), so FileStreamSource re-reads the shared dir's
  * files in the same (mtime, path) order every time.
  *
  * Billing discipline (the resetPairStage rule): Bench resets this
  * memo between its warmup and timed phases and rebuilds every shape
  * in the TIMED staging block, so cross-op/cross-pass reuse costs
  * once per run, not zero times — per-op numbers then measure pure
  * drain.
  *
  * In production these staged dirs don't exist at all: the `*From`
  * entry points (tumblingFrom, slidingFrom, twoPhaseFrom, ...) read
  * the real landing zone / Kafka source directly. The memo only
  * amortizes the hash gate's deterministic corpus rewrite.
  */
object StreamStage {

  /** (corpusKey, shape) → (staged source dir, its file-name set at
    * build time — a /tmp cleaner can reap files INDIVIDUALLY and
    * leave the dir, so an existence check alone would serve a
    * partially-reaped choreography; any drift in the name set
    * re-stages instead).
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Set[String])]()

  private def fileNames(s: SparkSession, p: String): Set[String] =
    graft.sources.Fs.listChildren(s, p).map(_._1).toSet
  /** (dir, shape) → its CURRENT corpusKey, for evicting superseded
    * stage dirs when an in-process rewrite changes the snapshot.
    */
  private val latest =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Return the staged source dir for (`dir`, `shape`), building it
    * with `build` (which must write the COMPLETE choreographed file
    * set into the passed path) only on first use per corpus snapshot.
    */
  private[streaming] def source(s: SparkSession, dir: String, shape: String)(
      build: String => Unit): String =
    graft.ops.Dedup.corpusSnapshot(dir, "events") match {
      case None =>
        val p = graft.sources.SourceOps.tmpDir(s"graft_stream_${shape}_src")
        build(p)
        p
      case Some(snap) =>
        val key = (s"$dir@$snap", shape)
        Option(memo.get(key))
          .filterNot { case (p, names) =>
            graft.sources.Fs.exists(s, p) && fileNames(s, p) == names
          }
          .foreach(gone => memo.remove(key, gone))
        // Superseded-snapshot eviction happens OUTSIDE computeIfAbsent:
        // the ConcurrentHashMap javadoc forbids mutating the map from
        // inside the mapping function (ADVICE r14 — undefined behavior /
        // possible bin-lock livelock). latest.put is a no-op on a memo
        // hit (prev == key._1), so this costs nothing on the hot path.
        Option(latest.put((dir, shape), key._1))
          .filter(_ != key._1)
          .foreach { old =>
            Option(memo.remove((old, shape)))
              .foreach { case (oldPath, _) =>
                graft.ops.Dedup.deleteDirQuietly(oldPath)
              }
          }
        memo.computeIfAbsent(key, _ => {
          val p = graft.sources.SourceOps.tmpDir(s"graft_stream_${shape}_src")
          build(p)
          (p, fileNames(s, p))
        })._1
    }

  /** Drop every staged stream source dir; the next gate re-stages. */
  def reset(): Unit = {
    import scala.jdk.CollectionConverters._
    memo.values.asScala.foreach { case (p, _) =>
      graft.ops.Dedup.deleteDirQuietly(p)
    }
    memo.clear()
    latest.clear()
  }

  /** Build every staged stream source for `dir`, timing each —
    * Bench's timed staging phase for the stream family (the
    * Dedup.stageAllTimed twin). Keys are stable (`stream_stage_<shape>`)
    * so per-round staging lines are comparable.
    */
  def stageAllTimed(s: SparkSession, dir: String): Seq[(String, Double)] =
    (StreamOps.stagers ++ StreamOps2.stagers).map { case (shape, stage) =>
      val t0 = System.nanoTime()
      stage(s, dir)
      s"stream_stage_$shape" -> (System.nanoTime() - t0) / 1e9
    }
}
