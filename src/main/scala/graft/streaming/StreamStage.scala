package graft.streaming

import graft.ops.Staging
import org.apache.spark.sql.SparkSession

/** Snapshot-staged streaming SOURCE directories (r13 VERDICT item 3):
  * the 20 stream gates each staged their own mtime-ordered
  * micro-batch directory per invocation, and that staging — corpus
  * read + parquet rewrite + sentinel/mtime choreography — was the
  * family's dominant fixed cost (42.6 s = 18% of the sf0.1 gate, with
  * the sf0.1 > sf1 inversion on stream_two_phase_agg proving the
  * constants dominate the data work). Every gate completes its staging
  * BEFORE the drain starts (sentinel batches and mtime stamps
  * included), so a staged dir is immutable once built — a dir-backed
  * artifact of the [[graft.ops.Staging]] memo, one slot per (corpus
  * dir, shape), keyed on the events table snapshot. A rewritten events
  * table supersedes the dir, a dir a /tmp cleaner reaped even file by
  * file re-stages, and a non-local dir stages a fresh one-shot dir.
  * Drains stay per-op: every query starts from a fresh checkpoint
  * (EventStream.drain / withCheckpoint, which delete it once the query
  * has terminated), so FileStreamSource re-reads the shared dir's
  * files in the same (mtime, path) order every time.
  *
  * Bench resets the memo between its warmup and timed phases and
  * rebuilds every shape as its own `stream_stage_<shape>` line in the
  * TIMED staging block, so per-op numbers measure pure drain.
  *
  * In production these staged dirs don't exist at all: the `*From`
  * entry points (tumblingFrom, slidingFrom, twoPhaseFrom, ...) read
  * the real landing zone / Kafka source directly. The memo only
  * amortizes the hash gate's deterministic corpus rewrite.
  */
object StreamStage {

  /** Return the staged source dir for (`dir`, `shape`), building it
    * with `build` (which must write the COMPLETE choreographed file
    * set into the passed path) only on first use per events snapshot.
    */
  private[streaming] def source(s: SparkSession, dir: String, shape: String)(
      build: String => Unit): String =
    Staging.dirFor(s, s"stream_stage_$shape", dir, Staging.snapshot(dir, "events"),
      s"graft_stream_${shape}_src")(build)

  /** Free every staged artifact ([[graft.ops.Staging.reset]]); kept by
    * name for callers that reset the stream stages.
    */
  def reset(): Unit = Staging.reset()
}
