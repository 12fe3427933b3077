package graft.ops

import graft.streaming.{StreamOps, StreamOps2}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staged-artifact memo: the reference's staging zone (extract
  * once, record the staging path, let every consumer read that path)
  * for the intermediates several ops share. An artifact is built once
  * per input snapshot and every consumer is served from the build.
  *
  * One slot per (artifact, input dir). A slot holds the input snapshot
  * it was built from, the staged value, an `alive` check and a `free`
  * action. An access serves the value while the snapshot is unchanged
  * and `alive` holds. Otherwise it frees the old value first and
  * rebuilds, so a rewritten table supersedes its stage instead of
  * leaking it, and a stage a /tmp cleaner reaped, even file by file,
  * re-stages instead of serving a partial set. The slot's own monitor
  * serializes the key's build, and builds run outside any map compute:
  * a build may stage another artifact first (cluster_labels reads
  * pair_graph, emb_pairs and knn_graph read ivf_cells, pr_fixpoint
  * walks purchase_graph). A dir without a snapshot (not a local path)
  * has no safe memo key, so its caller computes the artifact inline —
  * correct, never stale.
  *
  * Billing: Bench resets the memo between its warmup and timed phases
  * and rebuilds every [[artifacts]] entry in its timed staging phase
  * ([[stageAllTimed]]), so reuse across consumers costs once per run,
  * not zero times, and each build is its own labeled staging line.
  */
object Staging {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A staged value, whether it can still serve a session, and how to
    * drop it.
    */
  final case class Staged[+A](value: A, alive: SparkSession => Boolean, free: () => Unit)

  private final class Slot {
    var snapshot: String = _
    var staged: Staged[Any] = _
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  /** `artifact`'s staged value for `dir` at `snapshot`, built by `build`
    * only when the slot holds none for that snapshot or it is no longer
    * alive. None when `dir` has no snapshot.
    */
  private[graft] def memo[A](s: SparkSession, artifact: String, dir: String,
      snapshot: Option[String])(build: => Staged[A]): Option[A] = snapshot match {
    case None =>
      log.warn(s"$artifact staging skipped for $dir (not a readable local path; " +
        "no snapshot => no safe memo) — computing it inline")
      None
    case Some(snap) =>
      val slot = slots.computeIfAbsent((artifact, dir), _ => new Slot)
      slot.synchronized {
        if (slot.staged == null || slot.snapshot != snap || !slot.staged.alive(s)) {
          if (slot.staged != null) {
            log.info(s"re-staging $artifact for $dir (input rewritten or stage reaped)")
            slot.staged.free()
            slot.staged = null
          }
          slot.staged = build
          slot.snapshot = snap
        }
        Some(slot.staged.value.asInstanceOf[A])
      }
  }

  /** Free every staged artifact; the next consumer re-stages. Per-corpus
    * statistics memos (hot shingles, hot phash buckets) are not staged
    * artifacts and survive.
    */
  def reset(): Unit = slots.values.forEach { slot =>
    slot.synchronized {
      if (slot.staged != null) slot.staged.free()
      slot.staged = null
    }
  }

  /** Content-version marker for `tables` under `dir`: the md5 of their
    * file listings (relative path, size, mtime). Driver-side local-FS
    * metadata only — the listing a parquet scan's file index performs,
    * never a data read. None when `dir` is NOT a local filesystem path
    * (hdfs://, s3a://, …): java.nio can't see those, and hashing a
    * constant would serve a stale stage forever after a rewrite. A
    * genuinely absent local table is None too; the consumer's own
    * parquet read then fails loudly on it.
    */
  private[graft] def snapshot(dir: String, tables: String*): Option[String] = {
    import scala.jdk.CollectionConverters._
    val scheme = java.net.URI.create(dir.replace(" ", "%20")).getScheme
    val roots = tables.map(t => Paths.get(dir.stripPrefix("file:"), s"$t.parquet"))
    if ((scheme != null && scheme != "file") || !roots.forall(Files.exists(_))) None
    else {
      val entries = roots.flatMap { root =>
        val walk = Files.walk(root)
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
          s"${root.getFileName}/${root.relativize(p)}:${Files.size(p)}:" +
            Files.getLastModifiedTime(p).toMillis).toSeq.sorted
        finally walk.close()
      }
      Some(java.security.MessageDigest.getInstance("MD5")
        .digest(entries.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    }
  }

  /** Relative paths of the files under `p`; None once `p` is gone. */
  private def fileSet(p: String): Option[Set[String]] =
    try {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(p)
      val walk = Files.walk(root)
      try Some(walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString).toSet)
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }

  /** Stage by `write` into a fresh temp dir. Alive while the dir holds
    * exactly the files the build left; freeing deletes the dir.
    */
  private[graft] def inTmpDir(prefix: String)(write: String => Unit): Staged[String] = {
    val p = graft.sources.SourceOps.tmpDir(prefix)
    try write(p) catch { case e: Throwable => Dedup.deleteDirQuietly(p); throw e }
    val files = fileSet(p)
    Staged(p, _ => fileSet(p) == files, () => Dedup.deleteDirQuietly(p))
  }

  /** A dir-backed artifact's staged dir for `dir`; without a snapshot,
    * a one-shot dir built the same way.
    */
  private[graft] def dirFor(s: SparkSession, artifact: String, dir: String,
      snapshot: Option[String], prefix: String)(write: String => Unit): String =
    memo(s, artifact, dir, snapshot)(inTmpDir(prefix)(write))
      .getOrElse(inTmpDir(prefix)(write).value)

  /** A parquet artifact: `plan` over `table`, staged once per snapshot
    * of that table and read back by every consumer.
    */
  final class Parquet(name: String, table: String)(
      plan: (SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, dir: String): DataFrame =
      memo(s, name, dir, snapshot(dir, table))(inTmpDir(s"graft_$name") { p =>
        val before = s.sparkContext.getPersistentRDDs.keySet
        val df = plan(s, dir)
        df.write.mode("overwrite").parquet(p)
        // checkpoints the plan made for itself are done once it is
        // written: free them now, not whenever the plan is collected
        Rounds.free(df, Rounds.leafCheckpoints(df) -- before)
      }).map(s.read.parquet(_)).getOrElse(plan(s, dir))

    def artifact: Artifact = Artifact(name, (s, d) => apply(s, d).count(), Some(plan))
  }

  /** One declared artifact: its staging-line name, how to stage it for
    * a dir, and the unstaged plan it materializes, if it has one (the
    * plan runs behind a staged read, invisible to its consumers'
    * plans).
    */
  final case class Artifact(name: String, stage: (SparkSession, String) => Any,
      unstaged: Option[(SparkSession, String) => DataFrame] = None)

  /** Every staged artifact, in dependency order: cells before their two
    * consumers, pairs before labels, the purchase graph before its
    * fixpoint, then the stream source shapes. Bench's staging lines,
    * their order, and PlanGuardSpec's unstaged staging plans are
    * derived from this list.
    */
  private[graft] def artifacts: Seq[Artifact] = Seq(
    Dedup.IvfCells.artifact,
    Dedup.EmbPairs.artifact,
    Similarity.KnnGraph.artifact,
    Dedup.PairGraph.artifact,
    Dedup.BandIndex.artifact,
    Dedup.ClusterLabels.artifact,
    Paragraphs.CdcCanon.artifact,
    Artifact("purchase_graph", (s, d) => GraphOps.purchaseGraph(s, d)._1.count(),
      Some(GraphOps.purchaseGraphEdgesPlan)),
    // constructing the fixpoint RUNS its loop (iterative, like the CC
    // labels); the guarded plan is the final mass relation
    Artifact("pr_fixpoint", (s, d) => GraphOps.prFixpoint(s, d)._1.count(),
      Some((s, d) => GraphOps.prFixpoint(s, d)._1))) ++
    (StreamOps.stagers ++ StreamOps2.stagers).map { case (shape, build) =>
      Artifact(s"stream_stage_$shape", build)
    }

  /** Stage every artifact for `dir`, timing each — Bench's staging
    * phase. Billing each artifact on its own line instead of inside
    * whichever timed consumer happens to run first is what makes
    * per-op bench numbers comparable across runs. Corpus artifacts are
    * counted, so the staged set is written AND read back and a
    * consumer's timed run starts from the state a warm production
    * index gives it.
    */
  private[graft] def stageAllTimed(s: SparkSession, dir: String): Seq[(String, Double)] =
    artifacts.map { a =>
      val t0 = System.nanoTime()
      a.stage(s, dir)
      a.name -> (System.nanoTime() - t0) / 1e9
    }
}
