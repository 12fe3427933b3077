package graft

import org.apache.spark.sql.SparkSession

/** The one way graft makes a session. Bench, Verify, ScaleUp, the
  * tests and the benchmark all call [[build]], so every one of them runs
  * the same engine: the graft kernels and optimizer rule of
  * [[graft.plans.GraftExtensions]], plus the conf set of [[tune]].
  *
  * Mirrors the deployment posture the reference's warehouse implies
  * (an end-of-day batch over many tables): AQE on (runtime re-plan +
  * skew-join), a small shuffle partition count for local mode (callers
  * override for clusters), UTC session time zone for reproducible date
  * semantics.
  */
object GraftSession {

  /** Make (or join) the session: builder-time settings only — app
    * name, master, the graft extensions, shuffle partitions, UI off,
    * and [[graft.sources.ForkFreeLocalFileSystem]] as the `file:` file
    * system — then [[tune]] for every runtime conf.
    *
    * The file system is a builder setting because Hadoop caches one
    * `file:` instance per JVM and user: set here, the context's Hadoop
    * conf carries it before the first local path resolves, so every
    * local write (parquet stages, zone writes, stream checkpoints and
    * state stores) sets its permissions in the JVM instead of forking
    * a `chmod` per path.
    */
  def build(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      // the graft kernels in the function registry + the HOF
      // dot-product → ArrayDot optimizer rewrite (cluster deploys set
      // spark.sql.extensions=graft.plans.GraftExtensions instead)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** The single list of graft's runtime session confs; [[build]] applies
    * it, and it is idempotent, so a caller that also calls it on a
    * built session changes nothing.
    */
  def tune(spark: SparkSession): SparkSession = {
    // bounded-drain streaming scope (r16 probe): a drain retains no
    // more than a handful of batches, so the default 100-batch
    // checkpoint retention and 60 s state maintenance cadence only
    // add file churn per drained query
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // session contract: parquet nanosecond timestamps surface as
    // BIGINT nanos everywhere (graft does integer epoch math on
    // them); set once here so no loader flips conf mid-session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Run `body` with the given session confs set, then put each key
    * back as it was — in `finally`, so a throwing body restores too. A
    * key that had a value gets it back (a deployment's spark-defaults
    * value included); a key that had none is unset.
    *
    * The override is SESSION-GLOBAL, not scoped to the calling thread:
    * every query planned on this session while `body` runs sees it. Do
    * not call this from branches run concurrently on one session
    * (`Similarity.inParallel`) — a sibling would plan under, and could
    * restore over, this override.
    */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    // getAll holds only explicitly-set keys: a key left at Spark's
    // default reads as None here and is unset again, not pinned
    val explicit = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
