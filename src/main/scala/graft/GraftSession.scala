package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-ready defaults.
  *
  * Mirrors the deployment posture the reference's warehouse implies
  * (ref: /root/reference/dag/SMFG_DW_ETL_DAG.py — EOD batch over many
  * tables): AQE on (runtime re-plan + skew-join), small shuffle
  * partition count for local mode (callers override for clusters),
  * UTC session time zone for reproducible date semantics.
  */
object GraftSession {
  def build(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      // native graft kernels in the function registry + the
      // HOF-dot-product → ArrayDot optimizer rewrite (cluster deploys
      // set spark.sql.extensions=graft.plans.GraftExtensions instead)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // session contract: parquet nanosecond timestamps surface as
      // BIGINT nanos everywhere (graft does integer epoch math on
      // them); set once here so no loader flips conf mid-session
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the graft conf set to an externally-built session (Verify /
    * Bench construct their own); idempotent.
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
