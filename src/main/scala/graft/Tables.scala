package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the warehouse tables (one parquet per table under an
  * SF dir). The reference stages every source table as one parquet in
  * its STAGING_ZONE (ref: staging_data_extraction.py
  * consolidate_chunks_to_mainFile); we read the same layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table surfaces `ts` as BIGINT epoch nanoseconds to
    * every consumer — exact integer arithmetic downstream, no
    * sub-micro truncation ambiguity, and one normalization point for
    * whatever physical type the generator writes:
    *   - parquet nanos (`timestamp[ns]`): read as LongType via the
    *     session-contract `nanosAsLong` conf (set by
    *     [[GraftSession.build]], NOT here — a conf flip inside a
    *     loader would race concurrent reads);
    *   - parquet micros (`timestamp[us]`, surfaced as TIMESTAMP_NTZ):
    *     cast through the UTC session zone and widen micros → nanos.
    * The DuckDB oracle side needs no branch: `epoch_ns(ts)` yields
    * the same integer for either physical type.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "graft sessions read parquet nanos as BIGINT; build the session via GraftSession.build")
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft sessions pin UTC; build the session via GraftSession.build")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            raw("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }
}
