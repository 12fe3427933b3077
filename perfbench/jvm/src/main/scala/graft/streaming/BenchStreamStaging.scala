package graft.streaming

import org.apache.spark.sql.SparkSession

/** The staged stream source shapes by name, from the same registry
  * `StreamStage.stageAllTimed` walks, so the benchmark can rebuild just
  * the shapes its stream ops read.
  */
object BenchStreamStaging {
  val shapes: Seq[(String, (SparkSession, String) => String)] =
    StreamOps.stagers ++ StreamOps2.stagers
}
