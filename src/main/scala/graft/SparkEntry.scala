package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (coverage checklist)
  * and §7 (build plan). Every capability is an [[Op]] registered in
  * [[Registry]]; this object just adapts the registry to the driver's
  * Map-based API.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("q1_pricing_summary").run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(op => op.name -> op.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(op => op.oracle.map(op.name -> _)).toMap
}

/** All registered capabilities (SURVEY.md §2, one Op per line). */
object Registry {
  val all: Seq[Op] =
    graft.queries.EtlOps.ops ++
      graft.queries.EtlOps2.ops ++
      graft.queries.EtlOps3.ops ++
      graft.queries.Analytics.ops ++
      graft.queries.Analytics2.ops ++
      graft.queries.Analytics3.ops ++
      graft.queries.Analytics4.ops ++
      graft.queries.StatOps.ops ++
      graft.queries.GrowthOps.ops ++
      graft.queries.EventOps.ops ++
      graft.queries.EventOps2.ops ++
      graft.queries.EventOps3.ops ++
      graft.ops.TextOps.ops ++
      graft.ops.TextOps2.ops ++
      graft.ops.Dedup.ops ++
      graft.ops.Spans.ops ++
      graft.ops.Paragraphs.ops ++
      graft.ops.GraphOps.ops ++
      graft.ops.GraphOps2.ops ++
      graft.ops.Sampling.ops ++
      graft.ops.Sampling2.ops ++
      graft.ops.Similarity.ops ++
      graft.ops.IndexMerge.ops ++
      graft.ops.Quantize.ops ++
      graft.ops.EmbOps.ops ++
      graft.ops.Curation.ops ++
      graft.ops.Leakage.ops ++
      graft.ops.Multimodal.ops ++
      graft.ops.PipelineHealth.ops ++
      graft.ops.Reconcile.ops ++
      graft.ops.Multimodal2.ops ++
      graft.sources.SourceOps.ops ++
      graft.streaming.StreamOps.ops ++
      graft.streaming.StreamOps2.ops

  private lazy val index: Map[String, Op] = all.map(op => op.name -> op).toMap
  def byName(name: String): Op = index(name)

  /** The ops a run covers, sorted by name: every op for `None`, else
    * those a comma list names (names trimmed, blanks dropped). An
    * unknown name fails fast, naming it, instead of silently running a
    * partial (or empty) set.
    */
  def select(names: Option[String]): Seq[Op] = {
    val only = names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { ns =>
      val unknown = ns -- index.keySet
      require(unknown.isEmpty, s"ops not registered: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    all.filter(op => only.forall(_.contains(op.name))).sortBy(_.name)
  }
}
