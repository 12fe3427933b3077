package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staged corpus artifacts by name, in `Dedup.stageAllTimed`'s
  * dependency order and with the same (package-private) builders, so
  * the benchmark can rebuild just the artifacts its corpus ops consume.
  * Keep it in step with `Dedup.stageAllTimed`.
  */
object BenchStaging {
  val artifacts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ivf_cells" -> Dedup.stagedCellAssignments,
    "emb_pairs" -> Dedup.embeddingNearDupPairs,
    "knn_graph" -> Similarity.knnGraphStaged,
    "pair_graph" -> Dedup.stagedCandidateStats,
    "band_index" -> Dedup.bandIndex,
    "cluster_labels" -> Dedup.clusterLabels,
    "cdc_canon" -> Paragraphs.stagedCanon,
    "purchase_graph" -> ((s, d) => GraphOps.purchaseGraph(s, d)._1),
    "pr_fixpoint" -> ((s, d) => GraphOps.prFixpoint(s, d)._1))
}
