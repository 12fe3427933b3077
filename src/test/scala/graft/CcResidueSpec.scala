package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The CC kernel's callers leave no persisted RDD behind: with their
  * inputs staged, graph_connected_components and dedup_semantic run
  * twice each, and the cluster_labels stage is rebuilt once, and the
  * session's persisted-RDD set ends where it started. A loop-path
  * final round or a caller-side edge checkpoint would stay parked until
  * garbage collection.
  */
class CcResidueSpec extends AnyFunSuite with SparkSuite {
  import graft.ops.Dedup

  test("CC callers, run twice after staging, leave the persisted-RDD set unchanged") {
    val sc = spark.sparkContext
    val labelsDir = Paths.get(new java.net.URI(
      Dedup.clusterLabels(spark, sfDir).inputFiles.head).getPath).getParent
    Dedup.embeddingNearDupPairs(spark, sfDir).count()
    val before = sc.getPersistentRDDs.keySet.toSet
    for (_ <- 1 to 2; op <- Seq("graph_connected_components", "dedup_semantic"))
      assert(Registry.byName(op).run(spark, sfDir).collect().nonEmpty, op)
    // a stage dir that lost a file is rebuilt on the next access
    Files.delete(labelsDir.resolve("_SUCCESS"))
    assert(Dedup.clusterLabels(spark, sfDir).count() > 0)
    assert(!Files.exists(labelsDir), "the rebuild supersedes the old stage")
    val after = sc.getPersistentRDDs.keySet.toSet
    assert(after == before, s"left behind: ${after -- before}, freed: ${before -- after}")
  }
}
