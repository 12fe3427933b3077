package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The stream-source staging memo must behave like the dedup stage
  * memos: same corpus snapshot → same staged dir (no rebuild), reset →
  * fresh dir with an identical row set, and a reaped dir re-stages
  * instead of poisoning the JVM.
  */
class StreamStageSpec extends AnyFunSuite with graft.SparkSuite {

  test("same snapshot returns the same staged dir; reset re-stages equal content") {
    val p1 = StreamOps.ev3Src(spark, sfDir)
    val p2 = StreamOps.ev3Src(spark, sfDir)
    assert(p1 == p2, "second call must hit the memo")
    val rows1 = spark.read.parquet(p1).collect().map(_.toSeq).sortBy(_.mkString("|"))
    StreamStage.reset()
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p1)),
      "reset must delete the staged dir")
    val p3 = StreamOps.ev3Src(spark, sfDir)
    assert(p3 != p1)
    val rows3 = spark.read.parquet(p3).collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(rows1.toSeq == rows3.toSeq, "re-staged content must be identical")
  }

  test("a reaped staged dir re-stages instead of failing") {
    val p1 = StreamOps2.hhSrc(spark, sfDir)
    graft.ops.Dedup.deleteDirQuietly(p1)
    val p2 = StreamOps2.hhSrc(spark, sfDir)
    assert(p2 != p1)
    assert(spark.read.parquet(p2).count() > 0)
  }

  test("every stager key is unique and builds a non-empty source") {
    val all = StreamOps.stagers ++ StreamOps2.stagers
    assert(all.map(_._1).distinct.size == all.size, "shape keys must be unique")
    all.foreach { case (shape, build) =>
      val src = java.nio.file.Files.list(java.nio.file.Paths.get(build(spark, sfDir)))
      try assert(src.count() > 0, s"shape $shape staged an empty source") finally src.close()
    }
    // graft.Bench's `staging` JSON and the benchmark key on these
    // lines: the corpus artifacts, then one line per shape
    val timed = graft.ops.Staging.stageAllTimed(spark, sfDir)
    assert(timed.map(_._1) == Seq("ivf_cells", "emb_pairs", "knn_graph", "pair_graph",
      "band_index", "cluster_labels", "cdc_canon", "purchase_graph", "pr_fixpoint") ++
      Seq("ev3", "2p", "sess", "attr", "attro", "dedup", "hll", "f2", "sw", "evfull",
        "upsert", "late", "vel", "hh", "kmv", "quant").map("stream_stage_" + _))
    assert(timed.drop(9).map(_._1) == all.map("stream_stage_" + _._1))
    assert(timed.forall(_._2 >= 0.0))
  }
}
