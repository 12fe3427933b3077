package graft

import org.scalatest.funsuite.AnyFunSuite

/** The staged near-dup pair graph must be a pure materialization: the
  * parquet round-trip may never change the pair set, and the memo may
  * never serve a stale or dangling stage (ADVICE r4).
  */
class StagedPairSpec extends AnyFunSuite with SparkSuite {
  import graft.ops.{Dedup, Staging}

  test("staged pair graph equals the inline (unstaged) pair plan") {
    val staged = Dedup.nearDupPairs(spark, sfDir)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val inline = Dedup.ngramJaccardPairs(
        Tables.load(spark, sfDir, "documents"), Dedup.MaxShingleDf)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(staged.nonEmpty, "pair graph unexpectedly empty at sf0.001")
    assert(staged == inline)
  }

  test("staged embedding pair set equals the inline IVF pair plan") {
    val staged = Dedup.embeddingNearDupPairs(spark, sfDir)
      .orderBy("vec_a", "vec_b").collect().toSeq
    val inline = Dedup.embeddingPairsIvf(
        Tables.load(spark, sfDir, "embeddings"), Dedup.EmbTau)
      .orderBy("vec_a", "vec_b").collect().toSeq
    assert(staged.nonEmpty, "embedding pair set unexpectedly empty")
    assert(staged == inline)
  }

  test("a reaped stage dir re-stages instead of serving a dangling path") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val first = Dedup.nearDupPairs(spark, sfDir)
    val n = first.count()
    val stageDir = Paths.get(
      new java.net.URI(first.inputFiles.head).getPath).getParent
    val walk = Files.walk(stageDir)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
    assert(!Files.exists(stageDir))
    val again = Dedup.nearDupPairs(spark, sfDir)
    assert(again.count() == n)
  }

  test("a stage dir that lost a part file re-stages instead of serving a partial set") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val first = Dedup.nearDupPairs(spark, sfDir)
    val n = first.count()
    val stageDir = Paths.get(
      new java.net.URI(first.inputFiles.head).getPath).getParent
    // a /tmp cleaner reaping files one by one: the largest part file
    // goes (it holds rows however the pairs split), the dir and its
    // _SUCCESS marker stay
    val listing = Files.list(stageDir)
    val part = try listing.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        name.startsWith("part-") && name.endsWith(".parquet")
      }.maxBy(Files.size(_))
      finally listing.close()
    Files.delete(part)
    assert(Files.exists(stageDir.resolve("_SUCCESS")))
    assert(Dedup.nearDupPairs(spark, sfDir).count() == n)
  }

  test("corpusSnapshot refuses non-local and absent paths (no constant-hash staleness)") {
    assert(Staging.snapshot("hdfs://nn:8020/warehouse/docs", "documents").isEmpty)
    assert(Staging.snapshot("s3a://bucket/prefix", "documents").isEmpty)
    assert(Staging.snapshot("/no/such/dir/anywhere", "documents").isEmpty)
    assert(Staging.snapshot(sfDir, "documents").nonEmpty)
  }

  test("resetPairStage drops staged dirs so the next consumer re-stages") {
    import java.nio.file.{Files, Paths}
    val before = Dedup.nearDupPairs(spark, sfDir)
    val n = before.count()
    val stageDir = Paths.get(
      new java.net.URI(before.inputFiles.head).getPath).getParent
    Dedup.resetPairStage()
    assert(!Files.exists(stageDir), "reset must delete the staged dir")
    val after = Dedup.nearDupPairs(spark, sfDir)
    assert(after.count() == n)
  }

  test("reset also drops the label and band stages; re-staging reproduces both") {
    import java.nio.file.{Files, Paths}
    val labels = Registry.byName("dedup_clusters").run(spark, sfDir)
    val lsh = Registry.byName("dedup_minhash_lsh").run(spark, sfDir)
    val labelRows = labels.collect().toSeq
    val lshRows = lsh.collect().toSeq
    val labelDir = Paths.get(
      new java.net.URI(labels.inputFiles.head).getPath).getParent
    Dedup.resetPairStage()
    assert(!Files.exists(labelDir), "reset must delete the staged labels dir")
    // fresh stages (pairs -> labels, bands) must reproduce the rows
    assert(Registry.byName("dedup_clusters").run(spark, sfDir)
      .collect().toSeq == labelRows)
    assert(Registry.byName("dedup_minhash_lsh").run(spark, sfDir)
      .collect().toSeq == lshRows)

    // every declared artifact staged fresh, then ONE reset: no staged
    // dir, purchase-graph table or fixpoint block may outlive it
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val stageDir = ("graft_(ivf_cells|emb_pairs|knn_graph|pair_graph|band_index|" +
      "cluster_labels|cdc_canon|pg_stage|stream_.+_src).*").r
    def stageDirs(): Set[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val listing = Files.list(tmp)
      try listing.iterator().asScala.filter(p => Files.isDirectory(p) &&
        stageDir.matches(p.getFileName.toString)).toSet
      finally listing.close()
    }
    def pgTables(): Seq[String] =
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_pg_")).toSeq
    Dedup.resetPairStage()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val dirsBefore = stageDirs()
    Staging.stageAllTimed(spark, sfDir)
    val staged = stageDirs() -- dirsBefore
    // one dir per declared artifact but pr_fixpoint (in-memory blocks)
    assert(staged.size == Staging.artifacts.size - 1, staged)
    assert(pgTables().size == 2)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).nonEmpty)
    Dedup.resetPairStage()
    assert(staged.filter(Files.exists(_)).isEmpty, "reset must delete every staged dir")
    assert(pgTables().isEmpty, "reset must drop the purchase-graph tables")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty,
      "reset must free the fixpoint's checkpoint blocks")
  }
}
