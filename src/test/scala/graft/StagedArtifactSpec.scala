package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The staged-artifact memo (`graft.ops.Staging`) across its kinds of
  * stage — parquet dir, stream source dir, bucketed catalog tables,
  * checkpointed fixpoint: a rewritten input supersedes the stage (the
  * old one freed, the new one identical), and a build that stages
  * another artifact first works on a cold memo.
  */
class StagedArtifactSpec extends AnyFunSuite with SparkSuite {
  import graft.ops.{Dedup, GraphOps, Staging}
  import graft.streaming.StreamOps

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def dirOf(df: DataFrame): Path =
    Paths.get(new java.net.URI(df.inputFiles.head).getPath).getParent

  private def pgTables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_pg_")).toSet

  /** A private copy of the test tables (mtimes kept). */
  private def copyTables(): Path = {
    val src = Paths.get(sfDir)
    val dst = Files.createTempDirectory("graft_staged_spec")
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    dst
  }

  /** Move one data file of `table` 2 s forward: a new snapshot. */
  private def touch(dir: Path, table: String): Unit = {
    val root = dir.resolve(s"$table.parquet")
    val file =
      if (Files.isRegularFile(root)) root
      else {
        val listing = Files.list(root)
        try listing.iterator().asScala.find { p =>
          val name = p.getFileName.toString
          name.startsWith("part-") && name.endsWith(".parquet")
        }.get
        finally listing.close()
      }
    Files.setLastModifiedTime(file,
      FileTime.fromMillis(Files.getLastModifiedTime(file).toMillis + 2000))
  }

  test("a rewritten input supersedes every kind of stage: identical rows, the old stage freed") {
    val d = copyTables()
    val dir = d.toString
    val sc = spark.sparkContext
    try {
      val pairs = Dedup.stagedCandidateStats(spark, dir)
      val (pairRows, pairDir) = (rows(pairs), dirOf(pairs))
      val ev3 = StreamOps.ev3Src(spark, dir)
      val ev3Rows = rows(spark.read.parquet(ev3))
      val tablesBefore = pgTables()
      val edges = GraphOps.purchaseGraph(spark, dir)._1
      val (edgeRows, pgDir) = (rows(edges), dirOf(edges).getParent)
      val pgOld = pgTables() -- tablesBefore
      assert(pgOld.size == 2)
      val rddsBefore = sc.getPersistentRDDs.keySet
      val (mass, curve) = GraphOps.prFixpoint(spark, dir)
      val massRows = rows(mass)
      val prBlocks = sc.getPersistentRDDs.keySet -- rddsBefore
      assert(prBlocks.nonEmpty)

      Seq("documents", "events", "orders").foreach(touch(d, _))

      val pairs2 = Dedup.stagedCandidateStats(spark, dir)
      assert(rows(pairs2) == pairRows)
      assert(dirOf(pairs2) != pairDir && !Files.exists(pairDir), "superseded pair_graph dir")
      val ev3b = StreamOps.ev3Src(spark, dir)
      assert(rows(spark.read.parquet(ev3b)) == ev3Rows)
      assert(ev3b != ev3 && !Files.exists(Paths.get(ev3)), "superseded ev3 source dir")
      val edges2 = GraphOps.purchaseGraph(spark, dir)._1
      assert(rows(edges2) == edgeRows)
      assert(dirOf(edges2).getParent != pgDir && !Files.exists(pgDir), "superseded graph dir")
      assert(pgOld.forall(t => !spark.catalog.tableExists(t)), "superseded graph tables")
      assert((pgTables() -- tablesBefore).size == 2)
      val (mass2, curve2) = GraphOps.prFixpoint(spark, dir)
      assert(rows(mass2) == massRows && curve2 == curve)
      assert((prBlocks intersect sc.getPersistentRDDs.keySet).isEmpty,
        "the superseded fixpoint's checkpoint blocks must be freed")
    } finally {
      Staging.reset()
      Dedup.deleteDirQuietly(dir)
    }
  }

  test("on a cold memo the cluster_labels build stages pair_graph inside itself") {
    Staging.reset()
    val labels = Dedup.clusterLabels(spark, sfDir)
    val labelRows = rows(labels)
    val pairDir = dirOf(Dedup.stagedCandidateStats(spark, sfDir))
    // the pair dir's last write precedes the end of the labels build
    assert(Files.getLastModifiedTime(pairDir).compareTo(
      Files.getLastModifiedTime(dirOf(labels).resolve("_SUCCESS"))) <= 0)
    // the same labels when pair_graph is staged first
    Staging.reset()
    Dedup.stagedCandidateStats(spark, sfDir).count()
    assert(rows(Dedup.clusterLabels(spark, sfDir)) == labelRows)
  }
}
