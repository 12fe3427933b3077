package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Property check for the SHARED CC kernel (ops/Cc.scala) backing
  * dedup_clusters, dedup_semantic's label stage,
  * graph_connected_components and curation_refresh: every case runs
  * through BOTH paths — the driver-side union-find and the
  * pointer-jumping loop — and the two must return the same rows and
  * schema, equal to a brute union-find. Shapes covered: sparse random
  * (forests + small cycles), a LONG PATH (pointer jumping's O(log d)
  * claim is only exercised by high diameter — the gate corpora top out
  * at diameter ~5), a star (max fan-in), the empty edge set (the
  * null-safe base case), null endpoints, duplicate edges and
  * self-loops, and graphs at and just above the driver bound.
  */
class CcProps extends AnyFunSuite with SparkSuite {
  import graft.ops.Cc
  import spark.implicits._

  // limit(0) collects nothing, so every input, the empty one too,
  // takes the loop path
  private val LoopOnly = -1

  private def bruteComponents(vs: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vs.map(v => v -> find(v)).toMap
  }

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** The kernel's labeling of `e` on the driver path (at `bound`) and
    * on the loop path, asserted identical in rows and schema.
    */
  private def bothPaths(e: DataFrame, bound: Int = Cc.DriverEdgeBound): Map[Long, Long] = {
    val driver = Cc.minLabelComponents(e, maxRounds = 20, opName = "cc-props", bound = bound)
    val loop = Cc.minLabelComponents(e, maxRounds = 20, opName = "cc-props", bound = LoopOnly)
    assert(onDriver(driver) && !onDriver(loop))
    assert(driver.schema == loop.schema)
    assert(driver.schema.fields.map(_.dataType).toSeq == Seq(LongType, LongType))
    val rows = labels(driver)
    assert(rows == labels(loop))
    assert(rows.map(_._1).distinct.size == rows.size, "one row per vertex")
    rows.toMap
  }

  private def kernelLabels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    bothPaths(edges.toDF("src", "dst"))

  test("random sparse graphs: kernel census equals union-find") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 12) {
      val n = 4 + rnd.nextInt(40)
      val m = rnd.nextInt(n + n / 2)
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val brute = bruteComponents(vs, edges)
        assert(kernelLabels(edges) == brute, s"trial $trial: n=$n m=${edges.size}")
      }
    }
  }

  test("long path (diameter 63): pointer jumping converges within the log bound") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    val labels = kernelLabels(edges)
    assert(labels.size == 64 && labels.values.forall(_ == 0L))
  }

  test("star graph: max fan-in resolves in one round of propagation") {
    val edges = (1L to 30L).map(i => (0L, i))
    val labels = kernelLabels(edges)
    assert(labels.size == 31 && labels.values.forall(_ == 0L))
  }

  test("empty edge set returns an empty labeling (null-safe base case)") {
    assert(kernelLabels(Seq.empty[(Long, Long)]) == Map.empty)
  }

  test("edges with a null endpoint are ignored") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, null), (null, 3L), (null, null), (5L, 4L), (4L, null), (6L, null))
    val got = bothPaths(edges.toDF("src", "dst"))
    val kept = edges.collect { case (a, b) if a != null && b != null => (a.longValue, b.longValue) }
    assert(got == bruteComponents(Seq(1L, 2L, 4L, 5L), kept))
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("duplicate edges and self-loops; INT ids come back BIGINT") {
    val edges = Seq((1, 2), (1, 2), (2, 1), (3, 3), (4, 3), (7, 7))
    val got = bothPaths(edges.toDF("src", "dst"))
    assert(got == bruteComponents(Seq(1L, 2L, 3L, 4L, 7L),
      edges.map { case (a, b) => (a.toLong, b.toLong) }))
  }

  test("the driver path takes exactly `bound` collected rows; one more runs the loop") {
    val bound = 5
    val atBound = Seq((9L, 8L), (8L, 7L), (3L, 4L), (4L, 9L), (11L, 12L))
    assert(bothPaths(atBound.toDF("src", "dst"), bound) ==
      bruteComponents(atBound.flatMap(e => Seq(e._1, e._2)).distinct, atBound))
    val over = atBound :+ ((12L, 3L))
    val loop = Cc.minLabelComponents(over.toDF("src", "dst"), 20, "cc-props", bound)
    assert(!onDriver(loop))
    assert(labels(loop).toMap ==
      bruteComponents(over.flatMap(e => Seq(e._1, e._2)).distinct, over))
  }
}
