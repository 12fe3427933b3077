package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 additions. */
class R15OpsSpec extends AnyFunSuite with SparkSuite {

  private def run(name: String) = Registry.byName(name).run(spark, sfDir)

  test("graph_pagerank_residuals: curve is the converged loop's own stop-test trace") {
    val curve = run("graph_pagerank_residuals").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // rounds are dense 1..n
    assert(curve.map(_._1) == (1L to curve.size).map(identity))
    // every non-final round's residual exceeded the tolerance (the
    // loop kept going), the final one met it (the loop stopped)
    assert(curve.init.forall(_._2 > graft.ops.GraphOps.PrTolPpm),
      "a non-final round at/below tolerance means the loop overran its stop")
    assert(curve.last._2 <= graft.ops.GraphOps.PrTolPpm)
    // the curve length IS the converged op's gated n_rounds column
    val nRounds = run("graph_pagerank_converged")
      .select("n_rounds").head().getLong(0)
    assert(nRounds == curve.size.toLong)
  }

  test("pagerank fused pair: an empty round b reads as None and keeps round a's residual") {
    import spark.implicits._
    val tagged = Seq((1L, 150000L, 100000L, 1), (2L, 170000L, 100000L, 1))
      .toDF("v", "mass", "prev", "rnd")
    assert(graft.ops.GraphOps.pairResiduals(tagged) == ((70000L, None)))
    val both = tagged.unionByName(Seq((1L, 150500L, 150000L, 2)).toDF("v", "mass", "prev", "rnd"))
    assert(graft.ops.GraphOps.pairResiduals(both) == ((70000L, Some(500L))))
  }

  test("dedup_cdc_chunks: pair invariants (Jaccard >= 0.5, ordered cross-class keys)") {
    val rows = run("dedup_cdc_chunks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSeq
    assert(rows.nonEmpty, "checked-in corpus has near-dup chunk pairs (21 at sf0.001)")
    rows.foreach { case (da, ca, db, cb, inter, uni, dupsA, dupsB) =>
      // the verify threshold really held, and keys are canonical
      assert(inter * 2 >= uni && inter >= 1 && uni >= inter)
      assert(da < db || (da == db && ca < cb), "pairs must be lexicographically ordered")
      assert(dupsA >= 1 && dupsB >= 1)
    }
    assert(rows.distinct.size == rows.size, "no duplicate pairs")
  }

  test("content-defined chunking re-synchronizes after an insertion (fixed blocks cannot)") {
    import spark.implicits._
    // doc 1: 60 tokens; doc 2: one token INSERTED at the front — every
    // position shifts, yet chunk boundaries are content-anchored so
    // all chunks after the first cut point recover identical content
    val toks = (0 until 60).map(i => s"w${(i * 7919) % 97}")
    val d = graft.sources.SourceOps.tmpDir("graft_cdc_spec")
    Seq(
      (1L, toks.mkString(" "), "en", "src0", 0L),
      (2L, ("zzz" +: toks).mkString(" "), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val chunks = graft.ops.Paragraphs.chunkRel(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val g1 = chunks.collect { case (1L, g) => g }.toSet
    val g2 = chunks.collect { case (2L, g) => g }.toSet
    assert(g1.nonEmpty && g2.nonEmpty)
    val shared = g1.intersect(g2)
    assert(shared.nonEmpty,
      s"no shared chunk content after a 1-token insertion: $g1 vs $g2")
  }

  test("curation_refresh: structural invariants on the checked-in corpus") {
    val thr = graft.Tables.load(spark, sfDir, "documents")
      .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0) * 9 / 10
    val rows = run("curation_refresh").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(4))).toSeq
    // every batch row is inserted, every prior row carried or patched
    rows.foreach { case (id, _, action) =>
      if (id > thr) assert(action == "inserted", s"doc $id")
      else assert(action == "carried" || action == "patched", s"doc $id: $action")
    }
    // the refresh must equal curation_manifest (the full recompute)
    // row for row on (doc_id, disposition)
    val full = run("curation_manifest").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { case (id, d, _) =>
      assert(full(id) == d, s"doc $id: refresh $d != full ${full(id)}")
    }
  }

  test("curation_refresh: a batch eval doc PATCHES a prior row to contaminated") {
    import spark.implicits._
    def evalHash(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 10000L
    }
    // batch doc E lands in the 2% eval hash split; its text equals
    // prior doc P's, so the refresh must (a) mark E exact_dup+inserted
    // and (b) flip P kept -> contaminated (E's shingles became the new
    // eval reference) with action=patched — the Δ-reference code path
    // the checked-in corpus never exercises (zero natural patches)
    val e = (10L to 500L).find(id => evalHash(id) < 200L && id * 9 / 10 >= 9).get
    val p = (1L to 9L).find(id => evalHash(id) >= 200L).get
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = (1L to 9L).map { id =>
      val text = if (id == p) shared
        else (0 until 10).map(j => s"tok${id}x$j").mkString(" ")
      (id, text, "en", "src0", text.length.toLong)
    } :+ ((e, shared, "en", "src0", shared.length.toLong))
    val d = graft.sources.SourceOps.tmpDir("graft_refresh_spec")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val byId = Registry.byName("curation_refresh").run(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(4)))).toMap
    assert(byId(e) == (("exact_dup", "inserted")), s"E: ${byId(e)}")
    assert(byId(p) == (("contaminated", "patched")), s"P: ${byId(p)}")
    (1L to 9L).filterNot(_ == p).foreach { id =>
      assert(byId(id)._2 == "carried", s"doc $id: ${byId(id)}")
    }
  }

  test("pagerank fixpoint memo: second read re-uses the run (no new persistent RDDs)") {
    run("graph_pagerank_converged").count()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    run("graph_pagerank_residuals").count() // same snapshot -> memo hit
    run("graph_pagerank_converged").count()
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert((after -- before).isEmpty,
      s"memoized fixpoint re-ran or leaked: ${after -- before}")
  }
}
