package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** mm_phash invariants: candidate scoping, the pigeonhole bound, and
  * consistency with exact media dedup (identical payloads must
  * surface as hamming-0 pairs).
  */
class PhashSpec extends AnyFunSuite with SparkSuite {

  private lazy val df = Registry.byName("mm_phash").run(spark, sfDir).cache()

  test("pairs are ordered, within one media_type, and within the Hamming bound") {
    assert(df.count() > 0)
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("hamming") > 4).count() == 0)
    // media_type is doc_id % 3 — both endpoints must agree with it
    val badType = df.filter(
      col("media_type") =!= element_at(
        typedLit(Seq("image", "audio", "video")), (col("doc_a") % 3 + 1).cast("int")) ||
      col("media_type") =!= element_at(
        typedLit(Seq("image", "audio", "video")), (col("doc_b") % 3 + 1).cast("int")))
    assert(badType.count() == 0)
  }

  test("native phash60 kernel is bit-identical to the interpreted HOF form") {
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(octet_length(col("text")) >= 4)
      .select(
        expr("graft_phash60(text)").as("native"),
        expr("graft_simhash60(transform(sequence(1, length(text)-3), i -> substring(text, i, 4)))")
          .as("interpreted"))
    assert(docs.filter(col("native") =!= col("interpreted")).count() == 0)
  }

  test("byte-identical same-type payloads always appear as hamming-0 pairs") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), (col("doc_id") % 3).as("mt"), md5(col("text")).as("h"))
    val exactPairs = docs.as("a").join(docs.as("b"),
        col("a.h") === col("b.h") && col("a.mt") === col("b.mt") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val missing = exactPairs.join(df.filter(col("hamming") === 0),
      Seq("doc_a", "doc_b"), "left_anti")
    assert(missing.count() == 0)
  }
}
