package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import java.security.MessageDigest

/** Native Catalyst expressions for the hot per-row kernels. The
  * interpreted higher-order-function pipelines (nested
  * `aggregate`/`zip_with` lambdas) cost milliseconds per row; these
  * expressions do the same arithmetic in tight JVM loops at
  * microseconds per row, with BIT-IDENTICAL results (same fold order,
  * same md5-derived integers), so the DuckDB oracles are unchanged.
  *
  * [[kernels]] is the one list of them by SQL name; the session
  * extensions ([[graft.plans.GraftExtensions]]) inject it into every
  * graft session, so operator code can keep using `expr(...)`.
  */
object GraftFunctions {

  val kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_simhash60" -> (es => SimHash60(es.head)),
    "graft_phash60" -> (es => Phash60(es.head)),
    "graft_array_dot" -> (es => ArrayDot(es(0), es(1))),
    "graft_shingles3" -> (es => Shingles3(es.head)),
    "graft_minhash32" -> (es => MinHash32(es.head)),
    "graft_bpe_count" -> (es => BpeCount(es.head)))

  private val localMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** MinHash permutation constants — MUST stay identical to
    * graft.ops.Dedup.perms (the DuckDB oracles embed these literals).
    */
  val MersennePrime = 2147483647L
  val minhashPerms: Array[(Long, Long)] = (0 until 32).map { i =>
    val a = ((1103515245L * (i + 7) + 12345L) % (MersennePrime - 1)) + 1
    val b = (22695477L * (i + 3) + 54321L) % MersennePrime
    (a, b)
  }.toArray

  /** First 60 bits of md5(bytes) — numerically equal to
    * parseLong(hex(md5)[0:15], 16): the first 15 hex chars are the
    * big-endian first 8 digest bytes shifted right one nibble.
    */
  private[functions] def md5High60(bytes: Array[Byte]): Long = {
    val md = localMd5.get()
    md.reset()
    val d = md.digest(bytes)
    var l = 0L
    var i = 0
    while (i < 8) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
    l >>> 4
  }

  /** First 32 bits of md5(bytes) — numerically equal to
    * parseLong(hex(md5)[0:8], 16) == conv(substr(md5(x),1,8),16,10).
    */
  private[functions] def md5High32(bytes: Array[Byte]): Long = {
    val md = localMd5.get()
    md.reset()
    val d = md.digest(bytes)
    var l = 0L
    var i = 0
    while (i < 4) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
    l
  }
}

/** 60-bit SimHash over an array<string> of tokens, multiplicity
  * weighted. Exactly equivalent to (and replacing) the interpreted
  * form:
  *   aggregate(sequence(0,59), 0L, (acc, j) -> acc +
  *     CASE WHEN aggregate(hs, 0, (s,v) -> s + IF((v>>j)&1=1, 1, -1)) > 0
  *          THEN 1L<<j ELSE 0 END)
  * with hs = md5-derived 60-bit token ids (first 15 hex chars) — the
  * contract locked by HashPortabilitySpec against DuckDB.
  */
case class SimHash60(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](60)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val tok = arr.getUTF8String(i)
      val h = GraftFunctions.md5High60(tok.getBytes)
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) sim |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sim)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash over the BYTE 4-gram windows of a string
  * (multiplicity weighted) — the perceptual-hash kernel behind
  * mm_phash. Bit-identical to the interpreted form
  *   graft_simhash60(transform(sequence(1, length(text)-3),
  *     i -> substring(text, i, 4)))
  * for single-byte (ASCII) input — mm_phash's payload guard enforces
  * that upstream — but hashes the windows straight off the UTF8String
  * bytes in one tight loop: no array materialization, no per-gram
  * string objects, ~100× less per-row overhead than the two stacked
  * interpreted HOFs (measured 9.6 s → sub-second on the sf0.1 corpus).
  * Fewer than 4 bytes ⇒ callers filter those rows out (the registered
  * op does); defensively returns 0 for them here.
  */
case class Phash60(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phash60"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val n = bytes.length - 3
    val counts = new Array[Int](60)
    val window = new Array[Byte](4)
    var i = 0
    while (i < n) {
      window(0) = bytes(i); window(1) = bytes(i + 1)
      window(2) = bytes(i + 2); window(3) = bytes(i + 3)
      val h = GraftFunctions.md5High60(window)
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) sim |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sim)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word 3-gram shingles over an array<string> of tokens,
  * first-occurrence order — exactly equivalent to the interpreted
  *   array_distinct(transform(sequence(1, size(toks)-2),
  *     i -> element_at(toks,i) || ' ' || element_at(toks,i+1) || ' ' || element_at(toks,i+2)))
  * (which costs ~40µs/shingle interpreted; this is ~1µs/doc).
  * Fewer than 3 tokens ⇒ empty array.
  */
case class Shingles3(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_shingles3"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n - 2) {
      seen.add(arr.getUTF8String(i) + " " + arr.getUTF8String(i + 1) + " " + arr.getUTF8String(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 32-slot MinHash signature over an array<string> of shingles —
  * equivalent to, per permutation i:
  *   array_min(transform(sids, x -> (a_i*x + b_i) % 2147483647))
  * with sids = array_distinct(transform(sh, g ->
  *   CAST(conv(substr(md5(g),1,8),16,10) AS BIGINT) % 2147483647)).
  * (min is order-insensitive, so distinct-ness of sids is immaterial;
  * ids are < 2^31 so a*x+b stays < 2^62.)
  */
case class MinHash32(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val perms = GraftFunctions.minhashPerms
    val mins = Array.fill(perms.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val sid = GraftFunctions.md5High32(arr.getUTF8String(i).getBytes) % GraftFunctions.MersennePrime
      var p = 0
      while (p < perms.length) {
        val (a, b) = perms(p)
        val h = (a * sid + b) % GraftFunctions.MersennePrime
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dot product of two array<double> columns: sequential left-to-right
  * accumulation — the same fold order as
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (s,v) -> s+v)`, so
  * results are bit-identical to the interpreted form — INCLUDING the
  * null semantics: zip_with null-pads a shorter side and a null
  * element poisons the sum, so ragged inputs and null elements yield
  * NULL (not a silent partial dot product).
  *
  * Unlike the per-document kernels above, this one participates in
  * whole-stage codegen (`doGenCode`): it sits inside O(n²) candidate
  * loops (dedup_embedding, sim_*), where the fallback's per-call
  * boxing would dominate.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      s += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
