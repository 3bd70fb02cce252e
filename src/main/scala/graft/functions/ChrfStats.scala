package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row character-n-gram overlap counts — the exact integer kernel
  * under chrF (Popović, WMT 2015): for one (candidate, reference) pair
  * and every order n ∈ 1..maxN,
  *
  *   tc_n = candidate n-gram count   (len_c − n + 1, floored at 0)
  *   tr_n = reference n-gram count
  *   m_n  = clipped matches = Σ_g min(count_c(g), count_r(g))
  *
  * run ONCE per row inside whole-stage codegen. This replaces the
  * distributed spelling (explode both sides to an (id, n, gram) plane,
  * shuffle, two rollups) with zero-shuffle per-row compute — the
  * [[UnigramFns]]/[[LcsLen]] discipline: chrF is a SEGMENT metric, so
  * per-row work is bounded by the caller's segment cap, not the corpus.
  *
  * Gram identity is the SQL one: positions count CODE POINTS (the
  * `substring` the exploded spelling used), equality is byte equality
  * of the UTF-8 slice. Counting is one byte-offset precomputation per
  * side, then per order a hash map of zero-copy byte-range slices —
  * O(maxN · len) time, no string materialization.
  *
  * NULL candidate or reference → NULL (absent data, not zero overlap).
  */
object ChrfKernel {

  /** m/tc/tr per order, orders 1..maxN in array order; null-boxed. */
  def gramStats(cand: UTF8String, ref: UTF8String, maxN: Int): ArrayData = {
    if (cand == null || ref == null) return null
    val cb = cand.getBytes
    val rb = ref.getBytes
    val co = codePointOffsets(cb)
    val ro = codePointOffsets(rb)
    val nc = co.length - 1
    val nr = ro.length - 1
    val out = new Array[Any](maxN)
    var n = 1
    while (n <= maxN) {
      val tc = math.max(0, nc - n + 1)
      val tr = math.max(0, nr - n + 1)
      var m = 0L
      if (tc > 0 && tr > 0) {
        // candidate gram multiset; ref grams consume matches (the clip)
        val counts = new java.util.HashMap[UTF8String, Array[Int]](tc * 2)
        var i = 0
        while (i < tc) {
          val g = UTF8String.fromBytes(cb, co(i), co(i + n) - co(i))
          val c = counts.get(g)
          if (c == null) counts.put(g, Array(1)) else c(0) += 1
          i += 1
        }
        var j = 0
        while (j < tr) {
          val g = UTF8String.fromBytes(rb, ro(j), ro(j + n) - ro(j))
          val c = counts.get(g)
          if (c != null && c(0) > 0) { c(0) -= 1; m += 1L }
          j += 1
        }
      }
      out(n - 1) = new GenericInternalRow(
        Array[Any](m, tc.toLong, tr.toLong))
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Byte offset of every character boundary, plus the end sentinel —
    * the same character positions SQL `substring` and `length` address.
    * Characters are stepped the way `UTF8String` steps them: by the
    * length its first byte announces, clamped at the end of the array,
    * so malformed UTF-8 counts the same here as in Spark. Shared with
    * the other per-row text kernels ([[WinnowKernel]]).
    */
  private[functions] def codePointOffsets(b: Array[Byte]): Array[Int] = {
    var chars = 0
    var i = 0
    while (i < b.length) { chars += 1; i += UTF8String.numBytesForFirstByte(b(i)) }
    val off = new Array[Int](chars + 1)
    var k = 0
    i = 0
    while (k < chars) { off(k) = i; k += 1; i += UTF8String.numBytesForFirstByte(b(i)) }
    off(chars) = b.length
    off
  }
}

/** Per-row token-n-gram clipped-match counts — the exact integer kernel
  * under sentence BLEU-4 (Papineni et al., ACL 2002): for one
  * (candidate tokens, reference tokens) pair and every order n ∈ 1..4,
  *
  *   t_n = candidate n-gram count (len_c − n + 1, floored at 0)
  *   m_n = modified-precision matches = Σ_g min(count_c(g), count_r(g))
  *
  * Gram identity is EXACTLY the distributed spelling's: the n tokens
  * joined with U+0001 compared as one string — so every count is
  * bit-identical to the explode → count → clip-join plan and to the SQL
  * oracle. An empty side yields zero counts (callers coalesce a NULL
  * side to an empty array — the left-join semantics of the exploded
  * spelling — and mask NULLs themselves).
  */
object BleuKernel {

  private val Sep = UTF8String.fromString("\u0001")

  /** (m, t) per order 1..4, in array order. */
  def gramStats(cand: ArrayData, ref: ArrayData): ArrayData = {
    val nc = if (cand == null) 0 else cand.numElements()
    val nr = if (ref == null) 0 else ref.numElements()
    val ct = new Array[UTF8String](nc)
    var i = 0
    while (i < nc) {
      ct(i) = if (cand.isNullAt(i)) UTF8String.EMPTY_UTF8
        else cand.getUTF8String(i)
      i += 1
    }
    val rt = new Array[UTF8String](nr)
    var j = 0
    while (j < nr) {
      rt(j) = if (ref.isNullAt(j)) UTF8String.EMPTY_UTF8
        else ref.getUTF8String(j)
      j += 1
    }
    def gram(ts: Array[UTF8String], start: Int, n: Int): UTF8String =
      if (n == 1) ts(start)
      else {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = ts(start + k); k += 1 }
        UTF8String.concatWs(Sep, parts: _*)
      }
    val out = new Array[Any](4)
    var n = 1
    while (n <= 4) {
      val t = math.max(0, nc - n + 1)
      val tr = math.max(0, nr - n + 1)
      var m = 0L
      if (t > 0 && tr > 0) {
        val counts = new java.util.HashMap[UTF8String, Array[Int]](tr * 2)
        var a = 0
        while (a < tr) {
          val g = gram(rt, a, n)
          val c = counts.get(g)
          if (c == null) counts.put(g, Array(1)) else c(0) += 1
          a += 1
        }
        var b = 0
        while (b < t) {
          val g = gram(ct, b, n)
          val c = counts.get(g)
          if (c != null && c(0) > 0) { c(0) -= 1; m += 1L }
          b += 1
        }
      }
      out(n - 1) = new GenericInternalRow(Array[Any](m, t.toLong))
      n += 1
    }
    new GenericArrayData(out)
  }
}

/** (array<string>, array<string>) → array<struct<m:bigint, t:bigint>>
  * of length 4 via [[BleuKernel.gramStats]]. Callers coalesce NULL
  * sides to empty arrays (zero counts) and mask NULLs themselves.
  */
case class BleuGramStats(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got " +
          s"${a.catalogString} and ${b.catalogString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("m", LongType, nullable = false),
      StructField("t", LongType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BleuKernel.gramStats(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BleuKernel.gramStats($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bleu_gram_stats"
}

/** (string, string) → array<struct<m:bigint, tc:bigint, tr:bigint>> of
  * length maxN via [[ChrfKernel.gramStats]]. Corpus-scale: codegen'd
  * static-kernel call, zero shuffles.
  */
case class ChrfGramStats(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression {

  require(maxN >= 1 && maxN <= 10, s"maxN must be in [1,10], got $maxN")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got " +
          s"${a.catalogString} and ${b.catalogString}")
    }

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("m", LongType, nullable = false),
      StructField("tc", LongType, nullable = false),
      StructField("tr", LongType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ChrfKernel.gramStats(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |${ev.value} = graft.functions.ChrfKernel.gramStats($a, $b, $maxN);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "chrf_gram_stats"
}
