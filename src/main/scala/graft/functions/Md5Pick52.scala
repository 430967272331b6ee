package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native fused sampling pick: `md5_pick52(a, b)` → the first 13 md5 hex
  * chars of the ASCII text `"<a>:<b>"` as a 52-bit unsigned value in a long
  * — exactly `conv(substring(md5(concat(a, ':', b)), 1, 13), 16, 10)`.
  *
  * Why an expression: deterministic popularity-proposal negative sampling
  * ([[graft.MetricsQueries.qNegativeSamples]]) evaluates this pick once per
  * (user, candidate) — #users × 200 rows, the suite's largest per-row
  * expression bill. The built-in chain allocates, per row, a UTF8String
  * concat, a 32-char hex STRING from `md5`, a substring slice, and a
  * base-16 string parse in `conv`. Fused, the decimal digits are written
  * straight into a per-thread byte buffer, one MD5 digest runs over it, and
  * the 52-bit prefix is assembled from the first 6½ digest bytes — zero
  * per-row allocation, bit-identical to the built-in chain (and to the
  * DuckDB oracle's `('0x' || substr(md5(...), 1, 13))::BIGINT`) because the
  * digested bytes ARE the same ASCII text. 52 bits so the value is exact in
  * a double too (the TopKAggregator's score type).
  */
case class Md5Pick52(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_pick52"

  override def nullSafeEval(a: Any, b: Any): Any =
    Md5Pick52.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions
                           .codegen.CodegenContext,
                         ev: org.apache.spark.sql.catalyst.expressions
                           .codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Md5Pick52.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression)
      : Md5Pick52 = copy(left = newLeft, right = newRight)
}

object Md5Pick52 {
  // "<long>:<long>" is at most 20 + 1 + 20 ASCII bytes
  private val bufLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](48)
  }

  /** Append v's decimal ASCII digits (Long.toString bytes) at `pos`;
    * returns the new position. Digits are written back-to-front into the
    * value's final span — no intermediate String.
    */
  private def writeLong(buf: Array[Byte], pos: Int, v: Long): Int = {
    if (v < 0) {
      // ids are non-negative on every call path; keep the rare branch
      // correct (incl. Long.MinValue) without complicating the hot one
      val s = java.lang.Long.toString(v)
      var i = 0
      while (i < s.length) { buf(pos + i) = s.charAt(i).toByte; i += 1 }
      return pos + s.length
    }
    var n = 1
    var t = v
    while (t >= 10) { t /= 10; n += 1 }
    var i = pos + n - 1
    var x = v
    while (i >= pos) {
      buf(i) = ('0' + (x % 10).toInt).toByte
      x /= 10
      i -= 1
    }
    pos + n
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(a: Long, b: Long): Long = {
    val buf = bufLocal.get()
    var pos = writeLong(buf, 0, a)
    buf(pos) = ':'.toByte
    pos += 1
    pos = writeLong(buf, pos, b)
    val md = SimHash32.md5Local.get()
    md.reset()
    md.update(buf, 0, pos)
    val d = md.digest()
    // first 13 hex chars = bytes 0..5 in full + the high nibble of byte 6
    ((d(0) & 0xffL) << 44) | ((d(1) & 0xffL) << 36) |
      ((d(2) & 0xffL) << 28) | ((d(3) & 0xffL) << 20) |
      ((d(4) & 0xffL) << 12) | ((d(5) & 0xffL) << 4) |
      ((d(6) & 0xffL) >>> 4)
  }

  def md5Pick52(a: Column, b: Column): Column =
    ColumnBridge.column(Md5Pick52(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
