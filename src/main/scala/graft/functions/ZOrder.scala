package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) bit interleaving — the multi-dimensional layout key
  * behind data-skipping clustering (Morton 1966; the technique Delta
  * Lake's OPTIMIZE ZORDER BY and Iceberg's sort orders apply): sorting
  * rows by the interleaved key places rows close in BOTH dimensions
  * close on disk, so per-file min/max statistics prune scans for
  * predicates on EITHER column — a plain lexicographic sort only serves
  * its leading column.
  *
  * JVM kernel + codegen'd Catalyst expression (a 16-iteration
  * shift/mask loop; the composed `aggregate(sequence(0,15),…)` form
  * would run as an interpreted higher-order lambda per row).
  */
object ZOrderKernel {
  /** Interleave the low 16 bits of a and b: bit i of `a` lands at 2i,
    * bit i of `b` at 2i+1. Total 32 result bits — non-negative long.
    * Inputs are masked to 16 bits EXPLICITLY: values ≥ 2^16 alias onto
    * their low half, so callers must quantile/bucket-scale wider
    * domains into [0, 65535] first (the standard z-order prep — the
    * clustering only needs rank order, not raw values). */
  def interleave16(a: Long, b: Long): Long = {
    val am = a & 0xFFFFL
    val bm = b & 0xFFFFL
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((am >> i) & 1L) << (2 * i)
      z |= ((bm >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

/** Catalyst expression: (long, long) → 32-bit Morton interleave of the
  * two low-16-bit halves. Declares bigint inputs so a mistyped SQL call
  * (`z_order16(int_col, …)`) fails cleanly at analysis time instead of
  * ClassCastException-ing in interpreted eval. */
case class ZOrderCode(left: Expression, right: Expression)
    extends BinaryKernel[Long, Long]("ZOrderKernel.interleave16") {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"z_order16 requires (bigint, bigint) arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = LongType
  override protected def kernel(a: Long, b: Long): Any = ZOrderKernel.interleave16(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ZOrder {
  def z_order16(a: Column, b: Column): Column =
    GraftSqlBridge.column(ZOrderCode(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
