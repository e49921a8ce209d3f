package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Combinatorial Hamming band keys for the exact ≤3-bit near-dup
  * retrieval of the media/audio fingerprint family (the PartEnum /
  * Greene-Parnas-Yao pigeonhole scheme — see the q182 scaladoc in
  * [[graft.llm.MultimodalOps]]).
  *
  * NARROW: six 10-bit blocks of the 60-bit fingerprint, one key per
  * C(6,3) = 20 block triple (bval = blk(t0) | blk(t1)<<10 | blk(t2)<<20).
  * WIDE: ten 6-bit blocks, one key per C(10,7) = 120 block 7-subset
  * (bval = Σ blk(t_k) << 6k). Both pack the band index and value into
  * ONE long — key = (bno << [[BandKeyKernel.BvalBits]]) | bval — so the
  * bucket join keys on a single 8-byte column.
  *
  * A fused kernel rather than composed column expressions because the
  * wide width's 120 inline subset expressions blew whole-stage codegen
  * past janino's 64 KB method limit (r16 verdict item 1: the 2M-doc
  * soak's wide arm ran INTERPRETED — `docs/soak_r16_scale.log:255`,
  * "Code grows beyond 64 KB"), which both slowed the wide path and
  * biased the measured break-even that arms it. The kernel is one
  * static JVM loop over precomputed subsets; the generated code is a
  * single call, so the stage stays codegen'd at either width. One
  * static kernel shared by eval and codegen so the paths cannot
  * diverge (the [[MediaHashKernel]] pattern).
  */
object BandKeyKernel {

  /** Bits reserved for bval in the fused key: the wide width's 7×6-bit
    * concatenation is exactly 42 bits (narrow's 30 fits below it), and
    * bno ≤ 119 rides above in 7 bits — the fused key stays ≤ 2^49,
    * comfortably a non-negative long. */
  final val BvalBits = 42

  private val narrowSubsets: Array[Array[Int]] =
    (0 until 6).combinations(3).map(_.toArray).toArray
  private val wideSubsets: Array[Array[Int]] =
    (0 until 10).combinations(7).map(_.toArray).toArray

  final val NarrowBands: Int = narrowSubsets.length // 20
  final val WideBands: Int = wideSubsets.length     // 120

  /** 60-bit fingerprint → fused (bno, bval) band keys, one long per
    * subset. The per-row work is a tight loop over int arrays — JIT
    * compiles it once, vs 120 inline expression trees per row. */
  def bandKeys(fp: Long, wide: Boolean): ArrayData = {
    val subsets = if (wide) wideSubsets else narrowSubsets
    val blockBits = if (wide) 6 else 10
    val mask = (1L << blockBits) - 1
    val out = new Array[Long](subsets.length)
    var bno = 0
    while (bno < subsets.length) {
      val t = subsets(bno)
      var bval = 0L
      var k = 0
      while (k < t.length) {
        bval |= ((fp >>> (t(k) * blockBits)) & mask) << (blockBits * k)
        k += 1
      }
      out(bno) = (bno.toLong << BvalBits) | bval
      bno += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column form: long fingerprint → array<long> of fused band keys. */
  def band_keys(fp: Column, wide: Boolean): Column =
    GraftSqlBridge.column(HammingBandKeys(GraftSqlBridge.expression(fp), wide))
}

/** Catalyst expression: 60-bit fingerprint → fused combinatorial band
  * keys (array<long>, never null elements; null only for null input). */
case class HammingBandKeys(child: Expression, wide: Boolean)
    extends UnaryKernel[Long]("BandKeyKernel.bandKeys", wide) {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernel(fp: Long): Any = BandKeyKernel.bandKeys(fp, wide)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
