package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The array form of the MinHash signature: a shingle array in, the
  * k-long signature out. Specs use it as the reference that
  * `MinHashKernel.shingleSignature`, which shingles and hashes in one
  * pass, must equal; no query needs it. */
object MinHashReference {

  /** One pass over the shingle array → k-long minhash signature. Null
    * (not a MaxValue sentinel) for an empty shingle set, like
    * `shingleSignature` for a doc too short to shingle. */
  def signature(shingles: ArrayData, k: Int): ArrayData = {
    if (shingles.numElements() == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    val n = shingles.numElements()
    while (j < n) {
      val s = shingles.getUTF8String(j)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      MinHashKernel.accumulate(h, mins, k)
      j += 1
    }
    new GenericArrayData(mins)
  }

  def minhash_signature(shingles: Column, k: Int): Column =
    GraftSqlBridge.column(MinHashSignature(GraftSqlBridge.expression(shingles), k))
}

/** Catalyst expression: array<string> shingles → array<long> signature
  * (null for an empty shingle set). */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryKernel[ArrayData]("MinHashReference.signature", k) {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullResult: Boolean = true
  override protected def kernel(a: ArrayData): Any = MinHashReference.signature(a, k)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
