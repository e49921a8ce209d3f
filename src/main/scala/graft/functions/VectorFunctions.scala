package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst kernels for embedding math (SURVEY.md §7.3's one
  * custom-Expression candidate).
  *
  * The composed form (`zip_with` + `aggregate`) materializes an
  * intermediate array per row and walks it through generic array
  * lambdas. These fused kernels run a single primitive loop over the
  * float arrays ([[VectorKernels]]) inside whole-stage codegen — no
  * allocation, no virtual calls — and produce bit-identical doubles
  * (same left-to-right accumulation over float→double casts), so oracle
  * parity is unaffected. The specs pin each one to its composed form:
  * KernelReferenceSpec for l2sq_fd and self_cosine, VectorFunctionsSpec
  * for dot_product and cosine_sim.
  */

/** dot(a, b) over array<float>, accumulated in double, left to right. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData]("VectorKernels.dot") {
  override def dataType: DataType = DoubleType
  override protected def kernel(a: ArrayData, b: ArrayData): Any = VectorKernels.dot(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (x−c)² over (array<float> v, array<double> centroid), accumulated
  * in double left to right — the fused form of the composed
  * `aggregate(zip_with(v.cast(array<double>), centroid,
  * (x,y) => (x−y)·(x−y)))` centroid distance (IVF assign/probe,
  * centroid outliers), whose two lambdas ran INTERPRETED per element.
  * Bit-identical: float→double widening is exact and the accumulation
  * order is unchanged. */
case class L2SqDist(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData]("VectorKernels.l2sq") {
  override def dataType: DataType = DoubleType
  override protected def kernel(v: ArrayData, c: ArrayData): Any = VectorKernels.l2sq(v, c)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) fused in one pass: dot and both norms in a single loop. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData]("VectorKernels.cosine") {
  override def dataType: DataType = DoubleType
  override protected def kernel(a: ArrayData, b: ArrayData): Any = VectorKernels.cosine(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine_sim(x, x) reduced to one pass over x: na/(sqrt(na)·sqrt(na))
  * with na accumulated in the same element order as CosineSimilarity —
  * bit-identical results (including NULL for null input and NaN for
  * zero/empty vectors, which a fold to literal 1.0 would erase) at a
  * third of the FLOPs. Target of the SimplifySelfCosine optimizer rule. */
case class SelfCosine(child: Expression)
    extends UnaryKernel[ArrayData]("VectorKernels.selfCosine") {
  override def dataType: DataType = DoubleType
  override protected def kernel(a: ArrayData): Any = VectorKernels.selfCosine(a)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Random-hyperplane LSH (Charikar, STOC 2002; Indyk–Motwani 1998 for
  * the LSH framework) bucket for an array<float> embedding: bit b of
  * the code is the sign of the dot product with a pseudo-random ±1
  * hyperplane derived from a splitmix64 mix of (table, b, i).
  * Cosine-similar vectors agree on most sign bits, so they collide in
  * buckets — the subquadratic candidate-generation step for ANN /
  * embedding dedup at corpus scale. A single code table misses pairs
  * at moderate similarity (P[collide] = (1−θ/π)^bits), so near-dup
  * operators probe several independent tables (distinct `table` values)
  * and union the candidates, exactly like MinHash banding.
  * Deterministic across partitions and engines. */
case class HyperplaneBucket(child: Expression, bits: Int, table: Int = 0)
    extends UnaryKernel[ArrayData]("VectorKernels.hyperplaneBucket", bits, table) {
  override def dataType: DataType = IntegerType
  override protected def kernel(v: ArrayData): Any =
    VectorKernels.hyperplaneBucket(v, bits, table)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorKernels {
  /** dot(a, b) over the common prefix, accumulated in double left to
    * right. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  /** Σ (v_i − c_i)² of a float vector against a double centroid over
    * the common prefix, accumulated left to right. */
  def l2sq(v: ArrayData, c: ArrayData): Double = {
    val n = math.min(v.numElements(), c.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = v.getFloat(i).toDouble - c.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** dot / (|a|·|b|) with the dot and both squared norms in one loop. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosine]] of a vector with itself, from its squared norm alone. */
  def selfCosine(a: ArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; na += x * x; i += 1 }
    na / (math.sqrt(na) * math.sqrt(na))
  }

  /** splitmix64 finalizer — stateless pseudo-randomness from an index. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Plane sign matrix cache: the ±1 components are pure functions of
    * (table, bit, element) via mix64, so they are materialized once per
    * (bits, tables, dim) and reused by every row. Deriving them inline
    * cost one mix64 per plane component per row — tables×bits×dim hash
    * calls/doc (~135k at the 500k-doc soak point, ~70% of the whole
    * near-dup pipeline); the cached matrix turns the projection into
    * pure sequential mult-adds. ~1 MB at (17 bits, 31 tables, 256 dims). */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def planeSigns(bits: Int, tables: Int, dim: Int): Array[Double] =
    signCache.computeIfAbsent((bits, tables, dim), _ => {
      val s = new Array[Double](tables * bits * dim)
      var t = 0
      while (t < tables) {
        var b = 0
        while (b < bits) {
          val base = (t * bits + b) * dim
          var i = 0
          while (i < dim) {
            s(base + i) =
              if ((mix64((t.toLong * 64 + b) * 1048573L + i) & 1L) == 1L) 1.0
              else -1.0
            i += 1
          }
          b += 1
        }
        t += 1
      }
      s
    })

  /** All probe tables' codes from one cached-plane projection. Per plane
    * the accumulation order is element-ascending with exact ±x terms —
    * bit-identical to the uncached per-element form (`hyperplaneBucket`
    * keeps that form and the fused-equals-per-table spec cross-checks
    * the cache). */
  def hyperplaneBuckets(v: ArrayData, bits: Int, tables: Int): ArrayData = {
    val n = v.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = v.getFloat(i).toDouble; i += 1 }
    val signs = planeSigns(bits, tables, n)
    val codes = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var code = 0
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * n
        var acc = 0.0
        var j = 0
        while (j < n) { acc += signs(base + j) * x(j); j += 1 }
        if (acc > 0) code |= (1 << b)
        b += 1
      }
      codes(t) = code
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Fraction of agreeing code bits across all probe tables — a popcount
    * over packed int codes, used as the cheap pre-filter before exact
    * verification (bit agreement estimates plane agreement p = 1−θ/π;
    * at 500+ total bits the estimator's σ is ~0.015, so a margin of
    * several σ below the design point loses nothing). */
  def codeAgreement(a: ArrayData, b: ArrayData, bits: Int): Double = {
    val t = math.min(a.numElements(), b.numElements())
    if (t == 0) return 0.0
    val mask = (1 << bits) - 1
    var agree = 0
    var i = 0
    while (i < t) {
      agree += java.lang.Integer.bitCount(~(a.getInt(i) ^ b.getInt(i)) & mask)
      i += 1
    }
    agree.toDouble / (t.toDouble * bits)
  }

  def hyperplaneBucket(v: ArrayData, bits: Int, table: Int): Int = {
    val n = v.numElements()
    val acc = new Array[Double](bits)
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      var b = 0
      while (b < bits) {
        if ((mix64((table.toLong * 64 + b) * 1048573L + i) & 1L) == 1L) acc(b) += x
        else acc(b) -= x
        b += 1
      }
      i += 1
    }
    var code = 0
    var b = 0
    while (b < bits) { if (acc(b) > 0) code |= (1 << b); b += 1 }
    code
  }
}

/** Catalyst expression: fraction of agreeing hyperplane-code bits
  * between two array<int> code columns (the cheap LSH pre-filter). */
case class CodeAgreement(left: Expression, right: Expression, bits: Int)
    extends BinaryKernel[ArrayData, ArrayData]("VectorKernels.codeAgreement", bits) {
  override def dataType: DataType = DoubleType
  override protected def kernel(a: ArrayData, b: ArrayData): Any =
    VectorKernels.codeAgreement(a, b, bits)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Catalyst expression: all probe-table hyperplane codes in one pass →
  * array<int> of length `tables`. */
case class HyperplaneBuckets(child: Expression, bits: Int, tables: Int)
    extends UnaryKernel[ArrayData]("VectorKernels.hyperplaneBuckets", bits, tables) {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernel(v: ArrayData): Any =
    VectorKernels.hyperplaneBuckets(v, bits, tables)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static kernel shared by Int8QuantStats eval and codegen paths. */
object QuantKernel {
  /** Symmetric int8 quantization stats in one pass: scale =
    * max|x|/127, q_i = floor(x_i/scale + 0.5) (floor, not round-half-up
    * — floor is the one midpoint rule Spark and DuckDB evaluate
    * identically on doubles), reconstruction error e_i = x_i − q_i·scale.
    * Accumulates mse left-to-right in double (the cross-engine-exact
    * order the oracle's list kernels use). A zero vector reports
    * scale 0 / zero error. */
  def int8Stats(a: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(a.getFloat(i).toDouble)
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = maxAbs / 127.0
    var sse = 0.0
    var maxErr = 0.0
    if (scale > 0) {
      i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val q = math.floor(x / scale + 0.5)
        val err = x - q * scale
        sse += err * err
        val ae = math.abs(err)
        if (ae > maxErr) maxErr = ae
        i += 1
      }
    }
    val mse = if (n > 0) sse / n else 0.0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, mse, maxErr))
  }
}

/** Catalyst expression: array<float> → struct(scale, mse, max_err)
  * int8-quantization error profile. */
case class Int8QuantStats(child: Expression)
    extends UnaryKernel[ArrayData]("QuantKernel.int8Stats") {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("mse", DoubleType, nullable = false),
    StructField("max_err", DoubleType, nullable = false)))
  override protected def kernel(v: ArrayData): Any = QuantKernel.int8Stats(v)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorFunctions {
  def dot_product(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def cosine_sim(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      CosineSimilarity(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Σ(x−c)² of an array<float> vector against an array<double>
    * centroid (fused, bit-identical to the composed zip_with form). */
  def l2sq_fd(v: Column, centroid: Column): Column =
    GraftSqlBridge.column(
      L2SqDist(GraftSqlBridge.expression(v), GraftSqlBridge.expression(centroid)))

  def hyperplane_bucket(v: Column, bits: Int, table: Int = 0): Column =
    GraftSqlBridge.column(HyperplaneBucket(GraftSqlBridge.expression(v), bits, table))

  /** All probe-table hyperplane codes as array<int> — carried through
    * band joins (tables ints) instead of the raw vector (dim floats) so
    * the shuffle stays narrow and the pre-filter is a popcount. */
  def hyperplane_codes(v: Column, bits: Int, tables: Int): Column =
    GraftSqlBridge.column(
      HyperplaneBuckets(GraftSqlBridge.expression(v), bits, tables))

  /** Per-table band keys `t·2^bits + code` from the packed code array.
    * Fused (optimization r18): `tables` is a plan-time constant, so the
    * array is a STATIC CreateArray of codegen'd element_at arithmetic —
    * the previous zip_with-over-sequence form ran its lambda
    * INTERPRETED per table per row (q48/q49 banding). Same values,
    * same int type, same order. */
  def codeBandKeys(codes: Column, bits: Int, tables: Int): Column =
    org.apache.spark.sql.functions.array((0 until tables).map(t =>
      org.apache.spark.sql.functions.element_at(codes, t + 1)
        + org.apache.spark.sql.functions.lit(t * (1 << bits))): _*)

  /** Multi-table LSH band keys straight from a vector: one
    * `t·2^bits + code` int per probe table. Explode + equi-join = union
    * of per-table candidate sets; the band key is a 4-byte int. */
  def lshBandKeys(v: Column, bits: Int, tables: Int): Column =
    codeBandKeys(hyperplane_codes(v, bits, tables), bits, tables)

  def int8_quant_stats(v: Column): Column =
    GraftSqlBridge.column(Int8QuantStats(GraftSqlBridge.expression(v)))

  /** Popcount bit-agreement fraction between two codes columns. */
  def code_agreement(a: Column, b: Column, bits: Int): Column =
    GraftSqlBridge.column(CodeAgreement(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b), bits))
}
