package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Every kernel evaluated twice over the same rows: by Spark's
  * interpreted projection (`eval`, so `nullSafeEval`) and by its
  * generated one (`doGenCode`, compiled by janino). The two unsafe rows
  * must be equal byte for byte. A kernel whose method returns null for a
  * non-null input without the template's `nullResult` flag fails here,
  * and so does any kernel whose two paths run different code.
  *
  * Inputs: the shared seeded text fixture ([[KernelTextFixture]]);
  * vectors that are null, empty, zero, NaN or of unequal lengths;
  * binaries that are null, empty, a short RIFF/WAV header, a full WAV,
  * a PNG header and random bytes; longs with the sign and high bits
  * set. */
class KernelCodegenSpec extends AnyFunSuite {

  private val g = new scala.util.Random(13)
  private def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
  private def row(vs: Any*): InternalRow = InternalRow.fromSeq(vs)

  private val texts: Seq[UTF8String] =
    new KernelTextFixture().texts.map(_.map(UTF8String.fromString).orNull)
  private val text = in(0, StringType)
  private val textRows = texts.map(row(_))

  private def floats(n: Int): ArrayData = ArrayData.toArrayData(Array.fill(n)(g.nextInt(10) match {
    case 0 => 0.0f
    case 1 => Float.NaN
    case _ => (g.nextGaussian() * 2).toFloat
  }))
  private val floatVecs: Seq[ArrayData] = Seq(null, ArrayData.toArrayData(Array.emptyFloatArray),
    ArrayData.toArrayData(Array.fill(4)(0.0f)), ArrayData.toArrayData(Array(Float.NaN, 1.0f)),
    ArrayData.toArrayData(Array(1.0f, -2.0f, 3.0f))) ++ Seq.fill(40)(floats(g.nextInt(17)))
  private val vec = in(0, ArrayType(FloatType, containsNull = false))
  /** Pairs of float vectors: equal lengths, unequal lengths, and nulls. */
  private val vecPairs: Seq[InternalRow] = floatVecs.map(v => row(v, v)) ++
    floatVecs.zip(floatVecs.tail).map { case (a, b) => row(a, b) } ++
    Seq(row(ArrayData.toArrayData(Array(1.0f, 2.0f, 3.0f)), ArrayData.toArrayData(Array(0.5f, -1.0f))))
  private val centroidRows: Seq[InternalRow] = floatVecs.map { v =>
    val n = if (v == null) 2 else v.numElements() + g.nextInt(2) - g.nextInt(2)
    row(v, ArrayData.toArrayData(Array.fill(math.max(n, 0))(g.nextGaussian())))
  } :+ row(ArrayData.toArrayData(Array(1.0f)), null)
  private val codeRows: Seq[InternalRow] = Seq(row(null, null), row(ArrayData.toArrayData(Array(1)), null),
    row(ArrayData.toArrayData(Array.emptyIntArray), ArrayData.toArrayData(Array.emptyIntArray)),
    row(ArrayData.toArrayData(Array(-1, 7, 0)), ArrayData.toArrayData(Array(3, 7)))) ++
    Seq.fill(30)(row(ArrayData.toArrayData(Array.fill(4)(g.nextInt())),
      ArrayData.toArrayData(Array.fill(4)(g.nextInt(256)))))

  private def le32(n: Int): Array[Byte] = Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
  private def wav(samples: Int, declared: Int): Array[Byte] = {
    val body = Array.fill(2 * samples)(g.nextInt(256).toByte)
    "RIFF".getBytes ++ le32(body.length + 36) ++ "WAVEfmt ".getBytes ++ le32(16) ++
      Array.fill(16)(1.toByte) ++ "data".getBytes ++ le32(declared) ++ body
  }
  private val png: Array[Byte] = Array(0x89, 'P', 'N', 'G', 13, 10, 26, 10, 0, 0, 0, 13)
    .map(_.toByte) ++ "IHDR".getBytes ++ Array.fill(13)(1.toByte) ++ Array.fill(4)(0.toByte) ++
    Array.fill(300)(g.nextInt(256).toByte)
  private val binaryRows: Seq[InternalRow] = (Seq(null, Array.emptyByteArray, wav(10, 20),
    wav(400, 800), wav(400, 4000), png) ++
    Seq.fill(20)(Array.fill(g.nextInt(200))(g.nextInt(256).toByte))).map(row(_))

  private val longs: Seq[Any] = Seq(null, 0L, -1L, Long.MinValue, Long.MaxValue, 1L << 59,
    (1L << 60) - 1, 0xFFFFL, 0x10000L) ++ Seq.fill(20)(g.nextLong())
  private val longPairs: Seq[InternalRow] = longs.map(a => row(a, longs(g.nextInt(longs.size)))) :+
    row(7L, null)

  /** Disjoint (s, e) token runs in shuffled order, or null. */
  private def runs(): ArrayData = if (g.nextInt(10) == 0) null else {
    val out = Seq.newBuilder[InternalRow]
    var p = g.nextInt(3)
    while (p < 9 && g.nextBoolean()) {
      val e = p + g.nextInt(3)
      out += row(p.toLong, e.toLong)
      p = e + 2 + g.nextInt(2)
    }
    new GenericArrayData(g.shuffle(out.result()).toArray[Any])
  }
  private val runsType = ArrayType(StructType(Seq(StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false))), containsNull = false)

  /** Shuffled (para_idx, para) arrays with a null element and null paras. */
  private val paraRows: Seq[InternalRow] = row(null) +: Seq.fill(60) {
    val n = g.nextInt(6)
    new GenericArrayData(g.shuffle((0 until n).toList).map { i =>
      if (g.nextInt(12) == 0) null else row(i, texts(g.nextInt(texts.size)))
    }.toArray[Any])
  }.map(row(_))
  private val paraType = ArrayType(StructType(Seq(StructField("para_idx", IntegerType),
    StructField("para", StringType))))

  private val weights: ArrayData = ArrayData.toArrayData(Array.fill(65536)(g.nextLong() >> 40))

  private val cases: Seq[(String, Expression, Seq[InternalRow])] = Seq(
    ("ShingleMinHash", ShingleMinHash(text, 2, 16), textRows),
    ("SimHash64", SimHash64(text), textRows),
    ("SimHashMd5", SimHashMd5(text), textRows),
    ("WinnowFingerprintMd5", WinnowFingerprintMd5(text, 3, 2), textRows),
    ("WinnowFingerprint", WinnowFingerprint(text, 3, 2), textRows),
    ("ShingleArray", ShingleArray(text, 2), textRows),
    ("GramDigests", GramDigests(text, 2), textRows),
    ("TokenChunks", TokenChunks(text, 2), textRows),
    ("ShingleTfVector", ShingleTfVector(text, 2, 8), textRows),
    ("HashedTfVector", HashedTfVector(text, 8), textRows),
    ("TokenHits", TokenHits(text, Seq("the", "a", "Zoë", "😀", "tab\tbed")), textRows),
    ("TokenArray", TokenArray(text), textRows),
    ("TokenBigrams", TokenBigrams(text), textRows),
    ("CharStats", CharStats(text), textRows),
    ("RepetitionStats", RepetitionStats(text), textRows),
    ("TrigramHits", TrigramHits(text, Seq("the", "cat", "he ", " a ")), textRows),
    ("SampledGramDigests", SampledGramDigests(text, 2), textRows),
    ("SpanSurgery", SpanSurgery(text, in(1, runsType)), texts.map(row(_, runs()))),
    ("SortedParaJoin", SortedParaJoin(in(0, paraType)), paraRows),
    ("MinHashSignature", MinHashSignature(in(0, ArrayType(StringType, containsNull = false)), 16),
      texts.map(t => row(if (t == null) null else MinHashKernel.shingleArray(t, 2)))),
    ("LinearTextScore", LinearTextScore(text, in(1, ArrayType(LongType, containsNull = false))),
      texts.map(row(_, weights)) :+ row(texts(1), null)),
    ("DotProduct", DotProduct(vec, in(1, vec.dataType)), vecPairs),
    ("L2SqDist", L2SqDist(vec, in(1, ArrayType(DoubleType, containsNull = false))), centroidRows),
    ("CosineSimilarity", CosineSimilarity(vec, in(1, vec.dataType)), vecPairs),
    ("SelfCosine", SelfCosine(vec), floatVecs.map(row(_))),
    ("HyperplaneBucket", HyperplaneBucket(vec, 8, 1), floatVecs.map(row(_))),
    ("HyperplaneBuckets", HyperplaneBuckets(vec, 6, 3), floatVecs.map(row(_))),
    ("Int8QuantStats", Int8QuantStats(vec), floatVecs.map(row(_))),
    ("CodeAgreement", CodeAgreement(in(0, ArrayType(IntegerType, containsNull = false)),
      in(1, ArrayType(IntegerType, containsNull = false)), 8), codeRows),
    ("MediaPHash", MediaPHash(in(0, BinaryType)), binaryRows),
    ("AudioPHash", AudioPHash(in(0, BinaryType)), binaryRows),
    ("HammingBandKeys narrow", HammingBandKeys(in(0, LongType), wide = false), longs.map(row(_))),
    ("HammingBandKeys wide", HammingBandKeys(in(0, LongType), wide = true), longs.map(row(_))),
    ("ZOrderCode", ZOrderCode(in(0, LongType), in(1, LongType)), longPairs))

  test("the table holds every kernel class") {
    val covered = cases.map(_._2.getClass).toSet[Class[_]]
    val kernels = KernelCensusSpec.kernelClasses.toSet + classOf[MinHashSignature]
    assert(kernels.size == 33 && (kernels -- covered).isEmpty,
      s"kernels with no row: ${(kernels -- covered).map(_.getSimpleName)}")
  }

  test("every kernel survives Java serialization") {
    val ser = new org.apache.spark.serializer.JavaSerializer(new org.apache.spark.SparkConf())
      .newInstance()
    cases.foreach { case (label, e, _) =>
      val back = ser.deserialize[Expression](ser.serialize(e))
      assert(back == e, label)
    }
  }

  cases.foreach { case (label, e, rows) =>
    test(s"$label: interpreted eval matches codegen") {
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
      val generated = GenerateUnsafeProjection.generate(Seq(e), false)
      def show(r: InternalRow) =
        if (r.isNullAt(0)) "null"
        else CatalystTypeConverters.convertToScala(r.get(0, e.dataType), e.dataType).toString
      val bad = rows.iterator.zipWithIndex.flatMap { case (r, i) =>
        val (a, b) = (interpreted(r).copy(), generated(r).copy())
        if (a == b) None else Some(s"row $i: eval ${show(a)} vs codegen ${show(b)}")
      }.take(5).toList
      assert(bad.isEmpty, bad.mkString("; "))
      assert(rows.exists(r => !interpreted(r).isNullAt(0)), s"$label: every row came out null")
    }
  }
}
