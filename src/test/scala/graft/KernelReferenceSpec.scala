package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashKernels, VectorFunctions}

/** Each text kernel the catalog runs, and the vector kernels whose loops
  * moved into `VectorKernels`, compared row for row with the composed
  * Spark expression it replaced. The composed forms are the reference
  * implementations: they live here, not in `src/main`. Text cases are
  * the shared seeded fixture ([[KernelTextFixture]]); vector cases come
  * from a second fixed-seed generator with null, empty, zero and NaN
  * vectors. */
class KernelReferenceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val fixture = new KernelTextFixture
  import fixture.{fixed, rnd, text}
  private lazy val docs = fixture.texts
    .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    .toDF("doc_id", "text")

  /** The tokenizer the kernels replaced. */
  private def composedTokens(c: Column): Column =
    filter(split(c, " "), x => x =!= "")

  /** Collect `(kernel, reference)` per doc and assert every row agrees;
    * also asserts the inputs exercised at least one null and one
    * non-trivial row. */
  private def assertSame(kernel: Column, reference: Column): Unit = {
    val rows = docs.select(col("doc_id"), col("text"),
        kernel.as("k"), reference.as("r"))
      .orderBy("doc_id").collect()
    assert(rows.length == fixed.length + 300)
    val bad = rows.filter(r => r.get(2) != r.get(3))
    assert(bad.isEmpty, bad.take(5).map(r =>
      s"doc ${r.getLong(0)} '${r.getString(1)}': ${r.get(2)} vs ${r.get(3)}")
      .mkString("; "))
    assert(rows.exists(_.isNullAt(1)) && rows.exists(r => !r.isNullAt(2)))
  }

  test("token_array equals filter(split(c, \" \"), _ =!= \"\")") {
    assertSame(HashKernels.token_array(col("text")), composedTokens(col("text")))
  }

  test("token_hits equals size(filter(tokens, isin))") {
    val words = Seq("the", "a", "Zoë", "😀", "tab\tbed")
    assertSame(HashKernels.token_hits(col("text"), words),
      size(filter(composedTokens(col("text")), x => x.isin(words: _*))))
  }

  test("token_bigrams equals the zip_with over two slices") {
    val kernel = docs.select(col("doc_id"),
        posexplode(HashKernels.token_bigrams(col("text"))))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
    val tk = composedTokens(col("text"))
    val reference = docs.select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), posexplode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.orderBy("doc_id", "pos").collect().toSeq
    val (k, r) = (rows(kernel), rows(reference))
    assert(k.nonEmpty)
    assert(k == r, k.zip(r).find(p => p._1 != p._2))
  }

  test("sorted_para_join equals array_join(transform(array_sort(...)))") {
    // paragraphs with a per-doc unique, shuffled para_idx; `keep` plays
    // the dedup tail's is_first (a dropped paragraph collects as null)
    val paras = docs.as[(Long, Option[String])].collect().toSeq.flatMap {
      case (id, _) =>
        val n = rnd.nextInt(6)
        rnd.shuffle((0 until n).toList).map(i =>
          (id, i, if (rnd.nextInt(20) == 0) None else Some(text()),
            rnd.nextInt(4) != 0))
    }.toDF("doc_id", "para_idx", "para", "keep")
    val arr = paras.groupBy("doc_id").agg(collect_list(
      when(col("keep"), struct(col("para_idx"), col("para")))).as("arr"))
    val rows = arr.select(col("doc_id"),
        HashKernels.sorted_para_join(col("arr")).as("k"),
        array_join(transform(array_sort(col("arr")),
          x => x.getField("para")), " ").as("r"))
      .orderBy("doc_id").collect()
    assert(rows.length > 100 && rows.exists(_.getString(1).nonEmpty))
    val bad = rows.filter(r => r.get(1) != r.get(2))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  /** (id, v array<float>, c array<double>) of equal lengths 0..8: null
    * and empty vectors, zero vectors, NaN and ±0 elements, and random
    * values of mixed sign. */
  private lazy val vectors = {
    val g = new scala.util.Random(11)
    def elem(): Float = g.nextInt(12) match {
      case 0 => 0.0f
      case 1 => -0.0f
      case 2 => Float.NaN
      case _ => (g.nextGaussian() * 3).toFloat
    }
    val fixedRows = Seq[(Option[Seq[Float]], Option[Seq[Double]])](
      (None, Some(Seq(1.0))), (Some(Seq(1.0f)), None), (None, None),
      (Some(Nil), Some(Nil)), (Some(Seq.fill(4)(0.0f)), Some(Seq.fill(4)(0.0))),
      (Some(Seq(Float.NaN, 1.0f)), Some(Seq(0.5, 0.5))))
    val generated = Seq.fill(200) {
      val n = g.nextInt(9)
      (Some(Seq.fill(n)(elem())), Some(Seq.fill(n)(g.nextGaussian())))
    }
    (fixedRows ++ generated).zipWithIndex.map { case ((v, c), i) => (i.toLong, v, c) }
      .toDF("id", "v", "c")
  }

  /** Compare `(kernel, reference)` doubles per vector row by their bits
    * (`doubleToLongBits`: NaN equals NaN, 0.0 differs from -0.0). */
  private def assertSameBits(kernel: Column, reference: Column): Unit = {
    val rows = vectors.select(col("id"), kernel.as("k"), reference.as("r"))
      .orderBy("id").collect()
    def bits(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
    val bad = rows.filter(r => bits(r, 1) != bits(r, 2))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    assert(rows.exists(_.isNullAt(1)) && rows.exists(r => !r.isNullAt(1) && r.getDouble(1).isNaN)
      && rows.count(r => !r.isNullAt(1) && !r.getDouble(1).isNaN) > 100)
  }

  test("l2sq_fd equals aggregate(zip_with(v.cast(array<double>), c, (x-y)^2)) bit for bit") {
    assertSameBits(VectorFunctions.l2sq_fd(col("v"), col("c")),
      aggregate(zip_with(col("v").cast("array<double>"), col("c"),
        (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))
  }

  test("self_cosine equals the composed cosine(x, x) bit for bit") {
    // the composed form divides by zero (an ANSI error) where the kernel
    // returns NaN, for zero and empty vectors
    val x = col("v").cast("array<double>")
    assertSameBits(expr("self_cosine(v)"),
      when(ReferenceForms.dot(x, x) === 0, lit(Double.NaN)).otherwise(ReferenceForms.cosine(x, x)))
  }

  test("length(translate(text, \" \", \"\")) equals the summed token lengths") {
    assertSame(length(translate(col("text"), " ", "")).cast("long"),
      aggregate(transform(composedTokens(col("text")),
        x => length(x).cast("long")), lit(0L), _ + _))
  }
}
