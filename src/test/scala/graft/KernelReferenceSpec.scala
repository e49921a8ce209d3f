package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashKernels

/** Each text kernel the catalog runs compared, row for row, with the
  * composed Spark expression it replaced. The composed forms are the
  * reference implementations: they live here, not in `src/main`. Cases
  * come from a fixed-seed generator (the scalatestplus bridge is not in
  * the offline cache) over the inputs the single-space rule has to get
  * right: empty strings, runs of spaces, leading and trailing spaces,
  * tabs and newlines (not delimiters), multi-byte UTF-8 including
  * surrogate pairs, and nulls. */
class KernelReferenceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val vocab = Seq("the", "a", "of", "cat", "Zoë", "naïve", "漢字",
    "😀", "x𝄞y", "tab\tbed", "new\nline", "é")
  private val seps = Seq(" ", " ", " ", "  ", "   ", "\t", " \t ", "\n", " \n")
  private def text(): String = {
    val n = rnd.nextInt(9)
    val body = (0 until n).map { i =>
      (if (i > 0) seps(rnd.nextInt(seps.length)) else "") +
        vocab(rnd.nextInt(vocab.length))
    }.mkString
    val lead = if (rnd.nextInt(4) == 0) " " * (1 + rnd.nextInt(3)) else ""
    val trail = if (rnd.nextInt(4) == 0) " " * (1 + rnd.nextInt(3)) else ""
    lead + body + trail
  }

  private val fixed: Seq[Option[String]] = Seq(None, Some(""), Some(" "),
    Some("     "), Some("\t"), Some("\n \n"), Some("a"), Some(" a "),
    Some("a  b"), Some("😀 😀"), Some("the the  the"))
  private lazy val docs = (fixed ++ Seq.fill(300)(
    if (rnd.nextInt(15) == 0) None else Some(text())))
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

  test("length(translate(text, \" \", \"\")) equals the summed token lengths") {
    assertSame(length(translate(col("text"), " ", "")).cast("long"),
      aggregate(transform(composedTokens(col("text")),
        x => length(x).cast("long")), lit(0L), _ + _))
  }
}
