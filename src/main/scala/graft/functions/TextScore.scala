package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused linear text scorer — the fastText-style inference kernel
  * (Joulin et al. 2017, "Bag of tricks for efficient text
  * classification"): a document's score is the sum of a broadcast
  * weight vector over its hashed n-gram features. The fit side (per-
  * bucket Naive-Bayes log-odds, the classic linear-classifier
  * initialization) lives in [[graft.llm.SelectionOps]]; this kernel is
  * the INFERENCE path, and its whole point is the plan shape: one
  * narrow per-row expression call — tokenize, distinct unigrams +
  * bigrams, md5-prefix bucket, integer dot product — with NO explode,
  * join, or per-doc aggregation. At 100 TB the q179-style
  * explode→join→groupBy scoring pass shuffles one row per gram; this
  * scores in the scan itself and shuffles nothing.
  *
  * Cross-engine contract (the q179 fixed-point discipline): features
  * are the DISTINCT space-split unigrams and bigrams ([[MinHashKernel
  * .shingleArray]] semantics — unigrams and bigrams cannot collide
  * pre-hash, bigrams contain a space); a gram's bucket is its md5's
  * leading 4 hex chars as a 16-bit int (= the digest's first two
  * bytes); weights are micro-nat BIGINTs, so the dot product is an
  * exact integer sum — order-free, hence partition/retry/engine
  * stable. Returns [n_grams, score_micro] (a gram-less doc scores
  * [0, 0], not null). One static kernel shared by eval and codegen so
  * the paths cannot diverge.
  */
object TextScoreKernel {

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** weights: dense 65536-long micro-nat vector indexed by bucket. */
  def scoreGrams(text: UTF8String, weights: ArrayData): ArrayData = {
    val words = text.toString.split(' ').filter(_.nonEmpty)
    val seen = new java.util.HashSet[String]
    val md = md5Local.get()
    var n = 0L
    var score = 0L
    def add(g: String): Unit = if (seen.add(g)) {
      md.reset()
      val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val bucket = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      score += weights.getLong(bucket)
      n += 1
    }
    var i = 0
    while (i < words.length) { add(words(i)); i += 1 }
    i = 0
    while (i < words.length - 1) { add(words(i) + " " + words(i + 1)); i += 1 }
    new GenericArrayData(Array[Any](n, score))
  }

  /** Column form: (text, dense weight array) → [n_grams, score_micro].
    * Pass the weights as a 1-row scalar subquery
    * ([[GraftSqlBridge.scalarSubquery]]) so the fit executes once and
    * every scan task shares the broadcast result — the
    * BloomFilterMightContain shape. */
  def linear_text_score(text: Column, weights: Column): Column =
    GraftSqlBridge.column(LinearTextScore(
      GraftSqlBridge.expression(text), GraftSqlBridge.expression(weights)))
}

/** Catalyst expression: (string, array<long>) → [n_grams, score_micro]. */
case class LinearTextScore(left: Expression, right: Expression)
    extends BinaryKernel[UTF8String, ArrayData]("TextScoreKernel.scoreGrams") {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernel(text: UTF8String, weights: ArrayData): Any =
    TextScoreKernel.scoreGrams(text, weights)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
