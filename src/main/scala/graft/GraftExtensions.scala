package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions._

/** Optimizer rule: `cosine_sim(x, x)` needs only the self-norm, not the
  * full three-accumulator kernel. Rewrites to SelfCosine — NOT a literal
  * 1.0, which would erase NULL propagation (nullable parquet columns)
  * and the NaN a zero/empty vector produces. Plan-level effect asserted
  * in ScaleUtilsSpec. */
object SimplifySelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.deterministic && a.semanticEquals(b) =>
        SelfCosine(a)
    }
}

/** SparkSessionExtensions installer: registers the native kernels as SQL
  * functions for any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`). This is the one SQL
  * registration path, for a cluster and for the test session alike.
  * Users get 17 functions in plain SQL: the 15 kernels `cosine_sim`,
  * `dot_product`, `self_cosine`, `hyperplane_bucket`,
  * `hyperplane_codes`, `code_agreement`, `shingle_minhash`,
  * `shingle_array`, `shingle_tf_vector`, `hashed_tf_vector`,
  * `simhash64`, `simhash_md5`, `winnow_fingerprint`,
  * `winnow_fingerprint_md5` and `z_order16`, all with full codegen, and
  * Spark's Bloom-sketch pair `bloom_filter_agg` and `might_contain`.
  * It also installs the SimplifySelfCosine optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SimplifySelfCosine)
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (exprs: Seq[Expression]) => HyperplaneBucket(exprs(0), intArg(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("shingle_minhash"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, "shingle_minhash"),
      (exprs: Seq[Expression]) =>
        ShingleMinHash(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs(0))))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprint"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
      (exprs: Seq[Expression]) =>
        WinnowFingerprint(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("simhash_md5"),
      new ExpressionInfo(classOf[SimHashMd5].getName, "simhash_md5"),
      (exprs: Seq[Expression]) => SimHashMd5(exprs(0))))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprint_md5"),
      new ExpressionInfo(classOf[WinnowFingerprintMd5].getName, "winnow_fingerprint_md5"),
      (exprs: Seq[Expression]) =>
        WinnowFingerprintMd5(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("hashed_tf_vector"),
      new ExpressionInfo(classOf[HashedTfVector].getName, "hashed_tf_vector"),
      (exprs: Seq[Expression]) => HashedTfVector(exprs(0), intArg(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("self_cosine"),
      new ExpressionInfo(classOf[SelfCosine].getName, "self_cosine"),
      (exprs: Seq[Expression]) => SelfCosine(exprs(0))))
    ext.injectFunction((FunctionIdentifier("z_order16"),
      new ExpressionInfo(classOf[ZOrderCode].getName, "z_order16"),
      (exprs: Seq[Expression]) => ZOrderCode(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("shingle_array"),
      new ExpressionInfo(classOf[ShingleArray].getName, "shingle_array"),
      (exprs: Seq[Expression]) => ShingleArray(exprs(0), intArg(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("shingle_tf_vector"),
      new ExpressionInfo(classOf[ShingleTfVector].getName, "shingle_tf_vector"),
      (exprs: Seq[Expression]) =>
        ShingleTfVector(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("hyperplane_codes"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "hyperplane_codes"),
      (exprs: Seq[Expression]) =>
        HyperplaneBuckets(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("code_agreement"),
      new ExpressionInfo(classOf[CodeAgreement].getName, "code_agreement"),
      (exprs: Seq[Expression]) =>
        CodeAgreement(exprs(0), exprs(1), intArg(exprs(2)))))
    // Spark's own Bloom-sketch pair (internal, used by runtime row-level
    // filtering) exposed as SQL: build with
    //   (SELECT bloom_filter_agg(xxhash64(k), items, bits) FROM build)
    // — the parser makes that a scalar subquery, exactly the input form
    // might_contain's type check demands.
    ext.injectFunction((FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2), 0, 0).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))))
  }
}
