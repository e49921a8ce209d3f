package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
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
  * registration path, for a cluster and for the test session alike:
  * it installs the SimplifySelfCosine optimizer rule and every function
  * of `GraftExtensions.sqlFunctions`, all kernels with full codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SimplifySelfCosine)
    GraftExtensions.sqlFunctions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}

object GraftExtensions {

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** The SQL function table: name, the expression class it reports, and
    * the builder over the call's arguments. 15 kernels, then Spark's
    * own Bloom-sketch pair (internal, used by runtime row-level
    * filtering) exposed as SQL: build with
    * `(SELECT bloom_filter_agg(xxhash64(k), items, bits) FROM build)` —
    * the parser makes that a scalar subquery, exactly the input form
    * might_contain's type check demands. */
  val sqlFunctions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    ("dot_product", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("hyperplane_bucket", classOf[HyperplaneBucket], e => HyperplaneBucket(e(0), intArg(e(1)))),
    ("shingle_minhash", classOf[ShingleMinHash],
      e => ShingleMinHash(e(0), intArg(e(1)), intArg(e(2)))),
    ("simhash64", classOf[SimHash64], e => SimHash64(e(0))),
    ("winnow_fingerprint", classOf[WinnowFingerprint],
      e => WinnowFingerprint(e(0), intArg(e(1)), intArg(e(2)))),
    ("simhash_md5", classOf[SimHashMd5], e => SimHashMd5(e(0))),
    ("winnow_fingerprint_md5", classOf[WinnowFingerprintMd5],
      e => WinnowFingerprintMd5(e(0), intArg(e(1)), intArg(e(2)))),
    ("hashed_tf_vector", classOf[HashedTfVector], e => HashedTfVector(e(0), intArg(e(1)))),
    ("self_cosine", classOf[SelfCosine], e => SelfCosine(e(0))),
    ("z_order16", classOf[ZOrderCode], e => ZOrderCode(e(0), e(1))),
    ("shingle_array", classOf[ShingleArray], e => ShingleArray(e(0), intArg(e(1)))),
    ("shingle_tf_vector", classOf[ShingleTfVector],
      e => ShingleTfVector(e(0), intArg(e(1)), intArg(e(2)))),
    ("hyperplane_codes", classOf[HyperplaneBuckets],
      e => HyperplaneBuckets(e(0), intArg(e(1)), intArg(e(2)))),
    ("code_agreement", classOf[CodeAgreement],
      e => CodeAgreement(e(0), e(1), intArg(e(2)))),
    ("bloom_filter_agg", classOf[BloomFilterAggregate],
      e => BloomFilterAggregate(e(0), e(1), e(2), 0, 0).toAggregateExpression()),
    ("might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))
}
