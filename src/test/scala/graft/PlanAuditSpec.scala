package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast,
  DenseRank, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual,
  LambdaFunction, LessThan, LessThanOrEqual, Literal, Rank, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guards for the physical-plan surface. Every catalog query is planned
  * once (AQE off, sf0.001 fixtures) and three facts are read off its
  * executed plan; each has a gate below.
  *
  * 1. No low-cardinality sort-window over a data-scaled frame: a
  *    `Window.partitionBy(k)` where k has a handful of values and the
  *    input scales with the corpus funnels ~|corpus|/|k| rows through
  *    single sort tasks — fine at sf0.01, a straggler/OOM at 100×. The
  *    class was eliminated query by query (q110/q115/q116 in round 6,
  *    q91 in round 7, q109/q24/q131 in round 8 — all now ride
  *    Prefix.cumSumsBy/groupedRank); this audit pins it shut for every
  *    future query. Frames that pass through an aggregation on bounded
  *    keys (calendar days, priorities, value histograms) are exempt —
  *    their row count is bounded by key cardinality, not the corpus —
  *    which is how q150/q157 (per-priority windows over per-(priority,
  *    day) aggregates) and the GraphOps degree-band windows are
  *    classified: bounded inputs, not violations.
  *
  * 2. Every top-k filter plans Spark's window group limit: a `Filter`
  *    whose top-level conjunct bounds a `row_number`/`rank`/`dense_rank`
  *    output by a literal must find a `WindowGroupLimit` under that
  *    window (Partial before the exchange, Final after it), so each map
  *    task ships at most k rows per group. A projection, sort or
  *    non-expanding window function slipped between the rank and its
  *    filter stops Spark from inferring the limit and fails here. A
  *    disjunction (q48/q49's `hub_rank <= StarHubs OR band_n <=
  *    SaturatedBand`) is not a limit and is not checked.
  *
  * 3. Interpreted lambdas: a higher-order function (`transform`,
  *    `aggregate`, `filter`, …) runs its `LambdaFunction` interpreted
  *    per row, outside whole-stage codegen. Each query's count of
  *    lambda nodes equals an allowlist of bounded sites, so a new one
  *    on a frame that grows with the data fails the build until it is
  *    replaced by a fused kernel or allowlisted with a reason.
  */
class PlanAuditSpec extends AnyFunSuite {

  // ---- window-over-scaled-frame invariant ------------------------------

  /** Tables whose row count scales with the corpus. */
  private val scaledTables = Set("lineitem", "orders", "customer", "supplier",
    "part", "events", "documents", "embeddings")

  /** Grouping keys that identify data-scaled entities: an aggregation on
    * one of these keeps the frame data-scaled (one row per entity); any
    * other grouping (calendar days, categories, value histograms)
    * collapses to bounded cardinality. */
  private val scaledIds = Set("custkey", "c_custkey", "o_custkey",
    "l_orderkey", "o_orderkey", "l_partkey", "p_partkey", "l_suppkey",
    "s_suppkey", "doc_id", "vec_id", "user_id", "event_id", "session_id",
    "trade_key", "cluster_id", "rep_id", "digest", "fingerprint", "id_a",
    "id_b", "node", "src", "dst", "chunk_id", "query_id", "term")

  /** Partition keys with bounded cardinality — a window partitioned
    * ONLY on these over a data-scaled frame is the flagged class. */
  private val lowCard = Set("event_type", "nationkey", "c_nationkey",
    "n_nationkey", "n_name", "nation", "nation_name", "region", "r_name",
    "r_regionkey", "priority", "o_orderpriority", "source", "lang",
    "label", "tier", "split", "brand", "p_brand", "p_type",
    "l_returnflag", "o_orderstatus", "c_mktsegment", "month", "year",
    "quarter", "dow") // NB "band" is NOT here: LSH band keys are
                      // (band_idx, band_hash) — data-scaled cardinality

  /** Does this subtree produce a data-scaled frame? Scans of corpus
    * tables and checkpointed RDD frames are scaled; aggregations
    * collapse unless they group by a scaled entity id; everything else
    * passes the property through. */
  private def dataScaled(p: SparkPlan): Boolean = p match {
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      f.relation.location.rootPaths.exists(rp =>
        scaledTables.exists(t => rp.toString.contains(s"/$t.parquet")))
    case _: org.apache.spark.sql.execution.RDDScanExec => true // conservative
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.exists(_.references.exists(r =>
        scaledIds.contains(r.name.toLowerCase))) && a.children.exists(dataScaled)
    // rank-limit pushdown (rn <= k filters): Partial mode caps each map
    // task at k rows per group BEFORE the exchange, so the downstream
    // window task holds ≤ k·partitions rows per group — bounded
    case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => false
    case other => other.children.exists(dataScaled)
  }

  /** All WindowExec nodes whose partition keys are empty or entirely
    * low-cardinality while the input is data-scaled. */
  private[graft] def lowCardWindowViolations(plan: SparkPlan): Seq[String] =
    plan.collect {
      case w: WindowExec =>
        val keys = w.partitionSpec.flatMap(_.references.map(_.name.toLowerCase))
        val allLow = keys.isEmpty || keys.forall(lowCard.contains)
        if (allLow && dataScaled(w.child))
          Some(s"Window(partitionBy=[${keys.mkString(",")}]) over a data-scaled frame")
        else None
    }.flatten

  test("window audit: planted low-cardinality window over a fact scan is flagged") {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import org.apache.spark.sql.expressions.Window
    val bad = Tables.t(s, TestSpark.sfDir, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("value", "event_id")))
    assert(lowCardWindowViolations(bad.queryExecution.executedPlan).nonEmpty,
      "auditor failed to flag the planted violation")
    // the healthy twin — high-cardinality partition key — must pass
    val good = Tables.t(s, TestSpark.sfDir, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy("value", "event_id")))
    assert(lowCardWindowViolations(good.queryExecution.executedPlan).isEmpty,
      "auditor flagged a per-user window")
    // aggregation on bounded keys collapses the frame: per-day window ok
    val daily = Tables.t(s, TestSpark.sfDir, "orders")
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("priority").orderBy("d")))
    assert(lowCardWindowViolations(daily.queryExecution.executedPlan).isEmpty,
      "auditor flagged a calendar-bounded window")
  }

  // ---- top-k filters plan a window group limit --------------------------

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** The attribute a comparison bounds from above by a literal: the
    * shapes Spark's `InferWindowGroupLimit` reads as a limit (`<`, `<=`,
    * `=`, either side), seen through casts. */
  private def literalBound(e: Expression): Option[ExprId] = {
    def attr(x: Expression): Option[ExprId] = x match {
      case a: Attribute => Some(a.exprId)
      case c: Cast => attr(c.child)
      case _ => None
    }
    e match {
      case LessThanOrEqual(x, _: Literal) => attr(x)
      case LessThan(x, _: Literal) => attr(x)
      case GreaterThanOrEqual(_: Literal, x) => attr(x)
      case GreaterThan(_: Literal, x) => attr(x)
      case EqualTo(x, _: Literal) => attr(x)
      case EqualTo(_: Literal, x) => attr(x)
      case _ => None
    }
  }

  /** Each window under a filter whose top-level conjunct bounds one of
    * the window's row_number/rank/dense_rank outputs by a literal. */
  private[graft] def topKWindows(plan: SparkPlan): Seq[WindowExec] =
    plan.collectWithSubqueries { case f: FilterExec => f }.flatMap { f =>
      val bounded = conjuncts(f.condition).flatMap(literalBound).toSet
      f.collect {
        case w: WindowExec if w.windowExpression.exists {
          case a @ Alias(WindowExpression(_: RowNumber | _: Rank | _: DenseRank, _), _) =>
            bounded.contains(a.exprId)
          case _ => false
        } => w
      }
    }

  /** Does a WindowGroupLimit on the window's own partition and order
    * keys run under it? */
  private def hasGroupLimit(w: WindowExec): Boolean = {
    def same(a: Seq[Expression], b: Seq[Expression]) =
      a.map(_.canonicalized) == b.map(_.canonicalized)
    w.child.exists {
      case g: WindowGroupLimitExec =>
        same(g.partitionSpec, w.partitionSpec) && same(g.orderSpec, w.orderSpec)
      case _ => false
    }
  }

  private[graft] def missingGroupLimits(plan: SparkPlan): Seq[String] =
    topKWindows(plan).filterNot(hasGroupLimit).map(w =>
      s"top-k filter over Window(${w.windowExpression.map(_.name).mkString(",")}) " +
        "plans no WindowGroupLimit")

  // ---- interpreted lambdas --------------------------------------------

  private def countLambdas(e: Expression): Int =
    e.collect { case l: LambdaFunction => l }.size

  private[graft] def interpretedLambdas(plan: SparkPlan): Int =
    plan.collectWithSubqueries { case p: SparkPlan => p }
      .map(_.expressions.map(countLambdas).sum).sum

  // ---- one planning pass over the catalog ------------------------------

  private case class PlanFacts(lowCardWindows: Seq[String], topKFilters: Int,
      missingGroupLimits: Seq[String], lambdas: Int)

  /** Every catalog query planned once, AQE off, in name order. */
  private lazy val catalogFacts: Seq[(String, PlanFacts)] = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plan = fn(s, TestSpark.sfDir).queryExecution.executedPlan
      name -> PlanFacts(lowCardWindowViolations(plan), topKWindows(plan).size,
        missingGroupLimits(plan), interpretedLambdas(plan))
    }
  }

  test("window audit: no catalog query carries a low-cardinality window over a data-scaled frame") {
    val offenders = catalogFacts.flatMap { case (name, f) =>
      f.lowCardWindows.map(v => s"$name: $v")
    }
    assert(offenders.isEmpty,
      s"low-cardinality sort-windows over data-scaled frames:\n  " +
        offenders.mkString("\n  "))
  }

  test("group-limit audit: a top-k filter Spark cannot bound is flagged") {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val events = Tables.t(s, TestSpark.sfDir, "events")
    val good = events.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(topKWindows(good.queryExecution.executedPlan).size == 1)
    assert(missingGroupLimits(good.queryExecution.executedPlan).isEmpty,
      "auditor flagged a top-k filter Spark bounds")
    // a whole-partition count in the same window is not an expanding
    // frame, so Spark cannot infer the limit
    val bad = events.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") <= 3)
    assert(missingGroupLimits(bad.queryExecution.executedPlan).nonEmpty,
      "auditor failed to flag the planted top-k filter")
  }

  test("group-limit audit: every catalog top-k filter plans a WindowGroupLimit") {
    val offenders = catalogFacts.flatMap { case (name, f) =>
      f.missingGroupLimits.map(v => s"$name: $v")
    }
    assert(offenders.isEmpty, offenders.mkString("\n  "))
    val covered = catalogFacts.collect { case (name, f) if f.topKFilters > 0 => name }
    println(s"[plan-audit] top-k windows: ${covered.size} queries: ${covered.mkString(",")}")
    assert(Seq("q21_order_rank", "q67_ivf_full_probe", "q119_topk_aggregator")
      .forall(covered.contains), s"top-k filters found only in: $covered")
  }

  /** Interpreted lambdas per query, subqueries included. Each site is
    * one `aggregate` (a merge and a finish lambda) or one nested
    * `transform`, so it counts 2. Every site folds an array bounded by a
    * dimension or by one document, not by the corpus
    * (OPTIMIZATION_r18.md, "Not yet optimized"). */
  private val lambdaAllowlist: Map[String, Int] = Map(
    // ordered float sums over collect_list of per-group aggregates: the
    // sort-then-fold is the cross-engine float-determinism contract
    "q82_mixture_weights" -> 2, "q143_token_budget" -> 2,
    "q161_effective_budget" -> 2, "q163_source_datasheet" -> 2,
    "q167_source_diversity" -> 2,
    // per-doc log-prob sum over that doc's own bigram weights
    "q95_lm_perplexity" -> 2,
    // entropy fold over one day's event-type counts (≤ |types|)
    "q158_daily_type_entropy" -> 2,
    // source-pair expansion over the ≤ 20-element source array
    "q191_source_overlap_sketch" -> 2,
    // the weight-vector subquery's pluck over the 65536 sorted hash
    // buckets (one row); q184 plans the shared scoring frame three times
    "q183_quality_classifier" -> 2, "q184_classifier_pipeline" -> 6,
    "q185_classifier_add_batch" -> 2)

  test("lambda census: interpreted lambdas per query equal the allowlist") {
    val got = catalogFacts.collect { case (name, f) if f.lambdas > 0 => name -> f.lambdas }.toMap
    println(s"[plan-audit] lambda census: ${got.toSeq.sorted.mkString(", ")}")
    assert(got == lambdaAllowlist,
      s"interpreted-lambda census drifted: got $got, allowlist $lambdaAllowlist")
  }

  // ---- bounded top-k tails sort in one partition ----------------------

  /** Exchanges of `df`'s final adaptive plan, after running it. */
  private def exchanges(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
      case b: BroadcastExchangeExec => b
    }
  }

  private def isRangeExchange(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  test("users of the top-k and degree-profile tails plan no range exchange") {
    val s = TestSpark.spark
    val users = Seq("q40_cosine_topk", "q46_ann_topk", "q57_ivf_topk",
      "q67_ivf_full_probe", "q86_ann_full_probe", "q106_ivf_add_batch",
      "q125_bm25_search", "q130_bm25_staged", "q132_bm25_add_batch",
      "q151_degree_profile", "q194_degree_add_batch")
      .map(q => q -> SparkEntry.queries(q)(s, TestSpark.sfDir)) :+
      ("ivf multi-probe" -> graft.llm.VectorOps.ivfTopKMultiProbe(s, TestSpark.sfDir, 2))
    val ranged = users.collect {
      case (q, df) if exchanges(df).exists(isRangeExchange) => q
    }
    assert(ranged.isEmpty, s"range exchanges in: $ranged")
  }

  test("q151's degree profile plans no broadcast") {
    val q151 = exchanges(
      SparkEntry.queries("q151_degree_profile")(TestSpark.spark, TestSpark.sfDir))
    assert(!q151.exists(_.isInstanceOf[BroadcastExchangeExec]), q151)
  }
}
