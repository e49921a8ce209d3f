package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guards for the physical-plan surface.
  *
  * 1. `docs/PLANS.txt` (regenerated via `sbt "runMain
  *    graft.tools.ExplainAudit" > docs/PLANS.txt`) must hold a captured
  *    plan for EVERY key in SparkEntry.queries. Round 3 shipped two
  *    queries whose plans were never captured because nothing asserted
  *    the artifact tracks the catalog — this spec makes that drift a
  *    test failure instead of a silent gap.
  *
  * 2. No low-cardinality sort-window over a data-scaled frame: a
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
  */
class PlanAuditSpec extends AnyFunSuite {

  test("docs/PLANS.txt holds a plan for every query in the catalog") {
    val path = java.nio.file.Paths.get("docs/PLANS.txt")
    assert(java.nio.file.Files.exists(path), "docs/PLANS.txt missing")
    val text = java.nio.file.Files.readString(path)
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => text.contains(s"===================== $n ====================="))
    assert(missing.isEmpty,
      s"docs/PLANS.txt lags the query catalog — regenerate with " +
        s"`sbt \"runMain graft.tools.ExplainAudit\" > docs/PLANS.txt`; missing: $missing")
  }

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

  test("window audit: no catalog query carries a low-cardinality window over a data-scaled frame") {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        lowCardWindowViolations(fn(s, TestSpark.sfDir).queryExecution.executedPlan)
          .map(v => s"$name: $v")
    }
    assert(offenders.isEmpty,
      s"low-cardinality sort-windows over data-scaled frames:\n  " +
        offenders.mkString("\n  "))
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
