package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling and layout utilities for cluster-scale joins.
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; salting
  * is the plan-level tool when a known hot key would still overwhelm one
  * task (e.g. the empty-string fingerprint bucket in a dedup, a null-ish
  * default key). Bucketed table layout makes repeated co-located joins
  * shuffle-free; see ScaleUtilsSpec for the bucketed-join plan assertion.
  */
object ScaleUtils {

  /** Salted large-large join on a skewed key: the left (skewed) side gets
    * a random salt in [0, salts); the right side is exploded `salts`
    * times so every (key, salt) pair finds its match. Correct for inner
    * and left joins on `key`; the shuffle spreads each hot key over
    * `salts` tasks. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
    salts: Int, joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      (rand(42) * salts).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Deterministic variant: salt derived from hashing a second column —
    * reproducible across retries (rand() is not, under task retry). */
  def saltedJoinDeterministic(left: DataFrame, right: DataFrame, key: String,
    saltSource: Column, salts: Int, joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(salts.toLong)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Write a DataFrame bucketed+sorted by a join key: subsequent joins on
    * that key between tables bucketed the same way need no exchange. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Deliberately skewed join, salted end-to-end: 70% of events collapse
    * onto one hot group key (the classic null-ish default-key pathology
    * — at 1000 executors an unsalted shuffle join would put 70% of the
    * fact on one reducer), joined to the key→attributes dim through
    * [[saltedJoinDeterministic]] so the hot key spreads over 8 reducers.
    * Both sides carry a merge hint: at fixture scale the dim would
    * otherwise broadcast and no skew would exist to demonstrate — the
    * hint forces the shuffle topology the salt is for. Salting is pure
    * plan surgery, so the result provably equals the plain join: the
    * DuckDB oracle IS the unsalted join, making this the rare scale
    * utility whose correctness is driver-hash-checked. Plan shape
    * (join key extended with __salt) is pinned in ScaleUtilsSpec. */
  def skewSaltedJoin(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val ev = t(s, dir, "events")
      .withColumn("grp_key",
        when(col("user_id") % 10 < 7, lit(0L)).otherwise(col("user_id")))
    val dim = ev.select(col("grp_key")).distinct()
      .withColumn("grp_label",
        concat(lit("grp_"), (col("grp_key") % 7).cast("string")))
    saltedJoinDeterministic(
      ev.hint("merge"), dim.hint("merge"), "grp_key", col("event_id"), 8)
      .groupBy("grp_label")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("grp_label")
  }

  /** Key-skew diagnosis — the report that decides whether a join needs
    * salting (q60) or AQE's skew split will do: per-key row counts of
    * the fact table's join key, reduced to the numbers that matter
    * (key cardinality, max/mean skew ratio, the p99 count by q100's
    * order-statistic rule) with the top-5 hottest keys. The skew_ratio
    * column is THE input to choosing a salt fan-out.
    *
    * Scale shape: the per-key count aggregation is the only fact-sized
    * shuffle (partial aggs collapse each partition's keys map-side);
    * everything after runs on the |keys| profile table, orders of
    * magnitude smaller than the fact — and nothing funnels that profile
    * through one task: the exact p99 is the order statistic at rank
    * ⌈99·nk/100⌉ under (cnt, key) ordering, whose VALUE depends only on
    * cnt, so cumulative frequencies over the distinct-cnt histogram
    * (≤ √(2·|fact|) rows, in practice far fewer) give it exactly; the
    * cumulative itself rides the two-level [[graft.ops.Prefix]] scan,
    * and the top-5 is TakeOrderedAndProject + a 5×5 self-join rank —
    * no global rank window over the |keys| profile anywhere. */
  def keySkewProfile(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    // Pinned: the per-key count frame is consumed by THREE branches
    // (base stats, the distinct-cnt histogram, and the top-5 limit) —
    // unmaterialized, each branch re-runs the fact-sized aggregation,
    // the only fact-scaled shuffle in the query. One |keys|-row
    // checkpoint replaces two full re-aggregations.
    val counts = graft.Materialize.stable(t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("cnt")))
    val base = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val histo = counts.groupBy("cnt").agg(count(lit(1)).as("freq"))
    val p99 = graft.ops.Prefix.cumSums(histo, "cnt", Seq("freq"))
      .crossJoin(broadcast(
        base.select(floor((col("n_keys") * 99 + 99) / 100).as("__target"))))
      .filter(col("freq_cum") >= col("__target"))
      .agg(min(col("cnt")).as("p99_cnt"))
    val stats = base.crossJoin(broadcast(p99))
    // materialized so the two self-join sides don't each recompute the
    // fact-sized count aggregation under the limit
    val top5 = graft.Materialize.stable(
      counts.orderBy(col("cnt").desc, col("key")).limit(5))
    top5.as("a")
      .join(broadcast(top5.as("b")),
        col("b.cnt") > col("a.cnt") ||
          (col("b.cnt") === col("a.cnt") && col("b.key") < col("a.key")),
        "left")
      .groupBy(col("a.key").as("key"), col("a.cnt").as("cnt"))
      .agg((count(col("b.key")) + 1L).as("rank"))
      .crossJoin(broadcast(stats))
      .select(col("rank"), col("key"), col("cnt"),
        (col("cnt").cast("double") / col("n_rows")).as("share"),
        col("n_keys"), col("n_rows"), col("max_cnt"), col("p99_cnt"),
        ((col("max_cnt") * col("n_keys")).cast("double") / col("n_rows"))
          .as("skew_ratio"))
      .orderBy("rank")
  }

  /** Z-order layout report — Morton-interleave the two join/filter
    * dimensions ([[graft.functions.ZOrderCode]], a codegen'd kernel:
    * the composed aggregate-over-sequence form would run an interpreted
    * lambda per row) and profile the resulting clustering: rows per
    * z-bucket with each bucket's bounding rectangle in (partkey,
    * suppkey) space. Tight per-bucket min/max ranges on BOTH columns
    * are exactly what makes file-level statistics prune scans for
    * predicates on either dimension once the table is written in
    * z-bucket order — the Delta/Iceberg OPTIMIZE ZORDER effect,
    * computed engine-side. Per-row kernel + one rollup on the bucket
    * key; no other shuffle. */
  def zorderLayout(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val z = graft.functions.ZOrder.z_order16(col("l_partkey"), col("l_suppkey"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), z.as("zval"))
      .withColumn("zbucket", shiftright(col("zval"), 10).cast("long"))
      .groupBy("zbucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("part_lo"), max(col("l_partkey")).as("part_hi"),
        min(col("l_suppkey")).as("supp_lo"), max(col("l_suppkey")).as("supp_hi"))
      .orderBy("zbucket")
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("q60_skew_salted_join" -> skewSaltedJoin,
      "q116_key_skew_profile" -> keySkewProfile,
      "q117_zorder_layout" -> zorderLayout)

  val oracleSql: Map[String, String] = Map(
    "q116_key_skew_profile" ->
      """WITH counts AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        |                FROM lineitem GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY cnt, key) AS rn,
        |        CAST(COUNT(*) OVER () AS BIGINT) AS nk
        |      FROM counts),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    MAX(cnt) AS max_cnt,
        |    MAX(CASE WHEN rn = CAST(floor((nk * 99 + 99) / 100) AS BIGINT)
        |        THEN cnt END) AS p99_cnt
        |  FROM r),
        |top AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, key) AS rank
        |        FROM counts)
        |SELECT CAST(rank AS BIGINT) AS rank, key, cnt,
        |  CAST(cnt AS DOUBLE) / n_rows AS share,
        |  n_keys, n_rows, max_cnt, p99_cnt,
        |  CAST(max_cnt * n_keys AS DOUBLE) / n_rows AS skew_ratio
        |FROM top CROSS JOIN stats
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "q117_zorder_layout" ->
      """WITH z AS (SELECT l_partkey, l_suppkey,
        |    CAST(list_sum(list_transform(generate_series(0, 15),
        |      i -> (((l_partkey >> i) & 1) << (2 * i))
        |         + (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        |  FROM lineitem)
        |SELECT CAST(zval >> 10 AS BIGINT) AS zbucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
        |  MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q60_skew_salted_join" ->
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS grp_key,
        |         user_id
        |  FROM events),
        |dim AS (
        |  SELECT DISTINCT grp_key,
        |         'grp_' || CAST(grp_key % 7 AS VARCHAR) AS grp_label
        |  FROM ev)
        |SELECT grp_label,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ev JOIN dim USING (grp_key)
        |GROUP BY grp_label
        |ORDER BY grp_label""".stripMargin)
}
