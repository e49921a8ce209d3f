package graft.erathia

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Gold layer: the four data marts of
  * /root/reference/src/gold_aggregator.py:27-125, re-expressed as
  * DataFrame pipelines over the silver temp views (no DuckDB hop — see
  * Silver). Reference fidelity is literal: every predicate, measure,
  * quoted friendly column name, sort order and limit matches the
  * reference SQL exactly, so report output is drop-in identical. That
  * claim is enforced three ways: per-mart DataFrame ≡ SQL-twin specs in
  * ErathiaSpec, and a DuckDB differential (`scripts/erathia_gold_check.py`)
  * that executes the reference's LITERAL SQL (extracted verbatim from
  * gold_aggregator.py) over a generated silver fixture and diffs it
  * against `Gold.run`'s parquet output.
  *
  * Every mart is scan → broadcast-joins → filter → hash-agg → sort
  * [→ limit]; dims are broadcast (≤368 rows, one job each). The
  * aggregation exchange is the one shuffle that grows with the data, and
  * AQE coalesces its partitions. The aggregate's output is bounded by
  * dimension cardinality, so the sorted marts move it to one partition
  * and sort there: no range exchange, no sampling job. ROUND lands
  * post-aggregation exactly where the reference rounds.
  */
object Gold {

  /** dm_faction_economy (gold_aggregator.py:27-48): unfiltered CASE
    * pivot over transaction_type, COUNT(*), net = SELL − BUY. */
  def factionEconomy(s: SparkSession): DataFrame = {
    val buy = sum(when(col("transaction_type") === "BUY", col("gold_total")).otherwise(0.0))
    val sell = sum(when(col("transaction_type") === "SELL", col("gold_total")).otherwise(0.0))
    s.table("fact_sales")
      .join(broadcast(s.table("dim_customer")), Seq("customer_key"))
      .join(broadcast(s.table("dim_faction")), Seq("faction_key"))
      .groupBy(col("faction_name").as("Faction Name"))
      .agg(
        round(buy, 2).as("Total Gold Spent"),
        round(sell, 2).as("Total Gold Earned"),
        round(sell - buy, 2).as("Net Profit"),
        count(lit(1)).as("Total Transactions"))
      // bounded at any scale: one row per faction
      .repartition(1).orderBy(col("Net Profit").desc)
  }

  /** dm_resource_price_history (gold_aggregator.py:56-75): Resources
    * category, BUY side only (the reference prices the market off what
    * customers pay), monthly AVG price + quantity. */
  def resourcePriceHistory(s: SparkSession): DataFrame =
    s.table("fact_sales")
      .join(broadcast(s.table("dim_product")), Seq("product_key"))
      .join(broadcast(s.table("dim_product_category")), Seq("category_key"))
      .join(broadcast(s.table("dim_date")), Seq("date_key"))
      .filter(col("category_name") === "Resources" &&
        col("transaction_type") === "BUY")
      .groupBy(
        s.table("dim_date")("year").as("Year"),
        s.table("dim_date")("month").as("Month"),
        col("product_name").as("Resource Name"))
      .agg(
        round(avg(col("gold_per_unit")), 2).as("Average Price"),
        round(sum(col("quantity")), 2).as("Total Quantity Traded"))
      // bounded at any scale: at most resources × months rows
      .repartition(1).orderBy(col("Year"), col("Month"), col("Resource Name"))

  /** dm_top_vip_customers (gold_aggregator.py:83-101): VIP segment only
    * (NO transaction-type filter — the reference pivots BUY/SELL into
    * "Total Spent"/"Total Earned" CASE measures over all VIP rows). */
  def topVipCustomers(s: SparkSession): DataFrame = {
    val spent = sum(when(col("transaction_type") === "BUY", col("gold_total")).otherwise(0.0))
    val earned = sum(when(col("transaction_type") === "SELL", col("gold_total")).otherwise(0.0))
    s.table("fact_sales")
      .join(broadcast(s.table("dim_customer")), Seq("customer_key"))
      .join(broadcast(s.table("dim_faction")), Seq("faction_key"))
      .filter(col("customer_segment") === "VIP")
      .groupBy(col("customer_name").as("Customer Name"), col("faction_name").as("Faction"))
      .agg(
        round(spent, 2).as("Total Spent"),
        round(earned, 2).as("Total Earned"),
        count(col("trade_key")).as("Total Transactions"))
      .orderBy(col("Total Spent").desc)
      .limit(100)
  }

  /** dm_artifact_sales_summary (gold_aggregator.py:105-125): Artifacts
    * category, BUY side only; "Total Sold" is COUNT(trade_key) (the
    * reference counts trades, it does not sum quantity), and the
    * mixed-direction sort orders by that count ascending. Tier comes
    * from the category dim (pc.tier_level). */
  def artifactSalesSummary(s: SparkSession): DataFrame =
    s.table("fact_sales")
      .join(broadcast(s.table("dim_product")), Seq("product_key"))
      .join(broadcast(s.table("dim_product_category")), Seq("category_key"))
      .filter(col("category_name") === "Artifacts" &&
        col("transaction_type") === "BUY")
      .groupBy(col("product_name").as("Artifact Name"), col("tier_level").as("Tier"))
      .agg(
        count(col("trade_key")).as("Total Sold"),
        round(sum(col("gold_total")), 2).as("Total Gold Value"))
      // bounded at any scale: one row per artifact
      .repartition(1).orderBy(col("Total Sold").asc, col("Total Gold Value").desc)

  /** SQL twins — the reference's gold stage IS SQL (CTAS statements in
    * gold_aggregator.py); these are those statements minus the CTAS
    * wrapper, with backtick quoting for Spark's parser. All four marts
    * carry a twin; ErathiaSpec pins DataFrame ≡ twin per mart. */
  val sql: Map[String, String] = Map(
    "dm_faction_economy" ->
      """WITH faction_sales AS (
        |  SELECT f.faction_name, s.transaction_type, s.gold_total
        |  FROM fact_sales s
        |  JOIN dim_customer c ON s.customer_key = c.customer_key
        |  JOIN dim_faction f ON c.faction_key = f.faction_key)
        |SELECT faction_name AS `Faction Name`,
        |  ROUND(SUM(CASE WHEN transaction_type = 'BUY' THEN gold_total ELSE 0 END), 2)
        |    AS `Total Gold Spent`,
        |  ROUND(SUM(CASE WHEN transaction_type = 'SELL' THEN gold_total ELSE 0 END), 2)
        |    AS `Total Gold Earned`,
        |  ROUND(SUM(CASE WHEN transaction_type = 'SELL' THEN gold_total ELSE 0 END)
        |      - SUM(CASE WHEN transaction_type = 'BUY' THEN gold_total ELSE 0 END), 2)
        |    AS `Net Profit`,
        |  COUNT(*) AS `Total Transactions`
        |FROM faction_sales
        |GROUP BY faction_name
        |ORDER BY `Net Profit` DESC""".stripMargin,
    "dm_resource_price_history" ->
      """SELECT d.year AS `Year`, d.month AS `Month`,
        |  p.product_name AS `Resource Name`,
        |  ROUND(AVG(s.gold_per_unit), 2) AS `Average Price`,
        |  ROUND(SUM(s.quantity), 2) AS `Total Quantity Traded`
        |FROM fact_sales s
        |JOIN dim_product p ON s.product_key = p.product_key
        |JOIN dim_product_category pc ON p.category_key = pc.category_key
        |JOIN dim_date d ON s.date_key = d.date_key
        |WHERE pc.category_name = 'Resources' AND s.transaction_type = 'BUY'
        |GROUP BY d.year, d.month, p.product_name
        |ORDER BY `Year`, `Month`, `Resource Name`""".stripMargin,
    "dm_top_vip_customers" ->
      """SELECT c.customer_name AS `Customer Name`, f.faction_name AS `Faction`,
        |  ROUND(SUM(CASE WHEN s.transaction_type = 'BUY' THEN s.gold_total ELSE 0 END), 2)
        |    AS `Total Spent`,
        |  ROUND(SUM(CASE WHEN s.transaction_type = 'SELL' THEN s.gold_total ELSE 0 END), 2)
        |    AS `Total Earned`,
        |  COUNT(s.trade_key) AS `Total Transactions`
        |FROM fact_sales s
        |JOIN dim_customer c ON s.customer_key = c.customer_key
        |JOIN dim_faction f ON c.faction_key = f.faction_key
        |WHERE c.customer_segment = 'VIP'
        |GROUP BY c.customer_name, f.faction_name
        |ORDER BY `Total Spent` DESC
        |LIMIT 100""".stripMargin,
    "dm_artifact_sales_summary" ->
      """SELECT p.product_name AS `Artifact Name`, pc.tier_level AS `Tier`,
        |  COUNT(s.trade_key) AS `Total Sold`,
        |  ROUND(SUM(s.gold_total), 2) AS `Total Gold Value`
        |FROM fact_sales s
        |JOIN dim_product p ON s.product_key = p.product_key
        |JOIN dim_product_category pc ON p.category_key = pc.category_key
        |WHERE pc.category_name = 'Artifacts' AND s.transaction_type = 'BUY'
        |GROUP BY p.product_name, pc.tier_level
        |ORDER BY `Total Sold` ASC, `Total Gold Value` DESC""".stripMargin)

  val marts: Map[String, SparkSession => DataFrame] = Map(
    "dm_faction_economy"         -> factionEconomy,
    "dm_resource_price_history"  -> resourcePriceHistory,
    "dm_top_vip_customers"       -> topVipCustomers,
    "dm_artifact_sales_summary"  -> artifactSalesSummary)

  /** CTAS equivalent: materialize each mart as parquet + temp view
    * (gold_aggregator.py's CREATE OR REPLACE TABLE dm_*). */
  def run(s: SparkSession, goldDir: String): Unit =
    marts.foreach { case (name, f) =>
      val df = f(s)
      df.coalesce(1).write.mode("overwrite").parquet(s"$goldDir/$name")
      register(s, goldDir, name, df.schema)
    }

  /** Temp view of the mart written under `goldDir`, read with the schema
    * of the frame that wrote it, so registering starts no inference job. */
  def register(s: SparkSession, goldDir: String, mart: String, schema: StructType): Unit =
    s.read.schema(schema).parquet(s"$goldDir/$mart").createOrReplaceTempView(mart)
}
