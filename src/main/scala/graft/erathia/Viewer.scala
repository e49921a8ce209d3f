package graft.erathia

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Report viewer (reference: /root/reference/main.py:247-347) — catalog
  * listing, full-mart reads, and the parameterized drill-down. The sorted
  * outputs read dimension-bounded marts, so they sort inside one
  * partition: one job each, no range exchange and no sampling job. */
object Viewer {

  /** Catalog listing of gold marts (main.py:263: LIKE 'dm_%'). SHOW TABLES
    * lists the same tables and temp views as `catalog.listTables`, but
    * collecting its result starts no Spark job. */
  def listMarts(s: SparkSession): Seq[String] =
    s.sql("SHOW TABLES").collect()
      .map(_.getAs[String]("tableName")).filter(_.startsWith("dm_")).sorted.toSeq

  /** Full report (main.py:337: SELECT * FROM mart). */
  def report(s: SparkSession, mart: String): DataFrame = s.table(mart)

  /** Drill-down value list (main.py:304: DISTINCT resource names). */
  def resourceNames(s: SparkSession): DataFrame =
    s.table("dm_resource_price_history").select(col("Resource Name"))
      // bounded at any scale: a single-file mart of resources × months rows
      .coalesce(1).distinct().orderBy("Resource Name")

  /** Parameterized drill-down (main.py:326-327): one resource's price
    * history, chronological. */
  def priceDrilldown(s: SparkSession, resource: String): DataFrame =
    s.table("dm_resource_price_history")
      .filter(col("Resource Name") === resource)
      // bounded at any scale: at most months rows of a single-file mart
      .coalesce(1).orderBy("Year", "Month")
}
