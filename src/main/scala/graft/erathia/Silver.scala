package graft.erathia

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{BooleanType, StructType}
import graft.schema.Schemas

/** Silver layer: cleaning + enrichment, re-expressing
  * /root/reference/src/silver_processor.py:7-96 Spark-first.
  *
  * The reference's DuckDB hop (silver_processor.py:75-86 — write parquet,
  * reopen in another engine) disappears entirely: silver DataFrames
  * register as temp views and gold reads them in the same session
  * (SURVEY.md §3 entry point 1, step 4).
  *
  * Each transform is a `DataFrame => DataFrame` so pipelines compose with
  * `transform(...)`; all are narrow or single-shuffle and hold at any
  * scale.
  */
object Silver {

  val dims: Seq[String] = Seq("dim_customer", "dim_product", "dim_town",
    "dim_faction", "dim_product_category", "dim_date")

  /** Key column per dim, for dedup (silver_processor.py:53-64 key_mapping). */
  val keyOf: Map[String, String] = Map(
    "dim_customer" -> "customer_key", "dim_product" -> "product_key",
    "dim_town" -> "town_key", "dim_faction" -> "faction_key",
    "dim_product_category" -> "category_key", "dim_date" -> "date_key")

  /** Fact cleaning (silver_processor.py:38-43): drop rows null in any
    * critical key, drop zero quantities. Both predicates push to the scan. */
  def cleanFact(df: DataFrame): DataFrame =
    df.na.drop(Seq("trade_key", "customer_key", "product_key", "date_key"))
      .filter(col("quantity") =!= 0)

  /** Deterministic key dedup (vs. dropDuplicates' arbitrary pick —
    * silver_processor.py:47): keep the first row per key under a total
    * order over ALL columns, so the survivor is identical across runs,
    * partitionings, and task retries. (Ordering by the key alone would
    * be vacuous inside its own partition.) */
  def dedupByKey(key: String)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(df.columns.map(col).toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Customer enrichment (silver_processor.py:47-50): is_hero flag. */
  def enrichCustomer(df: DataFrame): DataFrame =
    df.withColumn("is_hero", col("customer_segment") === "VIP")

  /** Run the full silver stage: bronzeDir → silverDir parquet + temp
    * views named like the reference's DuckDB tables. Returns the cleaned
    * fact row count (the verification probe, silver_processor.py:88-93). */
  def run(s: SparkSession, bronzeDir: String, silverDir: String): Long = {
    // Bronze is the ingest boundary: every read is validated against the
    // declared schema (schema.Schemas.erathia) and fails fast on drift.
    val fact = cleanFact(
      Schemas.readErathia(s, s"$bronzeDir/fact_sales", "fact_sales"))
    // the fact write counts its own rows: no read-back count job
    val written = Observation("silver_fact_rows")
    fact.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("year", "month")
      .parquet(s"$silverDir/fact_sales")

    dims.foreach { d =>
      // one partition: a dimension, written as one file by one task
      val cleaned = Schemas.readErathia(s, s"$bronzeDir/$d", d).coalesce(1)
        .transform(dedupByKey(keyOf(d)))
        .transform(df => if (d == "dim_customer") enrichCustomer(df) else df)
      cleaned.write.mode("overwrite").parquet(s"$silverDir/$d")
    }

    registerFromDisk(s, silverDir)
    written.get("rows").asInstanceOf[Long]
  }

  /** Schema of silver table `t`: cleaning and dedup keep the bronze
    * declaration; enrichCustomer appends is_hero. */
  def schema(t: String): StructType =
    if (t == "dim_customer") Schemas.erathia(t).add("is_hero", BooleanType)
    else Schemas.erathia(t)

  /** Register the silver tables of an existing on-disk layer as temp
    * views — lets Gold (and a restarted CLI session) run against a
    * silver layer produced by an earlier session, the way the
    * reference's persistent DuckDB file does. Reads with the known
    * silver schema, so registering starts no inference job. */
  def registerFromDisk(s: SparkSession, silverDir: String): Unit =
    (dims :+ "fact_sales").foreach { t =>
      s.read.schema(schema(t)).parquet(s"$silverDir/$t").createOrReplaceTempView(t)
    }
}
