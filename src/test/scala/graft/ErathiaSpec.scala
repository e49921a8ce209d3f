package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.erathia.{DataGen, Gold, Silver, Viewer}

/** Golden/invariant tests for the erathia medallion pipeline — the
  * fixed-seed 8-week fixture from FIXTURES.md §A. Deterministic because
  * all DataGen randomness is xxhash64-keyed. */
class ErathiaSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("erathia").toString
    DataGen.writeBronze(spark, s"$d/bronze", 8)
    Silver.run(spark, s"$d/bronze", s"$d/silver")
    Gold.run(spark, s"$d/gold")
    d
  }

  test("dimensions have reference cardinalities and key namespaces") {
    dir // force pipeline
    assert(spark.table("dim_faction").count() == 9)
    assert(spark.table("dim_town").count() == 45)
    assert(spark.table("dim_product").count() == 47)
    assert(spark.table("dim_product_category").count() == 7)
    assert(spark.table("dim_customer").count() == 368)
    assert(spark.table("dim_date").count() == 731)
    def minKey(t: String, k: String) =
      spark.table(t).agg(min(col(k))).head.getLong(0)
    assert(minKey("dim_faction", "faction_key") == 100)
    assert(minKey("dim_product_category", "category_key") == 200)
    assert(minKey("dim_product", "product_key") == 1000)
    assert(minKey("dim_customer", "customer_key") == 5000)
    assert(minKey("dim_town", "town_key") == 10000)
  }

  test("fact volume matches the reference heuristic (~105 rows/week)") {
    dir
    val n = spark.table("fact_sales").count()
    assert(n == 8 * 105)
  }

  test("fact is hive-partitioned by lore year and month") {
    val parts = new java.io.File(s"$dir/silver/fact_sales").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(parts.forall(_.startsWith("year=")))
    assert(parts.exists(_ == "year=1168"))
  }

  test("silver cleaning: no null keys, no zero quantities, is_hero matches segment") {
    dir
    val f = spark.table("fact_sales")
    assert(f.filter(col("trade_key").isNull || col("customer_key").isNull
      || col("product_key").isNull || col("date_key").isNull).count() == 0)
    assert(f.filter(col("quantity") === 0).count() == 0)
    val c = spark.table("dim_customer")
    assert(c.filter(col("is_hero") =!= (col("customer_segment") === "VIP")).count() == 0)
  }

  test("silver reports the fact rows it wrote") {
    dir
    val n = Silver.run(spark, s"$dir/bronze", s"$dir/silver-recount")
    try assert(n > 0 && n == spark.read.parquet(s"$dir/silver-recount/fact_sales").count())
    finally Silver.registerFromDisk(spark, s"$dir/silver")
  }

  test("silver over an empty bronze fact returns 0 and registers the declared fact") {
    dir
    val e = java.nio.file.Files.createTempDirectory("erathia-empty").toString
    Silver.dims.foreach { d =>
      spark.read.parquet(s"$dir/bronze/$d").write.parquet(s"$e/bronze/$d") }
    // a partitionBy write of an empty frame leaves a directory with no
    // data files, only the commit marker
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.schema.Schemas.erathia("fact_sales"))
      .write.partitionBy("year", "month").parquet(s"$e/bronze/fact_sales")
    try {
      assert(Silver.run(spark, s"$e/bronze", s"$e/silver") == 0L)
      val fact = spark.table("fact_sales")
      assert(fact.schema.map(f => f.name -> f.dataType) ==
        Silver.schema("fact_sales").map(f => f.name -> f.dataType))
      assert(fact.count() == 0)
    } finally Silver.registerFromDisk(spark, s"$dir/silver")
  }

  test("silver dedup leaves unique keys per dim") {
    dir
    Silver.dims.foreach { d =>
      val k = Silver.keyOf(d)
      val dups = spark.table(d).groupBy(col(k)).count().filter("count > 1").count()
      assert(dups == 0, s"$d has duplicate $k")
    }
  }

  test("gold marts exist under the reference's table names and shapes") {
    dir
    assert(Viewer.listMarts(spark) == Seq("dm_artifact_sales_summary",
      "dm_faction_economy", "dm_resource_price_history", "dm_top_vip_customers"))
    val fe = spark.table("dm_faction_economy")
    assert(fe.count() == 9)
    // Net Profit = Earned − Spent, within rounding
    val bad = fe.filter(
      abs(col("Net Profit") - (col("Total Gold Earned")
        - col("Total Gold Spent"))) > 0.02).count()
    assert(bad == 0)
    assert(spark.table("dm_top_vip_customers").count() <= 100)
  }

  test("gold mart columns carry the reference's quoted friendly names") {
    dir
    // gold_aggregator.py:38-44, 58-63, 85-90, 110-114 — drop-in fidelity
    assert(spark.table("dm_faction_economy").columns.toSeq == Seq(
      "Faction Name", "Total Gold Spent", "Total Gold Earned",
      "Net Profit", "Total Transactions"))
    assert(spark.table("dm_resource_price_history").columns.toSeq == Seq(
      "Year", "Month", "Resource Name", "Average Price", "Total Quantity Traded"))
    assert(spark.table("dm_top_vip_customers").columns.toSeq == Seq(
      "Customer Name", "Faction", "Total Spent", "Total Earned", "Total Transactions"))
    assert(spark.table("dm_artifact_sales_summary").columns.toSeq == Seq(
      "Artifact Name", "Tier", "Total Sold", "Total Gold Value"))
  }

  test("golden: faction economy mart values pinned for the 8-week fixture") {
    dir
    val top = spark.table("dm_faction_economy").collect().head
    // values recorded from a verified run; DataGen is deterministic, so
    // any drift here is a real behavior change
    assert(top.getString(0) == "Faction 2")
    assert(top.getAs[Double]("Total Gold Spent") == 70203.07)
    assert(top.getAs[Double]("Total Gold Earned") == 56105.06)
    assert(top.getAs[Double]("Net Profit") == -14098.01)
    assert(top.getAs[Long]("Total Transactions") == 86L)
    val totals = spark.table("dm_faction_economy")
      .agg(sum(col("Total Transactions"))).head.getLong(0)
    assert(totals == 840L)
  }

  test("dataframe and SQL twins agree on every mart") {
    dir
    Gold.marts.keys.foreach { mart =>
      val df = Gold.marts(mart)(spark).collect().map(_.toSeq)
      val sql = spark.sql(Gold.sql(mart)).collect().map(_.toSeq)
      assert(df.sameElements(sql), s"DataFrame/SQL twin drift on $mart")
    }
  }

  test("DuckDB differential: marts match the reference's literal SQL") {
    dir
    // scripts/erathia_gold_check.py extracts the CTAS statements verbatim
    // from /root/reference/src/gold_aggregator.py, runs them in DuckDB
    // over the silver parquet, and diffs against Gold.run's output.
    val cmd = Seq("python3", "scripts/erathia_gold_check.py",
      s"$dir/silver", s"$dir/gold")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd, new java.io.File(".")).!(
      scala.sys.process.ProcessLogger(l => out.append(l).append('\n')))
    assert(code == 0, s"differential failed:\n$out")
    assert(out.toString.contains("4/4 marts match"))
  }

  test("artifact scarcity: relic trades bounded by pool cap") {
    dir
    val relicTrades = spark.table("fact_sales")
      .filter(col("product_key") === 1046).count()
    assert(relicTrades <= 2, s"Relic traded $relicTrades times, pool cap is 1 (≤2 trades)")
  }

  test("price evolution stays within reference clamps [0.1x, 10x]") {
    val prices = DataGen.weeklyPrices(spark, 8)
      .join(DataGen.dimProduct(spark), Seq("product_key"))
      .filter(col("gold_per_unit") > col("base_value_gold") * 10.0 + 0.01 ||
        col("gold_per_unit") < col("base_value_gold") * 0.1 - 0.01)
    assert(prices.count() == 0)
  }

  test("datagen is deterministic across runs and partitionings") {
    val a = DataGen.factSales(spark, 4).orderBy("trade_key").collect()
    val b = DataGen.factSales(spark, 4).repartition(3).orderBy("trade_key").collect()
    assert(a.sameElements(b))
  }

  test("chunked append write equals single-shot write") {
    val d = java.nio.file.Files.createTempDirectory("chunked").toString
    DataGen.writeFactChunked(spark, d, 12, chunkWeeks = 5)
    val chunked = spark.read.parquet(s"$d/fact_sales")
      .orderBy("trade_key").collect()
    val single = DataGen.factSales(spark, 12).orderBy("trade_key").collect()
    assert(chunked.length == single.length)
    assert(chunked.map(_.getLong(0)).sameElements(single.map(_.getLong(0))))
  }

  test("gold marts conserve fact totals") {
    dir
    val fe = spark.table("dm_faction_economy")
    assert(fe.agg(sum(col("Total Transactions"))).head.getLong(0) ==
      spark.table("fact_sales").count())
    val martGold = fe.agg(
      sum(col("Total Gold Spent")) + sum(col("Total Gold Earned")))
      .head.getDouble(0)
    val factGold = spark.table("fact_sales").agg(sum(col("gold_total")))
      .head.getDouble(0)
    assert(math.abs(martGold - factGold) < 0.1)
  }

  test("nested JSON definitions flatten via explode (S3 ingest path)") {
    val p = java.nio.file.Files.createTempDirectory("defs").resolve("defs.json").toString
    erathia.Definitions.writeSample(p)
    val f = erathia.Definitions.factions(spark, p)
    assert(f.count() == 9)
    assert(f.agg(min(col("faction_key"))).head.getLong(0) == 100)
    val u = erathia.Definitions.units(spark, p)
    assert(u.count() == 36)
    assert(u.filter(col("base_income") <= 0).count() == 0)
    val c = erathia.Definitions.categories(spark, p)
    assert(c.count() == 7)
    assert(c.select(countDistinct(col("category_name"))).head.getLong(0) == 2)
    // key namespace must match DataGen/reference document order:
    // 200..202 = Resources tiers, 203..206 = Artifacts tiers
    val first = c.orderBy("category_key").head
    assert(first.getLong(0) == 200L && first.getString(1) == "Resources")
    val gen = erathia.DataGen.dimProductCategory(spark)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ing = c.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gen == ing, "ingested keys must align with generated namespace")
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect() // the final adaptive plan
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
  }

  test("silver view registration starts no Spark job") {
    dir
    assert(JobProbe.jobsStartedBy(spark)(Silver.registerFromDisk(spark, s"$dir/silver")).isEmpty)
  }

  test("gold view registration starts no Spark job") {
    dir
    Gold.marts.keys.foreach { m =>
      val schema = spark.table(m).schema
      assert(JobProbe.jobsStartedBy(spark)(Gold.register(spark, s"$dir/gold", m, schema)).isEmpty, m)
    }
  }

  test("listing the marts starts no Spark job") {
    dir
    assert(JobProbe.jobsStartedBy(spark)(Viewer.listMarts(spark)).isEmpty)
  }

  test("viewer sorts its bounded outputs with no shuffle") {
    dir
    assert(shuffles(Viewer.resourceNames(spark)).isEmpty)
    Viewer.resourceNames(spark).collect().map(_.getString(0)).foreach { r =>
      assert(shuffles(Viewer.priceDrilldown(spark, r)).isEmpty, r)
    }
  }

  test("silver and gold views carry the schema inference gives their files") {
    dir
    val views = (Silver.dims :+ "fact_sales").map(t => t -> s"$dir/silver/$t") ++
      Gold.marts.keys.map(m => m -> s"$dir/gold/$m")
    views.foreach { case (view, path) =>
      assert(spark.table(view).schema == spark.read.parquet(path).schema, view)
    }
  }

  test("drill-downs equal the composed filter-then-orderBy, row for row") {
    dir
    val names = Viewer.resourceNames(spark).collect().map(_.getString(0))
    assert(names.length == 12)
    names.foreach { r =>
      val composed = spark.table("dm_resource_price_history")
        .filter(col("Resource Name") === r).orderBy("Year", "Month")
      val got = Viewer.priceDrilldown(spark, r).collect()
      assert(got.nonEmpty && got.sameElements(composed.collect()), r)
    }
  }

  test("viewer drill-down filters one resource chronologically") {
    dir
    val names = Viewer.resourceNames(spark).collect().map(_.getString(0))
    assert(names.length == 12)
    val dd = Viewer.priceDrilldown(spark, names.head)
    assert(dd.select(countDistinct(col("Resource Name"))).head.getLong(0) == 1)
  }
}
