package graft.schema

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Raised when a parquet input's footer schema drifts from the declared
  * contract — the read fails fast instead of silently accepting (and
  * null-filling or mistyping) a changed fixture. */
class SchemaMismatchException(msg: String) extends RuntimeException(msg)

/** Declared input schemas (SURVEY.md §1.3; the reference pins its table
  * shapes the same way in src/schemas.py:6-19).
  *
  * Two jobs:
  *   1. **fail fast on drift** — every [[graft.Tables.t]] /
  *      [[graft.erathia.Silver.run]] read compares the file footer
  *      schema (name → type, nullability-insensitive) against the
  *      declaration and throws [[SchemaMismatchException]] with the
  *      exact delta;
  *   2. **inference off** — after validation the scan runs with the
  *      declared `StructType`, so planning never depends on whatever a
  *      drifted writer put in the footer.
  *
  * The validation infers the file schema, which runs one Spark job
  * (a parallel footer read) the first time a path is seen; it is then
  * cached per path and file status for the session.
  */
object Schemas {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** The driver fixture tables (TESTDATA.md). `events.ts` is stored as
    * parquet timestamp[us] without timezone (TIMESTAMP_NTZ); one shared
    * rule (Tables.toSessionTs) casts it to the session TimestampType so
    * every downstream window/watermark sees the same type. */
  val fixture: Map[String, StructType] = Map(
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> st("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** The erathia bronze tables (reference src/schemas.py shapes as this
    * repo's DataGen writes them; fact partition columns year/month are
    * restored by partition discovery). */
  val erathia: Map[String, StructType] = Map(
    "dim_faction" -> st("faction_key" -> LongType, "faction_name" -> StringType),
    "dim_town" -> st("town_key" -> LongType, "town_name" -> StringType,
      "faction_key" -> DoubleType),
    "dim_product_category" -> st("category_key" -> LongType,
      "category_name" -> StringType, "tier_level" -> StringType),
    "dim_product" -> st("product_key" -> LongType, "product_name" -> StringType,
      "base_value_gold" -> DoubleType, "category_key" -> LongType),
    "dim_customer" -> st("customer_key" -> LongType, "customer_name" -> StringType,
      "customer_segment" -> StringType, "unit_tier" -> IntegerType,
      "base_income" -> DoubleType, "faction_key" -> LongType),
    "dim_date" -> st("date_key" -> IntegerType, "lore_date_str" -> StringType,
      "day_of_week" -> IntegerType, "month" -> IntegerType,
      "year" -> IntegerType, "is_weekend" -> BooleanType),
    "fact_sales" -> st("trade_key" -> LongType, "date_key" -> IntegerType,
      "transaction_type" -> StringType, "customer_key" -> IntegerType,
      "product_key" -> IntegerType, "town_key" -> IntegerType,
      "quantity" -> DoubleType, "gold_per_unit" -> DoubleType,
      "gold_total" -> DoubleType, "current_gold_balance" -> DoubleType,
      "year" -> IntegerType, "month" -> IntegerType))

  /** Nullability (and array/map element nullability) is writer detail,
    * not contract — strip it before comparing. */
  private def norm(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
    case MapType(k, v, _) => MapType(norm(k), norm(v), valueContainsNull = true)
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, norm(f.dataType))))
    case other => other
  }

  /** Compare footer schema against the declaration; throw with the exact
    * field-level delta on any mismatch. Column order is not contract
    * (the driver's differential gate sorts columns by name; partition
    * discovery reorders partition columns). */
  def validate(name: String, declared: StructType, actual: StructType): Unit = {
    val d = declared.fields.map(f => f.name -> norm(f.dataType)).toMap
    val a = actual.fields.map(f => f.name -> norm(f.dataType)).toMap
    if (d != a) {
      val missing = (d.keySet -- a.keySet).toSeq.sorted
      val extra = (a.keySet -- d.keySet).toSeq.sorted
      val retyped = (d.keySet & a.keySet).filter(k => d(k) != a(k)).toSeq.sorted
        .map(k => s"$k: declared ${d(k).sql} but found ${a(k).sql}")
      throw new SchemaMismatchException(
        s"schema drift on table '$name':" +
          (if (missing.nonEmpty) s" missing=${missing.mkString(",")}" else "") +
          (if (extra.nonEmpty) s" unexpected=${extra.mkString(",")}" else "") +
          (if (retyped.nonEmpty) s" retyped=[${retyped.mkString("; ")}]" else ""))
    }
  }

  private val validatedPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cache key for a validated path: (path, mtime, length). A bare
    * path key would accept a path overwritten with a drifted schema later
    * in the same session (the overwrite-temp-dir pattern the tests and
    * CLI use); keying on the file status means any rewrite re-validates.
    * ONE non-recursive getFileStatus per call — `getContentSummary`
    * (a recursive listing, expensive on object stores) was the first
    * formulation and bought nothing: for the directories Spark writes,
    * every rewrite goes through delete + recreate (overwrite mode) or a
    * committer rename into the directory, and both bump the directory
    * mtime, so the mtime edge alone catches the overwrite. For plain
    * files the length rides along from the same stat. */
  private def statusKey(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val len = if (st.isDirectory) -1L else st.getLen
    s"$path|${st.getModificationTime}|$len"
  }

  /** Footer-validate `path` against `declared` once per (path, file
    * status) — re-validates automatically if the file changes. A
    * directory that holds no data files (what a partitionBy write of an
    * empty frame leaves) has no schema to infer and cannot drift: it
    * validates, and the declared-schema read returns the empty frame. */
  def validateOnce(s: SparkSession, path: String, name: String,
      declared: StructType): Unit = {
    val key = statusKey(s, path)
    if (!validatedPaths.contains(key)) {
      try validate(name, declared, s.read.parquet(path).schema)
      catch { case e: AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" && !hasDataFiles(s, path) => }
      validatedPaths.add(key)
    }
  }

  /** Any file under `path` that a parquet scan would read. */
  private def hasDataFiles(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath.getName)
      .exists(n => !n.startsWith("_") && !n.startsWith("."))
  }

  /** Validated read of an erathia bronze/staged table. The scan takes the
    * declared schema (no inference job); each declaration lists its
    * columns in the order the files carry them, partition columns
    * (fact_sales' year/month) last, so the frame's schema is the one
    * inference would give. */
  def readErathia(s: SparkSession, path: String, name: String): DataFrame = {
    validateOnce(s, path, name, erathia(name))
    s.read.schema(erathia(name)).parquet(path)
  }
}
