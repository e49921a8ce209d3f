package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline staged asset for the part co-purchase graph — the derived
  * frames six catalog queries (q128/q129/q133/q151/q152-degree/q154)
  * all start from, lifted out of per-session memoization into the
  * [[graft.StagedAsset]] lifecycle the four index subsystems use
  * (IvfIndex/BandIndex/PostingIndex/SemDedupIndex): built once per
  * CORPUS VERSION, atomically published, shared by every later session.
  * Before this, the first graph query of each session re-derived the
  * graph from the fact table (distinct incidence + within-order
  * self-join + distinct edges + degree orientation) — at 100 TB that
  * is a full fact-table scan and two corpus-scaled shuffles per
  * SESSION for an asset that only changes when the corpus does.
  *
  * Staged tables:
  *   - `incidence/` — distinct (o, p) order/part incidence pairs,
  *     written clustered by order key (the self-join and HITS both
  *     cluster on o).
  *   - `edges/`     — distinct undirected co-purchase edges (u < v).
  *   - `degrees/`   — (n, deg) endpoint degree counts over `edges`.
  *   - `oriented/`  — edges oriented from the lower-(deg, id) endpoint
  *     (src, dst): the Suri–Vassilvitskii orientation whose out-degree
  *     bound O(√m) caps the triangle adjacency arrays, written
  *     clustered by src (the adjacency groupBy key).
  *
  * Keyed on the lineitem per-file manifest digest + a layout version —
  * the [[graft.llm.BandIndex]] rule: content drift moves the key, so a
  * stale graph is never probed. Session-level memoization in
  * [[GraphOps]] stays ON TOP of this (the staged parquet is read once
  * per session and block-cached with the partitioning the consumers
  * want); what the staging removes is the per-session DERIVATION. */
object GraphIndex {

  private val LayoutVersion = 1

  def indexDir(s: SparkSession, dir: String): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/lineitem.parquet")
    graft.StagedAsset.dir("graph",
      s"$dir|$corpus|copurchase|v=$LayoutVersion")
  }

  /** Offline build: one fact-table scan derives all four tables; each
    * later table builds on the PREVIOUS table's just-written parquet,
    * so nothing is derived twice inside the build either. */
  def build(s: SparkSession, dir: String): String = {
    val idx = indexDir(s, dir)
    val tmp = graft.StagedAsset.tmpDir(idx)
    // each table is read back with the schema of the frame that wrote
    // it, so the read-back starts no inference job
    def stage(df: DataFrame, table: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$table")
      s.read.schema(df.schema).parquet(s"$tmp/$table")
    }
    val it = stage(graft.Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .repartition(col("o")), "incidence")
    val e = stage(it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct(), "edges")
    val deg = stage(e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg")), "degrees")
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("src"),
        when(uLower, col("v")).otherwise(col("u")).as("dst"))
      .repartition(col("src"))
      .write.mode("overwrite").parquet(s"$tmp/oriented")
    graft.StagedAsset.publish(s, tmp, idx, "incidence/_SUCCESS",
      "co-purchase graph index")
    idx
  }

  /** Build-if-absent, keyed by corpus version. */
  def ensure(s: SparkSession, dir: String): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir), "incidence/_SUCCESS") {
      build(s, dir)
    }

  def incidence(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/incidence")

  def edges(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/edges")

  def degrees(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/degrees")

  def oriented(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/oriented")
}
