package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline span-digest index over the kept corpus — the staging tables
  * that make incremental (recrawl) duplicated-span accounting (q200)
  * pay the corpus-side gram scan ONCE per corpus version instead of
  * once per ingest batch. Same offline-build/online-probe split and
  * atomic-publish discipline as [[BandIndex]] / [[ParaDigestIndex]] /
  * [[MediaFpIndex]], via [[graft.StagedAsset]].
  *
  * Three staged tables:
  *   - `dgn/` — (dg, n, doc1, pos1): occurrence count per DISTINCT
  *     corpus gram digest, plus the single occurrence's position when
  *     n = 1 (null otherwise). The n = 1 positions are load-bearing:
  *     they are exactly the corpus positions a batch can FLIP from
  *     unique to duplicated, so the probe never rescans corpus text to
  *     find them.
  *   - `runs/` — (doc_id, s, e): the corpus's maximal duplicated-span
  *     runs ([[TextOps.spanRuns]] output) — output-sized (only dup
  *     spans exist here).
  *   - `totals/` — (doc_id, source, n_tokens): the report denominator.
  *
  * Storage trade, stated for the q198 scaladoc's objection: q198
  * refuses to PIN its (doc_id, pos, digest) frame because ~32 B per
  * corpus token outweighs re-running two linear scans within one
  * query. The staged index stores the per-DISTINCT-digest aggregate
  * instead (one row per distinct gram, not per occurrence — boilerplate
  * collapses), paid once per corpus VERSION and amortized over every
  * recrawl batch; the alternative re-grams the full corpus per batch.
  * Distinct-digest rows are the same order as [[ParaDigestIndex]]'s
  * per-paragraph digests (~k× more rows, fixed width), and at 100 TB
  * the probe reads it columnar with only `dg` + `n` in most passes.
  *
  * Consumers: q200 (staged add-batch twin of oracle-backed q198 —
  * [[TextOps.dupSpansIncremental]]). */
object SpanDigestIndex {

  // v2: dg is a 16-byte BINARY MD5 (the fused gram_digests kernel),
  // not 32-char hex — a v1 directory must never serve a v2 probe.
  private val LayoutVersion = 2

  /** q198's gram width; the index is keyed on it, so a k change is a
    * new index version, never a silent mismatch. */
  val K = 8

  def indexDir(s: SparkSession, dir: String): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/documents.parquet")
    graft.StagedAsset.dir("spandg", s"$dir|$corpus|spandg|k=$K" +
      s"|${NearDupOps.isNewDocKey}|v=$LayoutVersion")
  }

  /** Offline build over the corpus side (doc_id % 10 ≠ 7): gram, count
    * per digest (keeping the n = 1 position), derive the corpus dup
    * runs and totals, stage all three. */
  /** The index content as frames over an explicit corpus side — the
    * seam the staged≡fresh and re-delivery specs drive directly;
    * [[build]] writes exactly these. `dgnStaged` lets the dup-run
    * derivation read the already-written dgn instead of re-aggregating. */
  private[graft] def frames(base: DataFrame, k: Int,
      dgnStaged: Option[DataFrame] = None):
      (DataFrame, DataFrame, DataFrame) = {
    val grams = TextOps.positionalGrams(base, k)
    val dgn = grams.groupBy("dg")
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("dg"), col("n"),
        when(col("n") === 1, col("first.doc_id")).as("doc1"),
        when(col("n") === 1, col("first.pos")).as("pos1"))
    val dupDg = dgnStaged.getOrElse(dgn).filter(col("n") >= 2).select("dg")
    val dupPos = grams.join(dupDg, Seq("dg"), "left_semi")
      .select("doc_id", "pos")
    (dgn, TextOps.spanRuns(dupPos), TextOps.spanTotals(base))
  }

  def build(s: SparkSession, dir: String): String = {
    val idx = indexDir(s, dir)
    val tmp = graft.StagedAsset.tmpDir(idx)
    val base = graft.Tables.tSpread(s, dir, "documents")
      .filter(!NearDupOps.isNewDoc(col("doc_id")))
    val (dgn, _, totals) = frames(base, K)
    dgn.write.mode("overwrite").parquet(s"$tmp/dgn")
    // re-derive runs READING the written dgn (one gram agg, not two)
    val (_, runs, _) = frames(base, K,
      dgnStaged = Some(s.read.schema(dgn.schema).parquet(s"$tmp/dgn")))
    runs.write.mode("overwrite").parquet(s"$tmp/runs")
    totals.write.mode("overwrite").parquet(s"$tmp/totals")
    graft.StagedAsset.publish(s, tmp, idx, "totals/_SUCCESS",
      "span digest index")
    idx
  }

  /** Build-if-absent, keyed by (corpus version, k, boundary, layout). */
  def ensure(s: SparkSession, dir: String): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir), "totals/_SUCCESS") {
      build(s, dir)
    }

  def dgn(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/dgn")
  def runs(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/runs")
  def totals(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/totals")
}
