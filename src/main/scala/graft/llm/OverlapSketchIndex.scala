package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline per-source corpus-overlap MinHash sketch over the kept
  * corpus — the NINTH staged asset, and the cheapest state in the
  * whole staged/streamed matrix: |sources| rows × K=16 32-hex-char min
  * cells ([[CorpusAudit.SketchK]]). Same offline-build/online-probe
  * split and atomic-publish discipline as [[BandIndex]] /
  * [[PostingIndex]] / [[SemDedupIndex]] / [[MediaFpIndex]] /
  * [[ParaDigestIndex]], via [[graft.StagedAsset]].
  *
  * One staged table, `sketch/` — per corpus-side source, the K
  * column-wise mins of md5("i:" || shingle) over the RAW shingle
  * stream ([[CorpusAudit.sourceSketch]]: no distinct pass; min is
  * duplicate-insensitive). Because min-of-mins is a LOSSLESS merge,
  * the staged sketch plus an O(batch) sketch of a recrawl batch
  * min-merges into exactly the whole-corpus sketch — so the overlap
  * report (q191's estimate columns) never re-shingles the kept corpus
  * per recrawl, which at 100 TB is the difference between a
  * corpus-sized tokenize pass and reading |sources| × 16 cells.
  *
  * Consumers: q192 (staged twin of the whole-corpus estimate, full
  * hash oracle) and the streaming sketch maintainer
  * ([[graft.streaming.StreamingSketchMaintenance]], base ∪ delta
  * segments). */
object OverlapSketchIndex {

  private val LayoutVersion = 1

  def indexDir(s: SparkSession, dir: String): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/documents.parquet")
    graft.StagedAsset.dir("ovsk", s"$dir|$corpus|ovsk" +
      s"|k=${CorpusAudit.SketchK}|${NearDupOps.isNewDocKey}|v=$LayoutVersion")
  }

  /** Offline build over the corpus side (doc_id % 10 ≠ 7): shingle,
    * min-sketch per source, stage. Runs as a scheduled staging stage
    * at scale; invoked lazily by [[ensure]] here. */
  def build(s: SparkSession, dir: String): String = {
    val idx = indexDir(s, dir)
    val tmp = graft.StagedAsset.tmpDir(idx)
    CorpusAudit.sourceSketch(graft.Tables.tSpread(s, dir, "documents")
        .filter(!NearDupOps.isNewDoc(col("doc_id"))))
      .repartition(1) // |sources| rows — one part file, not 32 stubs
      .write.mode("overwrite").parquet(s"$tmp/sketch")
    graft.StagedAsset.publish(s, tmp, idx, "sketch/_SUCCESS",
      "corpus overlap sketch index")
    idx
  }

  /** Build-if-absent, keyed by (corpus version, K, boundary, layout). */
  def ensure(s: SparkSession, dir: String): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir), "sketch/_SUCCESS") {
      build(s, dir)
    }

  /** The staged corpus-side sketch frame (build-if-absent). */
  def sketch(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/sketch")
}
