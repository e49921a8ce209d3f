package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline paragraph-digest index over the kept corpus — the staging
  * table that makes incremental (recrawl) paragraph dedup pay the
  * corpus-side tokenize/split/digest work ONCE per corpus version
  * instead of once per cleaned batch. Same offline-build/online-probe
  * split and atomic-publish discipline as [[BandIndex]] /
  * [[PostingIndex]] / [[SemDedupIndex]] / [[MediaFpIndex]], via
  * [[graft.StagedAsset]].
  *
  * One staged table, `dgs/` — the DISTINCT md5 digest per corpus-side
  * paragraph unit. Deliberately the narrowest index in the repo: one
  * 32-hex-char column, no doc ids, no positions, no text — because
  * under q189's (is_batch, doc_id, pos) precedence any corpus
  * occurrence beats every batch occurrence, so digest PRESENCE is the
  * corpus's entire contribution to the incremental answer (see
  * [[TextOps.paragraphDedupAgainst]]). At 100 TB this is the
  * difference between re-reading every kept shard's text per recrawl
  * and scanning one fixed-width digest column; presence is idempotent
  * under duplication, so delta segments union in with no distinct
  * pass.
  *
  * Consumers: q190 (staged twin of oracle-backed q189) and the
  * streaming paragraph maintainer
  * ([[graft.streaming.StreamingParagraphMaintenance]], base ∪ delta
  * segments). */
object ParaDigestIndex {

  private val LayoutVersion = 1

  def indexDir(s: SparkSession, dir: String): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/documents.parquet")
    graft.StagedAsset.dir("paradg", s"$dir|$corpus|paradg" +
      s"|${NearDupOps.isNewDocKey}|v=$LayoutVersion")
  }

  /** Offline build over the corpus side (doc_id % 10 ≠ 7): split,
    * digest, distinct, stage. Runs as a scheduled staging stage at
    * scale; invoked lazily by [[ensure]] here. */
  def build(s: SparkSession, dir: String): String = {
    val idx = indexDir(s, dir)
    val tmp = graft.StagedAsset.tmpDir(idx)
    TextOps.paraDigests(graft.Tables.tSpread(s, dir, "documents")
        .filter(!NearDupOps.isNewDoc(col("doc_id"))))
      .write.mode("overwrite").parquet(s"$tmp/dgs")
    graft.StagedAsset.publish(s, tmp, idx, "dgs/_SUCCESS",
      "paragraph digest index")
    idx
  }

  /** Build-if-absent, keyed by (corpus version, boundary, layout). */
  def ensure(s: SparkSession, dir: String): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir), "dgs/_SUCCESS") {
      build(s, dir)
    }

  /** The staged corpus-side digest frame (build-if-absent). */
  def dgs(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/dgs")
}
