package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline perceptual-fingerprint index over the media corpus side —
  * the staging table that makes media near-dup maintenance pay the
  * expensive per-payload work (container byte walk + md5-per-window
  * gram-SimHash, [[graft.functions.MediaHashKernel]]) ONCE per corpus
  * version instead of once per query. Same offline-build/online-probe
  * split and atomic-publish discipline as [[BandIndex]] /
  * [[PostingIndex]] / [[SemDedupIndex]], via [[graft.StagedAsset]].
  *
  * One staged table, `fps/` — (doc_id, fp): the 60-bit fingerprint per
  * base-side asset with a valid fingerprint. Narrow by construction
  * (two longs — payload bytes never enter the index); the banding is
  * derived in-plan at probe time from DISTINCT fingerprints
  * ([[MultimodalOps.fpPairs]]), which keeps the index schema
  * independent of the band shape — a banding change (like round 12's
  * 4×15-bit → 3-of-6 combinatorial swap) re-plans, it does not
  * rebuild.
  *
  * Consumers: q186 (add-batch twin — staged base ∪ in-plan batch) and
  * the streaming fingerprint maintainer
  * ([[graft.streaming.StreamingMediaMaintenance]], base ∪ delta
  * segments). */
object MediaFpIndex {

  private val LayoutVersion = 1

  /** One (doc_id, fp) fingerprint index per KIND — "mediafp" (the
    * byte-gram SimHash over every container) and "audiofp" (the
    * sample-domain energy profile over the wav rendering, q196/q197).
    * The kinds share everything but the kernel: same narrow schema,
    * same staging discipline, same probe tail — which is the point of
    * the 60-bit fingerprint abstraction. */
  private def dirOf(s: SparkSession, dir: String, kind: String): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/documents.parquet")
    graft.StagedAsset.dir(kind, s"$dir|$corpus|$kind" +
      s"|${NearDupOps.isNewDocKey}|v=$LayoutVersion")
  }

  def indexDir(s: SparkSession, dir: String): String = dirOf(s, dir, "mediafp")

  /** Offline build over the corpus side (doc_id % 10 ≠ 7): hash every
    * base asset with the kind's kernel, stage the (doc_id, fp) frame.
    * Runs as a scheduled staging stage at scale; invoked lazily by the
    * ensure paths here. */
  private def buildKind(s: SparkSession, dir: String, kind: String,
      fpsOf: DataFrame => DataFrame): String = {
    val idx = dirOf(s, dir, kind)
    val tmp = graft.StagedAsset.tmpDir(idx)
    fpsOf(graft.Tables.tSpread(s, dir, "documents")
        .filter(!NearDupOps.isNewDoc(col("doc_id"))))
      .write.mode("overwrite").parquet(s"$tmp/fps")
    graft.StagedAsset.publish(s, tmp, idx, "fps/_SUCCESS",
      s"$kind fingerprint index")
    idx
  }

  private def ensureKind(s: SparkSession, dir: String, kind: String,
      fpsOf: DataFrame => DataFrame): String =
    graft.StagedAsset.ensure(s, dirOf(s, dir, kind), "fps/_SUCCESS") {
      buildKind(s, dir, kind, fpsOf)
    }

  /** Build-if-absent, keyed by (corpus version, boundary, layout). */
  def ensure(s: SparkSession, dir: String): String =
    ensureKind(s, dir, "mediafp", MultimodalOps.mediaFps)

  /** The staged base-side (doc_id, fp) frame (build-if-absent). */
  def fps(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/fps")

  /** The staged base-side AUDIO (doc_id, fp) frame (build-if-absent) —
    * the q197 / streaming-audio-maintainer base. */
  def audioFps(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s,
      s"${ensureKind(s, dir, "audiofp", MultimodalOps.audioFps)}/fps")
}
