package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline component index for semantic dedup — the staged state of the
  * SemDeDup maintenance path (q171), mirroring [[BandIndex]]'s
  * offline-build/online-probe split and atomic-publish discipline.
  *
  * Staged tables:
  *   - `components/` — (vec_id, component) for every corpus-side vector
  *     that belongs to a multi-member semantic cluster (component = min
  *     member id, the q90 representative rule). Singletons are absent —
  *     the probe coalesces them to themselves, so the table is
  *     proportional to the semantic dup rate, not the corpus.
  *   - `corpus/` — the PREPARED corpus side (label, vec_id, v, norm):
  *     vectors clustered by cluster key with their norms precomputed,
  *     so the per-ingest probe never recomputes corpus-side norms (a
  *     corpus-constant quantity) and never rescans the raw embeddings
  *     table for the join side — the per-ingest plan reads batch rows
  *     plus this parquet, full stop. Written `repartition(label)` +
  *     sorted within partitions, so the batch×corpus cluster join
  *     reads colocated runs per cluster key. Norms are the same IEEE
  *     doubles the inline form computes (one fused dot product per
  *     row at build time), so staged sims are bit-identical to q90's.
  *
  * The per-ingest probe then needs ONLY batch-touching cosine work:
  * star edges reconstructed from this table (member → representative)
  * plus batch × same-cluster-key sims, components re-run on that small
  * graph (see [[VectorOps.semanticDedupAddBatch]] for the equivalence
  * argument — contracting known-connected nodes preserves
  * connectivity).
  *
  * Keyed on corpus version (path | bytes | mtime), the similarity
  * threshold, the boundary identity, and a layout version — the
  * [[BandIndex]] rule: drifting content or a changed batch predicate
  * rebuilds under a fresh key rather than silently serving stale
  * membership. Publication is staging write + one atomic rename with
  * completeness keyed on `components/_SUCCESS`. */
object SemDedupIndex {

  private val LayoutVersion = 2
  private val SimThreshold = 0.35

  def indexDir(s: SparkSession, dir: String): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/embeddings.parquet")
    graft.StagedAsset.dir("semdedup", s"$dir|$corpus|semdedup" +
      s"|thr=$SimThreshold|${NearDupOps.isNewDocKey}|v=$LayoutVersion")
  }

  /** Offline build over the corpus side (vec_id % 10 ≠ 7): the
    * cluster-restricted pairwise pass q90 runs, reduced to its
    * component partition. Runs as a scheduled staging stage at scale —
    * its cost is the one SemDeDup pays once per corpus version, and
    * per-cluster pair counts stay ~constant as long as the cluster key
    * granularity grows with the corpus (q90's k ≈ n/1000 note). */
  def build(s: SparkSession, dir: String): String = {
    import graft.functions.VectorFunctions.dot_product
    val idx = indexDir(s, dir)
    val tmp = graft.StagedAsset.tmpDir(idx)
    val old = graft.Tables.tSpread(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(10)) =!= 7)
      .select(col("label"), col("vec_id"), col("embedding").as("v"),
        sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
    val a = old.select(col("label"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = old.select(col("label"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("norm").as("nb"))
    val edges = a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 4)
          .as("sim"))
      .filter(col("sim") >= SimThreshold)
      .select(col("id_a"), col("id_b"))
    Graphs.connectedComponents(edges)
      .select(col("id").as("vec_id"), col("component"))
      .write.mode("overwrite").parquet(s"$tmp/components")
    old.repartition(col("label"))
      .sortWithinPartitions("label", "vec_id")
      .write.mode("overwrite").parquet(s"$tmp/corpus")
    graft.StagedAsset.publish(s, tmp, idx, "components/_SUCCESS",
      "semdedup index")
    idx
  }

  /** Build-if-absent, keyed by (corpus version, threshold, boundary). */
  def ensure(s: SparkSession, dir: String): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir), "components/_SUCCESS") {
      build(s, dir)
    }

  /** The staged component partition as a DataFrame (build-if-absent). */
  def components(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/components")

  /** The staged prepared corpus side (label, vec_id, v, norm) — the
    * probe's join side, norms precomputed at build time. */
  def corpus(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/corpus")
}
