package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.llm.NearDupOps

/** Streaming maintenance of the MinHash band index — the near-dup twin
  * of [[StreamingIndexMaintenance.dedupMaintain]], completing the
  * incremental story's last seam: q84's staged probe handles ONE batch
  * against a frozen index; here the index also GROWS with the stream,
  * so a document that arrived in micro-batch 1 is near-dup-visible to
  * anything arriving in micro-batch 3.
  *
  * Shape: a `foreachBatch` sink over (doc_id, text) arrivals. Per
  * micro-batch, against corpus = staged base index ∪ delta segments
  * from STRICTLY EARLIER batches:
  *   1. exact path — batch digests ⋈ corpus digests: a hit is a
  *      jaccard-1 pair with every member of the matched group
  *      (rep + dup members, base and earlier-arrival alike);
  *   2. near path — unmatched batch texts collapse among themselves,
  *      their reps are banded (cost ∝ batch) and joined against the
  *      guarded corpus bands;
  *   3. reacquired path — a corpus group that just gained an exact twin
  *      re-joins its own bands so the twin inherits the group's
  *      near-dup neighbors;
  *   4. candidates are exact-verified (3-gram Jaccard ≥ 0.8) and
  *      expanded through both collapse frames to directed
  *      (new_doc, old_doc, n_inter, n_union, jaccard) pairs → written
  *      to `out/b<id>/`;
  *   5. the batch's first-seen groups append (digests, dups, bands) to
  *      `delta/b<id>/`; docs that exact-matched an existing group are
  *      appended as dup MEMBERS of that group, so later re-arrivals
  *      pair with them too.
  *
  * Contract (pinned by StreamingBandMaintenanceSpec): the union of all
  * per-batch flags is exactly the brute-force ≥ 0.8 pair set restricted
  * to (new = arriving doc, old = any doc that arrived strictly earlier;
  * the staged base counts as earlier than everything). Same-batch pairs
  * are NOT emitted — identical to q84, whose batch is one arrival.
  *
  * Replay safety: corpus-side reads take only delta segments with id <
  * batchId (never the batch's own dir, which a failed prior attempt may
  * have left — the [[StreamingIndexMaintenance.deltaDigestsBefore]]
  * lesson), and both writes are batch-id-keyed overwrites, so
  * Structured Streaming's replay of an unacknowledged batch reproduces
  * byte-identical output.
  *
  * 100 TB posture: per batch the work is O(batch) banding + candidate-
  * restricted verification — the corpus is touched only through the
  * narrow staged tables (ids + 8/16-byte digests, never text) and
  * the `corpusDocs` point-lookup for candidate old docs' shingles. The
  * delta band segments carry per-SEGMENT (band_n, hub_rank) stats: the
  * saturation guard therefore under-counts bands that are only
  * saturated across segments — a conservative direction (more
  * candidates, never fewer; exact verification keeps the output set
  * unchanged) — and each offline base rebuild re-computes global stats
  * as it compacts the delta (the BandIndex cadence).
  *
  * `corpusDocs` is the document store (doc_id, text) used ONLY to fetch
  * shingles for candidate old docs — it must cover the staged base and
  * earlier arrivals; rows it carries beyond those (e.g. future docs in
  * a fixture table) are never touched because candidates only ever name
  * ids the index knows. */
object StreamingBandMaintenance {

  private val flagSchema = StructType(Seq(
    StructField("new_doc", LongType), StructField("old_doc", LongType),
    StructField("n_inter", LongType), StructField("n_union", LongType),
    StructField("jaccard", DoubleType)))

  private def segSchema(sub: String): StructType = sub match {
    case "digests" => StructType(Seq(StructField("digest", StringType),
      StructField("rep_id", LongType), StructField("n_sh", LongType)))
    case "dups" => StructType(Seq(StructField("rep_id", LongType),
      StructField("doc_id", LongType)))
    case "bands" => StructType(Seq(StructField("band", LongType),
      StructField("doc_id", LongType), StructField("band_n", LongType),
      StructField("hub_rank", LongType)))
  }

  private def emptyOf(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One delta sub-table (digests/dups/bands) across all landed
    * batches — the probe-time read; the maintain path reads
    * strictly-before state through the harness. */
  def deltaSeg(s: SparkSession, deltaDir: String, sub: String): DataFrame =
    MaintainerHarness.delta(s, deltaDir, sub, segSchema(sub))

  /** All flags emitted so far (union of per-batch listings). */
  def flags(s: SparkSession, outDir: String): DataFrame =
    DeltaDirs.readSegs(s, outDir, "", flagSchema)

  private def nShOf(text: org.apache.spark.sql.Column) =
    when(size(graft.functions.Tokenize.tokens(text)) >= 3,
      size(graft.functions.HashKernels.shingle_array(text, 3)).cast("long"))
      .otherwise(0L)

  private def shinglesOf(docs: DataFrame): DataFrame =
    docs.filter(size(graft.functions.Tokenize.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.HashKernels.shingle_array(col("text"), 3).as("sh"))

  /** Exact 3-gram Jaccard over candidate (doc_a, doc_b) pairs, shingle
    * sides supplied explicitly (batch side from the stream, old side
    * from the document store). */
  private def verify(cand: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame =
    cand
      .join(shA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"),
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")).as("n_ab"))
      .withColumn("n_union", col("n_ab") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")

  /** The foreachBatch function. `baseIdx` is a published [[graft.llm.BandIndex]]
    * directory (the frozen corpus side); `corpusDocs` the (doc_id, text)
    * document store for candidate verification. */
  def bandMaintain(baseIdx: String, corpusDocs: DataFrame,
      deltaDir: String, outDir: String, foldSegments: Int = MaintainerHarness.FoldSegmentsDefault)
      (batch: DataFrame, batchId: Long): Unit =
    MaintainerHarness.maintain(
      Seq("digests", "dups", "bands").map(x => x -> segSchema(x)),
      deltaDir, foldSegments) { (ctx, rawBatch) =>
    val s = rawBatch.sparkSession
    val stable = ctx.pin
    val st = Seq("n_inter", "n_union", "jaccard").map(col)
    // A NULL text is not a document body (the dedupMaintain rule): its
    // NULL digest would null-reject out of the exact-match join yet
    // survive the left_anti into the banding path as a phantom rep.
    // Null bodies belong to the quarantine ingest path.
    val probe = stable(rawBatch.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), md5(col("text")).as("digest")))
    // Each delta family is referenced by SEVERAL joins below (dups by
    // four, bands by three); without materialization every reference
    // re-scans every accumulated segment file — the measured cause of
    // the round-10 ~25 rows/s throughput ceiling. One localCheckpoint
    // per family per batch caps that at one segment read each; the
    // base-index sides stay plain parquet scans (corpus-scale, columnar
    // on disk — checkpointing THOSE per batch would cost more than the
    // rescan).
    val dDigests = stable(ctx.earlier("digests"))
    val dDups = stable(ctx.earlier("dups"))
    val dBands = stable(ctx.earlier("bands"))
    val corpusDigests = graft.StagedAsset.read(s, s"$baseIdx/digests")
      .select("digest", "rep_id", "n_sh")
      .unionByName(dDigests)
    val corpusDups = graft.StagedAsset.read(s, s"$baseIdx/dups")
      .select("rep_id", "doc_id")
      .unionByName(dDups)
    val corpusBands = graft.StagedAsset.read(s, s"$baseIdx/bands")
      .select("band", "doc_id", "band_n", "hub_rank")
      .unionByName(dBands)

    // 1. exact path: matched batch docs pair with every member of their
    // group at jaccard 1 (unshingleable groups emit nothing — the
    // brute-force contract's nonempty rule).
    val matched = stable(probe.select("doc_id", "digest")
      .join(corpusDigests, Seq("digest"))
      .select(col("doc_id").as("new_doc"), col("rep_id"), col("n_sh")))
    val exactPairs = matched.filter(col("n_sh") > 0)
      .select(col("new_doc"), col("rep_id").as("old_doc"), col("n_sh"))
      .unionByName(matched.filter(col("n_sh") > 0)
        .join(corpusDups, Seq("rep_id"))
        .select(col("new_doc"), col("doc_id").as("old_doc"), col("n_sh")))
      .select(col("new_doc"), col("old_doc"), col("n_sh").as("n_inter"),
        col("n_sh").as("n_union"), lit(1.0).as("jaccard"))

    // 2. collapse the unmatched batch among itself; band only its reps.
    val unmatched = probe
      .join(corpusDigests.select("digest"), Seq("digest"), "left_anti")
    val batchGroups = unmatched.select("doc_id", "digest")
      .groupBy("digest").agg(min(col("doc_id")).as("rep_id"))
    val batchDups = stable(unmatched.select("doc_id", "digest")
      .join(batchGroups, Seq("digest"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select("rep_id", "doc_id"))
    val batchReps = stable(unmatched
      .join(batchDups.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text", "digest"))
    val guardedOld = corpusBands
      .filter(col("band_n") <= NearDupOps.SaturatedBand
        || col("hub_rank") <= NearDupOps.StarHubs)
    val batchBands = stable(
      NearDupOps.mhBandedFor(batchReps.select("doc_id", "text")))
    val candNewOld = batchBands
      .select(col("doc_id").as("doc_a"), col("band"))
      .join(guardedOld.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    // 3. reacquired path: groups gaining an exact twin re-join their
    // own bands (left side restricted to the small matched set).
    val gained = matched.select(col("rep_id").as("doc_id")).distinct()
    val candOldOld = corpusBands
      .join(gained, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("band"))
      .join(guardedOld.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    // 4. verify + member expansion, directed (new, old).
    val newSh = shinglesOf(batchReps)
    // Candidate-restricted old-side shingles — the module's own 100 TB
    // contract (a point-lookup for candidate old docs' shingles), not
    // the full-corpus tokenize per micro-batch that an unrestricted
    // shinglesOf(corpusDocs) was paying on BOTH verify sides: left-semi
    // to the ids the candidate pairs actually reference (AQE broadcasts
    // the id sliver), so per-batch CPU is O(candidates), not O(corpus).
    val candOldIds = candNewOld.select(col("doc_b").as("doc_id"))
      .unionByName(candOldOld.select(col("doc_a").as("doc_id")))
      .unionByName(candOldOld.select(col("doc_b").as("doc_id")))
      .distinct()
    val oldSh = shinglesOf(
      corpusDocs.join(candOldIds, Seq("doc_id"), "left_semi"))
    val verNO = verify(candNewOld, newSh, oldSh)
    val verOO = verify(candOldOld, oldSh, oldSh)
    val newSideDup = batchDups
      .select(col("rep_id").as("doc_a"), col("doc_id").as("na"))
    val oldSideDup = corpusDups
      .select(col("rep_id").as("doc_b"), col("doc_id").as("ob"))
    val noPairs = verNO.select((col("doc_a") +: col("doc_b") +: st): _*)
      .unionByName(verNO.join(newSideDup, Seq("doc_a"))
        .select(col("na").as("doc_a") +: col("doc_b") +: st: _*))
      .unionByName(verNO.join(oldSideDup, Seq("doc_b"))
        .select(col("doc_a") +: col("ob").as("doc_b") +: st: _*))
      .unionByName(verNO.join(newSideDup, Seq("doc_a")).join(oldSideDup, Seq("doc_b"))
        .select(col("na").as("doc_a") +: col("ob").as("doc_b") +: st: _*))
      .select(col("doc_a").as("new_doc") +: col("doc_b").as("old_doc") +: st: _*)
    // A verified old-old pair (a, b): a's gained twins pair with b's
    // members (identical text ⇒ identical shingles), and vice versa.
    val gainedNew = matched.select(col("rep_id"), col("new_doc"))
    def ooDirected(repA: String, repB: String): DataFrame = {
      val base = verOO
        .select(col(repA).as("rep_id") +: col(repB).as("old_rep") +: st: _*)
        .join(gainedNew, Seq("rep_id"))
      base
        .select(col("new_doc") +: col("old_rep").as("old_doc") +: st: _*)
        .unionByName(base
          .join(corpusDups.select(col("rep_id").as("old_rep"),
            col("doc_id").as("ob")), Seq("old_rep"))
          .select(col("new_doc") +: col("ob").as("old_doc") +: st: _*))
    }
    exactPairs
      .unionByName(noPairs)
      .unionByName(ooDirected("doc_a", "doc_b"))
      .unionByName(ooDirected("doc_b", "doc_a"))
      .dropDuplicates("new_doc", "old_doc")
      .write.mode("overwrite").parquet(s"$outDir/b${ctx.batchId}")

    // 5. grow the delta: first-seen groups' (digests, dups, bands),
    // plus matched docs as new members of their existing groups.
    // Member-gain hygiene (round 15, found by StreamSoak's uniform
    // DONE-probe): a RE-DELIVERED doc matches its own group, and the
    // unfiltered form appended a degenerate (rep=X, doc=X) self-row on
    // EVERY re-arrival — state growing with deliveries, not distinct
    // docs (the exact anti-pattern the r14 feeder audit closed for
    // IVF/semdedup), harmless to flags only because the output tail
    // dedups. Self-rows carry nothing (the rep already pairs through
    // the digests table) and are dropped; genuinely-new members
    // anti-join the ids already recorded (earlier segments + staged
    // base dups, ids-only) so a member lands exactly once.
    // Per-SEGMENT band stats stay per-segment rows through the
    // harness's row-preserving fold — the saturation guard's
    // conservative direction is unchanged.
    // … and dedup WITHIN the batch too (ADVICE r15): the anti-join
    // only screens ids from strictly-earlier segments, so a doc
    // delivered twice in ONE batch that matches an existing group
    // would otherwise land two identical (rep_id, doc_id) rows in the
    // same segment — cross-batch hygiene with a within-batch hole.
    val memberGains = matched
      .filter(col("new_doc") =!= col("rep_id"))
      .select(col("rep_id"), col("new_doc").as("doc_id"))
      .dropDuplicates("rep_id", "doc_id")
      .join(dDups.select("doc_id")
          .unionByName(graft.StagedAsset.read(s, s"$baseIdx/dups").select("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("rep_id", "doc_id")
    val w = Window.partitionBy(col("band"))
    Map(
      "digests" -> batchReps
        .select(col("digest"), col("doc_id").as("rep_id"),
          nShOf(col("text")).as("n_sh")),
      "dups" -> batchDups.unionByName(memberGains),
      "bands" -> batchBands
        .withColumn("band_n", count(lit(1)).over(w).cast("long"))
        .withColumn("hub_rank",
          row_number().over(w.orderBy(col("doc_id"))).cast("long")))
  }(batch, batchId)
}
