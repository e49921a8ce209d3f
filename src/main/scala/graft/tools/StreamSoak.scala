package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-maintainer soak: drive a maintainer with a REAL rate
  * source for thousands of micro-batches and watch the two claims the
  * file-source specs can't see at their 3-batch scale:
  *
  *   1. **storage-memory flat** — every maintainer runs inside
  *      [[graft.Materialize.withTransient]], whose contract is that a
  *      batch's localCheckpoint blocks are released when the batch
  *      returns. A leak of even one block per batch is invisible over 3
  *      batches and fatal over a week of continuous ingest; over
  *      thousands of batches it shows up as a monotone persistent-RDD /
  *      storage-bytes ramp in the soak lines.
  *   2. **per-batch work O(batch), creep bounded by compaction cadence**
  *      — the corpus side unions delta segments from all earlier
  *      batches, so segment COUNT (not corpus size) adds a listing +
  *      planning cost per batch that grows with batch index. The soak
  *      prints the trigger-duration trend so the creep is a measured
  *      number against which the offline-rebuild/compaction cadence
  *      (the BandIndex contract) can be sized, not a guess.
  *
  * Usage: runMain graft.tools.StreamSoak
  *   [digest|band|posting|ivf|semdedup|classifier|media|audio|paragraph|sketch|graph]
  *   [nBatches] [rowsPerSecond] [reportEvery] [foldSegments]
  *
  * `foldSegments` (default 500 here — deliberately sparser than the
  * harness default so single-family soaks still show the creep-and-
  * reset shape; 0 = off) is the maintainer's live-segment fold
  * threshold (r17: a count trigger, not a batch modulus); a run with
  * it on should show the per-batch trigger time RESETTING at each fold
  * point instead of the round-10 monotone listing creep.
  *
  * The stream maps rate-source values onto a bounded doc-id pool
  * (default 200k ids 10M-offset from the fixture space), so re-arrivals
  * become exact dups of earlier arrivals — the realistic steady state of
  * a crawl stream, and the path (digest join) that must stay cheap
  * forever. Text is a pure hash of doc_id (the ScaleSoak recipe), which
  * makes the band maintainer's document store a VIRTUAL frame: a range
  * + the same text expression serves the candidate point-lookups without
  * any persisted corpus.
  */
object StreamSoak {

  /** Deterministic synthetic text from an id column (ScaleSoak's
    * vocabulary recipe): 40-79 words drawn by xxhash from w0..w999. */
  def synthText(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val vocabArr = array((0 until 1000).map(i => lit(s"w$i")): _*)
    concat_ws(" ", transform(
      sequence(lit(1), lit(40) + pmod(xxhash64(id), lit(40)).cast("int")),
      i => element_at(vocabArr,
        (pmod(xxhash64(id, i), lit(1000)) + 1).cast("int"))))
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("digest")
    val targetBatches = args.lift(1).map(_.toInt).getOrElse(2000)
    val rowsPerSecond = args.lift(2).map(_.toInt).getOrElse(2000)
    val reportEvery = args.lift(3).map(_.toInt).getOrElse(100)
    val foldSegments = args.lift(4).map(_.toInt).getOrElse(500)
    val poolSize = 200000L
    val idOffset = 10000000L

    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("streamsoak").toString
    val delta = s"$root/delta"; val out = s"$root/out"; val ckpt = s"$root/ckpt"

    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    val textArrivals = rate
      .select((lit(idOffset) + pmod(col("value"), lit(poolSize))).as("doc_id"))
      .withColumn("text", synthText(col("doc_id")))
    // Vector arrivals for the embedding families — the ScaleSoak
    // hash-derived recipe, ids DISJOINT per batch (value is monotone)
    // so the additive IVF/semdedup contracts hold.
    def synthEmbedding(id: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(id, i), lit(2001)) - 1000) / 1000.0).cast("float"))
    // Label cardinality 10k, not the fixture's 10: the semdedup
    // maintainer joins each batch against ALL seen vectors in its
    // labels, so per-label density — not stream age — must bound that
    // term (the k∝n SemDeDup contract ScaleSoak documents). What the
    // soak then isolates is the segment-listing curve compaction owns.
    val vecArrivals = rate
      .select((lit(idOffset) + col("value")).as("vec_id"))
      .select(col("vec_id"), synthEmbedding(col("vec_id")).as("embedding"),
        pmod(col("vec_id"), lit(10000)).cast("int").as("label"))

    val arrivals: DataFrame = which match {
      case "ivf" | "semdedup" => vecArrivals
      // the sketch family aggregates per SOURCE — derive a stable
      // 5-source label from the id so the state stays |sources| × 16;
      // the span family reports per source too, same shape
      case "sketch" | "span" => textArrivals.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(5))))
      // the graph family's arrival contract is WHOLE orders per batch:
      // one rate row = one complete order (3-7 parts from a 5000-part
      // pool, hash-derived), exploded to (o, p) incidence — the
      // contract holds by construction, and the recycled part pool
      // makes most edges cross-order repeats (the probe-dedup path)
      case "graph" => rate
        .select((lit(idOffset) + col("value")).as("o"))
        .select(col("o"), explode(transform(
          sequence(lit(1), lit(3) + pmod(xxhash64(col("o")), lit(5)).cast("int")),
          i => pmod(xxhash64(col("o"), i), lit(5000)))).as("p"))
      case _ => textArrivals
    }

    val fn: (DataFrame, Long) => Unit = which match {
      case "digest" =>
        // Base side: the fixture corpus's exact-dup digest directory
        // (one row per distinct text, min-id rep) — what a staged
        // BandIndex digests table carries.
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
          .groupBy(md5(col("text")).as("digest"))
          .agg(min(col("doc_id")).as("rep_id"))
        graft.streaming.StreamingIndexMaintenance.dedupMaintain(
          base, delta, out, foldSegments) _
      case "band" =>
        val idx = graft.llm.BandIndex.ensure(spark, sfDir,
          graft.llm.BandIndex.Boundary.all)
        // Virtual document store: fixture docs ∪ the full synthetic id
        // pool with the SAME text function the stream uses — candidate
        // old-doc lookups rematerialize text on demand, nothing stored.
        val store = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
          .unionByName(spark.range(idOffset, idOffset + poolSize)
            .select(col("id").as("doc_id"), synthText(col("id")).as("text")))
        graft.streaming.StreamingBandMaintenance.bandMaintain(
          idx, store, delta, out, foldSegments) _
      // The purely-additive families: the batch write depends on
      // nothing but the batch, so their soak isolates the
      // segment-listing/compaction cost curve with no base-probe term.
      case "posting" =>
        graft.streaming.StreamingPostingMaintenance.postingMaintain(
          delta, foldSegments) _
      case "ivf" =>
        val idx = graft.llm.IvfIndex.ensure(spark, sfDir)
        val centroids = graft.StagedAsset.read(spark, s"$idx/centroids")
        graft.streaming.StreamingIvfMaintenance.ivfMaintain(
          centroids, delta, foldSegments) _
      case "semdedup" =>
        graft.llm.SemDedupIndex.ensure(spark, sfDir)
        graft.streaming.StreamingSemDedupMaintenance.semDedupMaintain(
          graft.llm.SemDedupIndex.corpus(spark, sfDir), delta, foldSegments) _
      case "classifier" =>
        // no baseSeen: the soak starts from an empty base fit, so the
        // recycled id pool's re-deliveries are excluded by the
        // maintainer's own docs/ segments — the exact regime VERDICT
        // r13 flagged as silently violating q185 ≡ q183 before the
        // exclusion was enforced in code.
        graft.streaming.StreamingClassifierMaintenance.classifierMaintain(
          delta, foldSegments = foldSegments) _
      case "media" =>
        graft.streaming.StreamingMediaMaintenance.mediaMaintain(
          delta, foldSegments) _
      case "audio" =>
        graft.streaming.StreamingAudioMaintenance.audioMaintain(
          delta, foldSegments) _
      case "paragraph" =>
        graft.streaming.StreamingParagraphMaintenance.paragraphMaintain(
          delta, foldSegments) _
      case "sketch" =>
        graft.streaming.StreamingSketchMaintenance.sketchMaintain(
          delta, foldSegments) _
      case "graph" =>
        graft.streaming.StreamingGraphMaintenance.graphMaintain(
          delta, foldSegments) _
      case "span" =>
        graft.streaming.StreamingSpanMaintenance.spanMaintain(
          delta, foldSegments) _
      case other => sys.error(s"unknown maintainer: $other " +
        "(digest|band|posting|ivf|semdedup|classifier|media|audio|paragraph|sketch|graph|span)")
    }

    def loadavg: String =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ").head
      catch { case _: Throwable => "?" }
    def storage: (Int, Long, Long) = {
      val sc = spark.sparkContext
      val infos = sc.getRDDStorageInfo
      (sc.getPersistentRDDs.size, infos.map(_.memSize).sum,
        infos.map(_.diskSize).sum)
    }

    val t0 = System.nanoTime()
    val q = arrivals.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(fn)
      .start()
    var nextReport = reportEvery.toLong
    var lastBatch = -1L
    // Cumulative delivered rows, accounted once per batchId via
    // recentProgress (rate-source values are consecutive from 0, so
    // totalRows >= poolSize iff every recycled pool id has arrived —
    // the exact precondition of the DONE-probes below).
    var totalRows = 0L
    var accounted = -1L
    try {
      while (q.isActive && lastBatch < targetBatches) {
        Thread.sleep(500)
        for (rp <- q.recentProgress if rp.batchId > accounted) {
          totalRows += rp.numInputRows; accounted = rp.batchId
        }
        val p = q.lastProgress
        if (p != null && p.batchId > lastBatch) {
          lastBatch = p.batchId
          if (lastBatch >= nextReport) {
            nextReport += reportEvery
            val (nRdd, mem, disk) = storage
            val trig = Option(p.durationMs.get("triggerExecution"))
              .map(_.toString).getOrElse("?")
            println(f"[stream-soak] $which batch=$lastBatch%5d " +
              f"rows=${p.numInputRows}%6d trigger_ms=$trig%-6s " +
              f"persistent_rdds=$nRdd%3d storage_mem=${mem / 1024 / 1024}%5dMB " +
              f"storage_disk=${disk / 1024 / 1024}%5dMB load=$loadavg " +
              f"elapsed=${(System.nanoTime() - t0) / 1e9}%.0fs")
          }
        }
        // The query only errors between our polls; surface it.
        q.exception.foreach(e => throw e)
      }
    } finally q.stop()
    val (nRdd, mem, disk) = storage
    println(f"[stream-soak] DONE $which batches=$lastBatch " +
      f"persistent_rdds=$nRdd storage_mem=${mem / 1024 / 1024}MB " +
      f"storage_disk=${disk / 1024 / 1024}MB " +
      f"total=${(System.nanoTime() - t0) / 1e9}%.0fs dir=$root")
    // DONE-probe (r13 verdict item 3's "probe at the end matches the
    // batch twin", at stream scale rather than the spec's 3 batches):
    // the recycled id pool is a CLOSED set, and any run long enough to
    // cycle it (totalRows >= poolSize) has delivered every pool id —
    // so the streamed state must equal a from-scratch batch compute
    // over the full pool. Only the closed-pool families qualify
    // (graph's order ids are monotone, not recycled). A run too short
    // to cycle the pool prints SKIPPED-INCOMPLETE instead of running
    // the probe (ADVICE r14): MISMATCH must unambiguously mean
    // corrupted state, never just a short run.
    val poolCovered = totalRows >= poolSize
    def skipProbe(fam: String): Unit =
      println(s"[stream-soak] DONE-PROBE $fam: SKIPPED-INCOMPLETE " +
        s"(total_rows=$totalRows < pool=$poolSize — the id pool never " +
        "cycled, so state == batch-twin equality is not yet expected)")
    val pool = spark.range(idOffset, idOffset + poolSize)
      .select(col("id").as("doc_id"), synthText(col("id")).as("text"))
    if (which == "paragraph" && !poolCovered) skipProbe("paragraph")
    else if (which == "paragraph") {
      val want = graft.llm.TextOps.paraDigests(pool)
      val got = graft.streaming.StreamingParagraphMaintenance
        .deltaDgs(spark, delta).distinct()
      val missing = want.except(got).count()
      val extra = got.except(want).count()
      println(s"[stream-soak] DONE-PROBE paragraph: " +
        s"pool_digests=${want.count()} missing=$missing extra=$extra " +
        (if (missing == 0 && extra == 0)
          "MATCH (streamed digest set == batch twin over the full pool)"
        else "MISMATCH (corrupted state: pool fully delivered)"))
    }
    if (which == "sketch" && !poolCovered) skipProbe("sketch")
    else if (which == "sketch") {
      val src = pool.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(5))))
      val want = graft.llm.CorpusAudit.sketchPairsEst(
        graft.llm.CorpusAudit.sourceSketch(src)).collect().map(_.toSeq).toSeq
      val got = graft.streaming.StreamingSketchMaintenance.overlapProbe(
        spark, graft.llm.CorpusAudit.sourceSketch(src.limit(0)), delta)
        .collect().map(_.toSeq).toSeq
      println(s"[stream-soak] DONE-PROBE sketch: pairs=${want.length} " +
        (if (got == want)
          "MATCH (streamed sketch estimate == batch twin over the full pool)"
        else "MISMATCH (corrupted state: pool fully delivered)"))
    }
    spark.stop()
  }
}
