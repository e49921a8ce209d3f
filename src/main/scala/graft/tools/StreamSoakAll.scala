package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** COMBINED streaming-maintenance soak: ONE stream drives ALL ELEVEN
  * maintainer families per micro-batch (VERDICT r14 item 5; the audio
  * family joined in round 16 per VERDICT r15 item 2 — the families
  * had only ever been soaked individually; the untested
  * interaction is shared DeltaDirs I/O plus interleaved tiered folds in
  * one JVM, which is exactly what a consolidated ingest job runs).
  *
  * Wiring mirrors the deployed pipeline shape: the digest maintainer
  * runs FIRST and the posting family consumes only the batch's
  * first-seen representatives (the upstream-filter contract
  * StreamingPostingMaintenance documents); every other family takes its
  * own arrival shape derived from the same rate values (recycled text
  * pool, recycled vector pool — exercising the IVF/semdedup first-seen
  * enforcement — and monotone whole orders for the graph family).
  *
  * DONE-probe (uniform across families): every maintainer family's
  * contract is "streamed state ≡ the same maintainer run ONCE over the
  * union batch". The probe therefore re-runs each family's maintain on
  * the exact delivered pool as one batch into a TWIN delta dir and
  * set-compares canonical state (distinct rows for the presence
  * algebras, summed counts for the SUM algebras, min-merge for the
  * sketch). The delivered pool is known EXACTLY — rate values are
  * consecutive from 0 — so the probe needs no coverage assumption.
  *
  * Usage: runMain graft.tools.StreamSoakAll
  *   [nBatches] [rowsPerSecond] [reportEvery] [foldSegments] */
object StreamSoakAll {

  // Pool sizes bound the STATE each family accumulates (and therefore
  // the per-batch cost of the families that re-materialize their
  // accumulated delta, led by band): smaller than the single-family
  // soaks' 200k because ten families share one JVM here and the run's
  // purpose is fold interaction at high batch counts, not state scale
  // (ScaleSoak owns state scale).
  private val TextPool = 20000L
  private val VecPool = 10000L
  private val IdOff = 10000000L
  private val VecOff = 20000000L
  private val OrdOff = 30000000L

  import StreamSoak.synthText

  private def synthEmbedding(id: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(id, i), lit(2001)) - 1000) / 1000.0).cast("float"))

  /** Arrival shapes from the raw rate frame (works on the stream OR on
    * a batch/twin frame carrying a `value` column). */
  private def shapeText(df: DataFrame): DataFrame = df
    .select((lit(IdOff) + pmod(col("value"), lit(TextPool))).as("doc_id"))
    .withColumn("text", synthText(col("doc_id")))
  private def shapeSketch(df: DataFrame): DataFrame =
    shapeText(df).withColumn("source",
      concat(lit("src"), pmod(col("doc_id"), lit(5))))
  private def shapeVec(df: DataFrame): DataFrame = df
    .select((lit(VecOff) + pmod(col("value"), lit(VecPool))).as("vec_id"))
    .select(col("vec_id"), synthEmbedding(col("vec_id")).as("embedding"),
      pmod(col("vec_id"), lit(2000)).cast("int").as("label"))
  private def shapeGraph(df: DataFrame): DataFrame = df
    .select((lit(OrdOff) + col("value")).as("o"))
    .select(col("o"), explode(transform(
      sequence(lit(1), lit(3) + pmod(xxhash64(col("o")), lit(5)).cast("int")),
      i => pmod(xxhash64(col("o"), i), lit(5000)))).as("p"))

  private val digestSchema = StructType(Seq(
    StructField("digest", StringType), StructField("rep_id", LongType)))

  def main(args: Array[String]): Unit = {
    val targetBatches = args.lift(0).map(_.toInt).getOrElse(2000)
    val rowsPerSecond = args.lift(1).map(_.toInt).getOrElse(500)
    val reportEvery = args.lift(2).map(_.toInt).getOrElse(100)
    val foldSegments = args.lift(3).map(_.toInt)
      .getOrElse(graft.streaming.MaintainerHarness.FoldSegmentsDefault)

    // local[16] for cross-family job overlap; shuffle partitions 4
    // because per-batch frames are tiny (≤ pool-sized) and the soak's
    // fixed cost is TASK COUNT — ten families × ~10 jobs × partitions
    // per batch. 16-way tiny shuffles measured ~6 s/batch of pure
    // scheduling; 4-way cuts the task count 4× at identical state.
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("streamsoakall").toString
    println(s"[soak-all] root=$root families=12 batches=$targetBatches " +
      s"rows/s=$rowsPerSecond foldSegments=$foldSegments")

    val fams = Seq("digest", "band", "posting", "classifier", "media",
      "audio", "paragraph", "sketch", "ivf", "semdedup", "graph", "span")
    def delta(f: String) = s"$root/$f/delta"
    def twin(f: String) = s"$root/$f/twin"

    // --- per-family base sides (staged once, the single-soak setups) ---
    import graft.streaming._
    val digestBase = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("rep_id"))
    val bandIdx = graft.llm.BandIndex.ensure(spark, sfDir,
      graft.llm.BandIndex.Boundary.all)
    val bandStore = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(spark.range(IdOff, IdOff + TextPool)
        .select(col("id").as("doc_id"), synthText(col("id")).as("text")))
    val centroids = graft.StagedAsset.read(spark,
      s"${graft.llm.IvfIndex.ensure(spark, sfDir)}/centroids")
    graft.llm.SemDedupIndex.ensure(spark, sfDir)
    val sdBase = graft.llm.SemDedupIndex.corpus(spark, sfDir)

    /** maintain fn of one family against a given delta dir (twin dirs
      * reuse the same constructors with compaction off). */
    def fnOf(f: String, d: String, ce: Int): (DataFrame, Long) => Unit = f match {
      case "digest" => StreamingIndexMaintenance.dedupMaintain(
        digestBase, d, s"$d-out", ce) _
      case "band" => StreamingBandMaintenance.bandMaintain(
        bandIdx, bandStore, d, s"$d-out", ce) _
      case "posting" => StreamingPostingMaintenance.postingMaintain(d, ce) _
      case "classifier" => StreamingClassifierMaintenance
        .classifierMaintain(d, foldSegments = ce) _
      case "media" => StreamingMediaMaintenance.mediaMaintain(d, ce) _
      case "audio" => StreamingAudioMaintenance.audioMaintain(d, ce) _
      case "paragraph" => StreamingParagraphMaintenance.paragraphMaintain(d, ce) _
      case "sketch" => StreamingSketchMaintenance.sketchMaintain(d, ce) _
      case "ivf" => StreamingIvfMaintenance.ivfMaintain(centroids, d, ce) _
      case "semdedup" => StreamingSemDedupMaintenance
        .semDedupMaintain(sdBase, d, ce) _
      case "graph" => StreamingGraphMaintenance.graphMaintain(d, ce) _
      case "span" => StreamingSpanMaintenance.spanMaintain(d, ce) _
      case other => sys.error(s"unknown family: $other")
    }
    val fns = fams.map(f => f -> fnOf(f, delta(f), foldSegments)).toMap

    // --- the combined foreachBatch: all ten families per micro-batch,
    // CONCURRENTLY — per-batch wall is max(family), not the sum, and
    // concurrency is the point: the verdict's untested interaction is
    // shared DeltaDirs I/O plus CONCURRENT tiered folds in one JVM
    // (Spark job submission is thread-safe; each family owns its delta
    // dir; the one cross-family dependency — posting consumes the
    // digest family's first-seen segment — is an explicit future chain)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val famSecs = scala.collection.concurrent.TrieMap.empty[String, Double]
    def timed(f: String)(body: => Unit): Unit = {
      val t = System.nanoTime(); body
      val dt = (System.nanoTime() - t) / 1e9
      famSecs.updateWith(f) { v => Some(v.getOrElse(0.0) + dt) }
    }
    val combined: (DataFrame, Long) => Unit = { (raw, bid) =>
      val txt = shapeText(raw)
      val digestThenPosting = Future {
        timed("digest")(fns("digest")(txt, bid))
        // upstream-filter contract: posting sees only the batch's
        // first-seen representatives, read from the digest segment the
        // digest family JUST landed (narrow semi-join, no recompute)
        timed("posting") {
          val freshIds = spark.read.schema(digestSchema)
            .parquet(s"${delta("digest")}/b$bid")
            .select(col("rep_id").as("doc_id"))
          fns("posting")(txt.join(freshIds, Seq("doc_id"), "left_semi"), bid)
        }
      }
      val rest = Seq(
        Future(timed("band")(fns("band")(txt, bid))),
        Future(timed("classifier")(fns("classifier")(txt, bid))),
        Future(timed("media")(fns("media")(txt, bid))),
        Future(timed("audio")(fns("audio")(txt, bid))),
        Future(timed("paragraph")(fns("paragraph")(txt, bid))),
        Future(timed("sketch")(fns("sketch")(shapeSketch(raw), bid))),
        Future(timed("ivf")(fns("ivf")(shapeVec(raw), bid))),
        Future(timed("semdedup")(fns("semdedup")(shapeVec(raw), bid))),
        Future(timed("graph")(fns("graph")(shapeGraph(raw), bid))),
        // the span family reports per source — the sketch arrival shape
        Future(timed("span")(fns("span")(shapeSketch(raw), bid))))
      Await.result(Future.sequence(digestThenPosting +: rest), Duration.Inf)
      if (bid > 0 && bid % 10 == 0) {
        val tot = famSecs.values.sum
        println("[soak-all] fam-cumsec " + famSecs.toSeq.sortBy(-_._2)
          .map { case (f, v) => f"$f=${v}%.0f" }.mkString(" ") +
          f" total=$tot%.0f")
      }
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
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(combined)
      .start()
    var nextReport = reportEvery.toLong
    var lastBatch = -1L
    var totalRows = 0L
    var accounted = -1L
    try {
      while (stream.isActive && lastBatch < targetBatches) {
        Thread.sleep(500)
        for (rp <- stream.recentProgress if rp.batchId > accounted) {
          totalRows += rp.numInputRows; accounted = rp.batchId
        }
        val p = stream.lastProgress
        if (p != null && p.batchId > lastBatch) {
          lastBatch = p.batchId
          if (lastBatch >= nextReport) {
            nextReport += reportEvery
            val (nRdd, mem, disk) = storage
            val trig = Option(p.durationMs.get("triggerExecution"))
              .map(_.toString).getOrElse("?")
            println(f"[soak-all] batch=$lastBatch%5d rows=${p.numInputRows}%6d " +
              f"trigger_ms=$trig%-6s persistent_rdds=$nRdd%3d " +
              f"storage_mem=${mem / 1024 / 1024}%5dMB " +
              f"storage_disk=${disk / 1024 / 1024}%5dMB load=$loadavg " +
              f"elapsed=${(System.nanoTime() - t0) / 1e9}%.0fs")
          }
        }
        stream.exception.foreach(e => throw e)
      }
    } finally stream.stop()
    // account any batches that committed between the last poll and stop
    for (rp <- stream.recentProgress if rp.batchId > accounted) {
      totalRows += rp.numInputRows; accounted = rp.batchId
    }
    // Unpin the finished batches' transient checkpoint blocks BEFORE
    // the DONE report (r15 verdict item 3): the 1500-batch run printed
    // persistent_rdds=3 at DONE and 0 at EXIT — true (they were dead
    // pins awaiting release) but needlessly ambiguous; a leak must not
    // be able to hide behind "freed later".
    graft.Materialize.releaseTransient(spark)
    val (nRdd, mem, disk) = storage
    // numInputRows is INFLATED under multi-action foreachBatch (each
    // family's actions re-read the rate batch and each read counts —
    // measured ~9× here), so the DELIVERED value range is derived from
    // committed state instead: graph orders are 1:1 with rate values
    // and whole-per-row, so max(o) over the committed inc segments
    // (strictly below accounted+1) names the exact consecutive prefix
    // of values every family received.
    val deliveredRows = {
      val mx = graft.streaming.DeltaDirs.readSegs(spark, delta("graph"),
          "inc", StructType.fromDDL("o bigint, p bigint"), accounted + 1)
        .agg(max(col("o"))).head()
      if (mx.isNullAt(0)) 0L else mx.getLong(0) - OrdOff + 1
    }
    println(f"[soak-all] DONE batches=$lastBatch " +
      f"delivered_rows=$deliveredRows (raw numInputRows=$totalRows, " +
      f"inflated by per-family re-reads) " +
      f"persistent_rdds=$nRdd storage_mem=${mem / 1024 / 1024}MB " +
      f"storage_disk=${disk / 1024 / 1024}MB " +
      f"total=${(System.nanoTime() - t0) / 1e9}%.0fs dir=$root")

    // --- universal DONE-probe: one-shot twin per family over the exact
    // delivered pool, canonical state set-compared ---
    // delivered pool = committed batches 0..accounted only; a batch
    // that wrote some segments but never committed is excluded from
    // BOTH sides (streamed reads are bounded below `accounted + 1`).
    val delivered = spark.range(0, deliveredRows).select(col("id").as("value"))
    val twinId = 999999L
    val twinFns = fams.map(f => f -> fnOf(f, twin(f), 0)).toMap
    val txtAll = shapeText(delivered).dropDuplicates("doc_id")
    twinFns("digest")(txtAll, twinId)
    // the same upstream filter the streamed posting path saw: docs
    // whose digest the base directory already held never reach postings
    twinFns("posting")(txtAll
      .withColumn("digest", md5(col("text")))
      .join(digestBase.select("digest"), Seq("digest"), "left_anti")
      .drop("digest"), twinId)
    twinFns("band")(txtAll, twinId)
    twinFns("classifier")(txtAll, twinId)
    twinFns("media")(txtAll, twinId)
    twinFns("audio")(txtAll, twinId)
    twinFns("paragraph")(txtAll, twinId)
    twinFns("sketch")(shapeSketch(delivered).dropDuplicates("doc_id"), twinId)
    val vecAll = shapeVec(delivered).dropDuplicates("vec_id")
    twinFns("ivf")(vecAll, twinId)
    twinFns("semdedup")(vecAll, twinId)
    twinFns("graph")(shapeGraph(delivered), twinId)
    twinFns("span")(shapeSketch(delivered).dropDuplicates("doc_id"), twinId)

    // streamed reads bounded at the last COMMITTED batch; twin reads
    // unbounded (the twin dir holds exactly one big-id segment)
    def segS(d: String, sub: String, schema: String): DataFrame =
      graft.streaming.DeltaDirs.readSegs(spark, d, sub,
        StructType.fromDDL(schema), accounted + 1)
    def segT(d: String, sub: String, schema: String): DataFrame =
      graft.streaming.DeltaDirs.readSegs(spark, d, sub,
        StructType.fromDDL(schema))
    def cmp(fam: String, streamed: DataFrame, twinDf: DataFrame): Unit = {
      val a = streamed.dropDuplicates(); val b = twinDf.dropDuplicates()
      val missing = b.exceptAll(a).count(); val extra = a.exceptAll(b).count()
      println(s"[soak-all] DONE-PROBE $fam: twin_rows=${b.count()} " +
        s"missing=$missing extra=$extra " +
        (if (missing == 0 && extra == 0) "MATCH" else "MISMATCH"))
    }
    cmp("digest", segS(delta("digest"), "", "digest string, rep_id bigint"),
      segT(twin("digest"), "", "digest string, rep_id bigint"))
    val bandDg = "digest string, rep_id bigint, n_sh bigint"
    cmp("band/digests", segS(delta("band"), "digests", bandDg),
      segT(twin("band"), "digests", bandDg))
    cmp("band/dups", segS(delta("band"), "dups", "rep_id bigint, doc_id bigint"),
      segT(twin("band"), "dups", "rep_id bigint, doc_id bigint"))
    val postSchema = "doc_id bigint, term string, tf bigint, pbucket string"
    cmp("posting/postings", segS(delta("posting"), "postings", postSchema),
      segT(twin("posting"), "postings", postSchema))
    cmp("posting/df",
      segS(delta("posting"), "df", "term string, df bigint")
        .groupBy("term").agg(sum(col("df")).as("df")),
      segT(twin("posting"), "df", "term string, df bigint")
        .groupBy("term").agg(sum(col("df")).as("df")))
    val cntS = "bucket string, cp bigint, cn bigint"
    def cntSum(df: DataFrame) = df.groupBy("bucket")
      .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))
    cmp("classifier/counts", cntSum(segS(delta("classifier"), "counts", cntS)),
      cntSum(segT(twin("classifier"), "counts", cntS)))
    cmp("media/fps", segS(delta("media"), "fps", "doc_id bigint, fp bigint"),
      segT(twin("media"), "fps", "doc_id bigint, fp bigint"))
    cmp("audio/fps", segS(delta("audio"), "fps", "doc_id bigint, fp bigint"),
      segT(twin("audio"), "fps", "doc_id bigint, fp bigint"))
    cmp("paragraph/dgs", segS(delta("paragraph"), "dgs", "dg string"),
      segT(twin("paragraph"), "dgs", "dg string"))
    val sketchS = "source string, " +
      (0 until graft.llm.CorpusAudit.SketchK).map(i => s"m$i string").mkString(", ")
    cmp("sketch/merged",
      graft.llm.CorpusAudit.mergeSketches(segS(delta("sketch"), "sketch", sketchS)),
      graft.llm.CorpusAudit.mergeSketches(segT(twin("sketch"), "sketch", sketchS)))
    val listSchema = "vec_id bigint, cell int, v array<float>, norm double"
    cmp("ivf/lists", segS(delta("ivf"), "lists", listSchema)
        .select("vec_id", "cell"),
      segT(twin("ivf"), "lists", listSchema).select("vec_id", "cell"))
    val vecsS = "label int, vec_id bigint, v array<float>, norm double"
    cmp("semdedup/vecs",
      segS(delta("semdedup"), "vecs", vecsS).select("label", "vec_id"),
      segT(twin("semdedup"), "vecs", vecsS).select("label", "vec_id"))
    cmp("semdedup/edges",
      segS(delta("semdedup"), "edges", "id_a bigint, id_b bigint"),
      segT(twin("semdedup"), "edges", "id_a bigint, id_b bigint"))
    cmp("graph/edges", segS(delta("graph"), "edges", "u bigint, v bigint"),
      segT(twin("graph"), "edges", "u bigint, v bigint"))
    // span (TWELFTH family): counts are the SUM algebra (sum per
    // digest, like classifier counts); runs/dgn segments differ in
    // SPLIT between streamed and one-shot state by design (flips are
    // resolved at probe time), so the canonical comparison is the
    // summed counts plus the RESOLVED report itself
    val spanDgnS = "dg binary, n bigint, doc1 bigint, pos1 bigint"
    def spanSum(df: DataFrame) = df.groupBy("dg").agg(sum(col("n")).as("n"))
    cmp("span/dgn", spanSum(segS(delta("span"), "dgn", spanDgnS)),
      spanSum(segT(twin("span"), "dgn", spanDgnS)))
    cmp("span/report", StreamingSpanMaintenance.report(spark, delta("span")),
      StreamingSpanMaintenance.report(spark, twin("span")))
    val (nRdd2, mem2, disk2) = storage
    println(f"[soak-all] EXIT persistent_rdds=$nRdd2 " +
      f"storage_mem=${mem2 / 1024 / 1024}MB storage_disk=${disk2 / 1024 / 1024}MB")
    spark.stop()
  }
}
