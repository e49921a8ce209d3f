package graft.tools

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming._

/** The maintainer soak: any subset of the streaming index-maintainer
  * families (`graft.streaming.Streaming*Maintenance`) driven by ONE
  * stream, every selected family on every micro-batch, then checked
  * against a one-shot twin. It watches what the 3-batch specs can't see:
  * storage memory staying flat (a leaked transient block per batch shows
  * as a persistent-RDD ramp in the report lines, and `persistent_rdds=0`
  * at EXIT), per-batch cost resetting at each fold (the trigger trend;
  * `-Dgraft.delta.verbose=true` adds the `[delta-compact]` lines
  * `scripts/fold_curve.py` summarizes), and concurrent tiered folds over
  * shared DeltaDirs I/O in one JVM, as a consolidated ingest job runs.
  *
  * Wiring mirrors the deployed pipeline: digest runs FIRST and posting
  * consumes only the batch's first-seen representatives (the upstream
  * filter StreamingPostingMaintenance documents); every other family
  * runs concurrently on its own arrival shape of the same values. The
  * `rate-micro-batch` source delivers exactly the values
  * [b·rowsPerBatch, (b+1)·rowsPerBatch) in batch b.
  *
  * DONE-probe: each family's contract is "streamed state ≡ the same
  * maintainer run ONCE over the union batch", so each is re-run over the
  * delivered values into a TWIN delta dir and each canonical view
  * (distinct rows for presence algebras, summed counts for SUM algebras,
  * min-merge for the sketch) is set-compared. The delivered pool is
  * known exactly: MISMATCH means corrupted streamed state, never a short
  * run.
  *
  * Usage: runMain graft.tools.StreamSoak
  *   [all|fam,fam,…] [nBatches] [rowsPerBatch] [reportEvery] [foldSegments]
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

  // Pool sizes bound the STATE each family accumulates (and therefore
  // the per-batch cost of the families that re-materialize their
  // accumulated delta, led by band): the run's purpose is fold
  // interaction at high batch counts, not state scale (ScaleSoak owns
  // state scale). Ids are offset clear of the fixture's.
  val TextPool = 20000L
  private val VecPool = 10000L
  private val IdOff = 10000000L
  private val VecOff = 20000000L
  private val OrdOff = 30000000L

  private def synthEmbedding(id: Column) =
    transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(id, i), lit(2001)) - 1000) / 1000.0).cast("float"))

  /** Arrival shapes of a frame carrying a `value` column. */
  private def shapeText(df: DataFrame): DataFrame = df
    .select((lit(IdOff) + pmod(col("value"), lit(TextPool))).as("doc_id"))
    .withColumn("text", synthText(col("doc_id")))
  // the sketch and span families report per source: a stable 5-source
  // label keeps their state |sources|-bounded
  private def shapeSketch(df: DataFrame): DataFrame =
    shapeText(df).withColumn("source",
      concat(lit("src"), pmod(col("doc_id"), lit(5))))
  private def shapeVec(df: DataFrame): DataFrame = df
    .select((lit(VecOff) + pmod(col("value"), lit(VecPool))).as("vec_id"))
    .select(col("vec_id"), synthEmbedding(col("vec_id")).as("embedding"),
      pmod(col("vec_id"), lit(2000)).cast("int").as("label"))
  // WHOLE orders per batch: one value = one complete order of 3-7 parts
  // from a 5000-part pool, so most edges are cross-order repeats
  private def shapeGraph(df: DataFrame): DataFrame = df
    .select((lit(OrdOff) + col("value")).as("o"))
    .select(col("o"), explode(transform(
      sequence(lit(1), lit(3) + pmod(xxhash64(col("o")), lit(5)).cast("int")),
      i => pmod(xxhash64(col("o"), i), lit(5000)))).as("p"))

  /** The families' base sides over the fixture at `sfDir`, each built on
    * first use (the band, IVF and semdedup ones stage an index). */
  final class Bases(s: SparkSession, sfDir: String) {
    private lazy val docs = graft.Tables.t(s, sfDir, "documents")
    lazy val digest: DataFrame =
      docs.groupBy(md5(col("text")).as("digest")).agg(min(col("doc_id")).as("rep_id"))
    lazy val bandIdx: String =
      graft.llm.BandIndex.ensure(s, sfDir, graft.llm.BandIndex.Boundary.all)
    // virtual document store: fixture docs ∪ the synthetic text pool,
    // rematerialized on demand by the same text function
    lazy val bandStore: DataFrame = docs.select(col("doc_id"), col("text"))
      .unionByName(s.range(IdOff, IdOff + TextPool)
        .select(col("id").as("doc_id"), synthText(col("id")).as("text")))
    lazy val centroids: DataFrame =
      graft.StagedAsset.read(s, s"${graft.llm.IvfIndex.ensure(s, sfDir)}/centroids")
    lazy val semdedup: DataFrame = {
      graft.llm.SemDedupIndex.ensure(s, sfDir); graft.llm.SemDedupIndex.corpus(s, sfDir)
    }
  }

  /** One canonical view of a family's state: `read(s, deltaDir, below)`
    * reads it over the batches below `below`. */
  final case class View(name: String, read: (SparkSession, String, Long) => DataFrame)

  private def seg(sub: String, ddl: String,
      canon: DataFrame => DataFrame = identity): View =
    View(sub, (s, d, below) =>
      canon(DeltaDirs.readSegs(s, d, sub, StructType.fromDDL(ddl), below)))

  private def sumBy(key: String, cols: String*)(df: DataFrame): DataFrame =
    df.groupBy(key).agg(sum(col(cols.head)).as(cols.head),
      cols.tail.map(c => sum(col(c)).as(c)): _*)

  /** A family: its arrival shape, the key a re-delivery repeats (the
    * twin dedups on it; "" for the graph family's never-repeated
    * orders), its maintainer over delta dir `d` with fold threshold `k`,
    * and the canonical views its DONE-probe compares. */
  final case class Family(name: String, shape: DataFrame => DataFrame, key: String,
      maintainer: (Bases, String, Int) => (DataFrame, Long) => Unit, views: Seq[View])

  private val digestDdl = "digest string, rep_id bigint"
  private val fpsDdl = "doc_id bigint, fp bigint"
  private val sketchDdl = "source string, " +
    (0 until graft.llm.CorpusAudit.SketchK).map(i => s"m$i string").mkString(", ")

  /** Every maintainer family, digest before posting. */
  val families: Seq[Family] = Seq(
    Family("digest", shapeText, "doc_id", (b, d, k) =>
      StreamingIndexMaintenance.dedupMaintain(b.digest, d, s"$d-out", k),
      Seq(seg("", digestDdl))),
    Family("posting", shapeText, "doc_id", (_, d, k) =>
      StreamingPostingMaintenance.postingMaintain(d, k),
      Seq(seg("postings", "doc_id bigint, term string, tf bigint, pbucket string"),
        seg("df", "term string, df bigint", sumBy("term", "df")))),
    Family("band", shapeText, "doc_id", (b, d, k) =>
      StreamingBandMaintenance.bandMaintain(b.bandIdx, b.bandStore, d, s"$d-out", k),
      Seq(seg("digests", "digest string, rep_id bigint, n_sh bigint"),
        seg("dups", "rep_id bigint, doc_id bigint"))),
    Family("classifier", shapeText, "doc_id", (_, d, k) =>
      StreamingClassifierMaintenance.classifierMaintain(d, foldSegments = k),
      Seq(seg("counts", "bucket string, cp bigint, cn bigint",
        sumBy("bucket", "cp", "cn")))),
    Family("media", shapeText, "doc_id", (_, d, k) =>
      StreamingMediaMaintenance.mediaMaintain(d, k), Seq(seg("fps", fpsDdl))),
    Family("audio", shapeText, "doc_id", (_, d, k) =>
      StreamingAudioMaintenance.audioMaintain(d, k), Seq(seg("fps", fpsDdl))),
    Family("paragraph", shapeText, "doc_id", (_, d, k) =>
      StreamingParagraphMaintenance.paragraphMaintain(d, k), Seq(seg("dgs", "dg string"))),
    Family("sketch", shapeSketch, "doc_id", (_, d, k) =>
      StreamingSketchMaintenance.sketchMaintain(d, k),
      Seq(seg("sketch", sketchDdl, graft.llm.CorpusAudit.mergeSketches))),
    Family("ivf", shapeVec, "vec_id", (b, d, k) =>
      StreamingIvfMaintenance.ivfMaintain(b.centroids, d, k),
      Seq(seg("lists", "vec_id bigint, cell int, v array<float>, norm double",
        _.select("vec_id", "cell")))),
    Family("semdedup", shapeVec, "vec_id", (b, d, k) =>
      StreamingSemDedupMaintenance.semDedupMaintain(b.semdedup, d, k),
      Seq(seg("vecs", "label int, vec_id bigint, v array<float>, norm double",
        _.select("label", "vec_id")), seg("edges", "id_a bigint, id_b bigint"))),
    Family("graph", shapeGraph, "", (_, d, k) =>
      StreamingGraphMaintenance.graphMaintain(d, k), Seq(seg("edges", "u bigint, v bigint"))),
    // span counts are the SUM algebra; its runs/dgn segments split
    // differently between streamed and one-shot state by design (flips
    // resolve at probe time), so the resolved report, over every landed
    // batch, is compared too
    Family("span", shapeSketch, "doc_id", (_, d, k) =>
      StreamingSpanMaintenance.spanMaintain(d, k),
      Seq(seg("dgn", "dg binary, n bigint, doc1 bigint, pos1 bigint", sumBy("dg", "n")),
        View("report", (s, d, _) => StreamingSpanMaintenance.report(s, d)))))

  /** `all`, or a comma list of family names in feed order; posting needs
    * digest before it (it consumes the digest family's first-seen
    * representatives). */
  def select(spec: String): Seq[Family] = {
    val fams = if (spec == "all") families else spec.split(",").toSeq.map(n =>
      families.find(_.name == n).getOrElse(sys.error(
        s"unknown family: $n (all|${families.map(_.name).mkString("|")})")))
    val names = fams.map(_.name)
    require(!names.contains("posting") ||
      names.indexOf("digest") >= 0 && names.indexOf("digest") < names.indexOf("posting"),
      "posting needs digest before it")
    fams
  }

  /** Families `fams` maintained into `root/<family>/delta` (fold threshold
    * `foldSegments`) and twinned into `root/<family>/twin`. [[feed]],
    * [[twin]] and [[probe]] are the soak without its stream. */
  final class Soak(s: SparkSession, fams: Seq[Family], val root: String,
      bases: Bases, foldSegments: Int) {
    def delta(f: String): String = s"$root/$f/delta"
    private def twinDir(f: String) = s"$root/$f/twin"
    private val fns = fams.map(f => f.name -> f.maintainer(bases, delta(f.name), foldSegments)).toMap

    /** `run` over every family concurrently, posting right after
      * digest: wall is max(family), not the sum. Spark job submission is
      * thread-safe and each family owns its delta and twin dirs. */
    private def eachFamily(run: Family => Unit): Unit = {
      val posting = fams.find(_.name == "posting")
      Await.result(Future.sequence(fams.filterNot(posting.contains).map(f => Future {
        run(f); if (f.name == "digest") posting.foreach(run)
      })), Duration.Inf)
    }

    /** Batch `bid` of raw `value`s into every family. Posting sees only
      * the representatives the digest family just landed (a narrow
      * semi-join, no recompute). */
    def feed(raw: DataFrame, bid: Long): Unit = eachFamily { f =>
      val in = f.shape(raw)
      fns(f.name)(if (f.name != "posting") in else in.join(
        s.read.schema(digestDdl).parquet(MaintainerHarness.segPath(delta("digest"), bid, ""))
          .select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi"), bid)
    }

    /** Every family re-run once, unfolded, over the whole delivered
      * `value` frame into its twin dir. */
    def twin(delivered: DataFrame): Unit = eachFamily { f =>
      val in = if (f.key.isEmpty) f.shape(delivered) else f.shape(delivered).dropDuplicates(f.key)
      // the streamed upstream filter: docs whose digest the base
      // directory already held never reach postings
      val fed = if (f.name != "posting") in else in.withColumn("digest", md5(col("text")))
        .join(bases.digest.select("digest"), Seq("digest"), "left_anti").drop("digest")
      f.maintainer(bases, twinDir(f.name), 0)(fed, TwinBatch)
    }

    /** Each canonical view of the streamed state (batches below `below`)
      * set-compared with the twin's in one job: a distinct row seen only
      * by the twin is missing, only by the stream extra. One DONE-PROBE
      * line per view. */
    def probe(below: Long): Seq[(String, Boolean)] = for (f <- fams; v <- f.views) yield {
      val name = if (v.name.isEmpty) f.name else s"${f.name}/${v.name}"
      val a = v.read(s, delta(f.name), below)
      val sides = a.withColumn("__side", lit(1))
        .unionByName(v.read(s, twinDir(f.name), Long.MaxValue).withColumn("__side", lit(2)))
        .groupBy(a.columns.map(col).toIndexedSeq: _*)
        .agg(min(col("__side")).as("lo"), max(col("__side")).as("hi"))
      val r = sides.agg(count(when(col("lo") === 2, 1)), count(when(col("hi") === 1, 1)),
        count(when(col("hi") === 2, 1))).head()
      val (missing, extra, b) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ok = missing == 0 && extra == 0
      println(s"[stream-soak] DONE-PROBE $name: twin_rows=$b " +
        s"missing=$missing extra=$extra ${if (ok) "MATCH" else "MISMATCH"}")
      name -> ok
    }
  }

  private val TwinBatch = 999999L

  private def storage(s: SparkSession): String = {
    val sc = s.sparkContext
    val infos = sc.getRDDStorageInfo
    f"persistent_rdds=${sc.getPersistentRDDs.size}%d " +
      f"storage_mem=${infos.map(_.memSize).sum / 1024 / 1024}%dMB " +
      f"storage_disk=${infos.map(_.diskSize).sum / 1024 / 1024}%dMB"
  }

  private def loadavg: String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ").head
    catch { case _: Throwable => "?" }

  /** Feed `soak` from a `rate-micro-batch` stream for `nBatches` batches
    * of `rowsPerBatch` values, then twin and probe it. Batches past the
    * last are left empty, so stopping the stream never interrupts one
    * that writes. */
  def stream(s: SparkSession, soak: Soak, nBatches: Int, rowsPerBatch: Int,
      reportEvery: Int): Seq[(String, Boolean)] = {
    val t0 = System.nanoTime()
    def elapsed = f"${(System.nanoTime() - t0) / 1e9}%.0fs"
    val q = s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch).load()
      .writeStream
      .option("checkpointLocation", s"${soak.root}/ckpt")
      .foreachBatch { (raw: DataFrame, bid: Long) =>
        if (bid < nBatches) soak.feed(raw.select("value"), bid) }
      .start()
    var nextReport = reportEvery.toLong
    var last = -1L
    try {
      while (last < nBatches - 1) {
        // surfaces the query's failure; an early clean stop is one too
        require(!q.awaitTermination(500), "the soak stream stopped early")
        for (p <- q.recentProgress if p.batchId > last && p.batchId < nBatches) {
          last = p.batchId
          if (last >= nextReport) {
            nextReport += reportEvery
            val trig = Option(p.durationMs.get("triggerExecution"))
              .map(_.toString).getOrElse("?")
            println(f"[stream-soak] batch=$last%5d trigger_ms=$trig%-6s " +
              s"${storage(s)} load=$loadavg elapsed=$elapsed")
          }
        }
      }
    } finally q.stop()
    // unpin the finished batches' transient blocks BEFORE the DONE line:
    // a leak must not be able to hide behind "freed later"
    graft.Materialize.releaseTransient(s)
    val delivered = nBatches.toLong * rowsPerBatch
    println(s"[stream-soak] DONE batches=$nBatches delivered_rows=$delivered " +
      s"${storage(s)} total=$elapsed dir=${soak.root}")
    soak.twin(s.range(0, delivered).select(col("id").as("value")))
    soak.probe(nBatches)
  }

  def main(args: Array[String]): Unit = {
    val fams = select(args.headOption.getOrElse("all"))
    val nBatches = args.lift(1).map(_.toInt).getOrElse(2000)
    val rowsPerBatch = args.lift(2).map(_.toInt).getOrElse(500)
    val reportEvery = args.lift(3).map(_.toInt).getOrElse(100)
    val foldSegments = args.lift(4).map(_.toInt)
      .getOrElse(MaintainerHarness.FoldSegmentsDefault)

    // local[16] for cross-family job overlap; shuffle partitions 4
    // because per-batch frames are tiny (≤ pool-sized) and the soak's
    // fixed cost is TASK COUNT — families × ~10 jobs × partitions per
    // batch. 16-way tiny shuffles measured ~6 s/batch of pure
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
    val root = java.nio.file.Files.createTempDirectory("streamsoak").toString
    println(s"[stream-soak] root=$root families=${fams.map(_.name).mkString(",")} " +
      s"batches=$nBatches rows/batch=$rowsPerBatch foldSegments=$foldSegments")
    val soak = new Soak(spark, fams, root, new Bases(spark, sfDir), foldSegments)
    stream(spark, soak, nBatches, rowsPerBatch, reportEvery)
    println(s"[stream-soak] EXIT ${storage(spark)}")
    spark.stop()
  }
}
