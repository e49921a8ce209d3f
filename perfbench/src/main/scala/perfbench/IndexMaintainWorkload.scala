package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming._

/** The streaming index-maintainer families (`graft.streaming.Streaming*Maintenance`)
  * fed seeded add-batches one batch at a time (closed loop), sequentially
  * in the combined soak's wiring order (digest before posting), with a fold
  * threshold low enough that tiered compaction fires on every batch after
  * the first.
  *
  * Arrival shapes follow `graft.tools.StreamSoakAll`: recycled text and
  * vector pools (so first-seen exclusion is exercised) and monotone whole
  * orders for the graph family. The seed picks the value offset, hence
  * which pool members and orders arrive. Base sides come from the
  * generated documents / embeddings tables.
  *
  * [[Feed]] is the write path `catalog` measures beside its queries (two
  * families: text and vector arrivals). The `index-maintain` workload, run by
  * hand, feeds all twelve: a pass is one batch for every family; after the
  * passes each family's delta is read once (`probe`), then the DONE-probe
  * checks the streamed state against a one-shot twin. */
object IndexMaintainWorkload {
  val Rows = 48
  val TextPool = 240L
  val VecPool = 160L
  /** Fold as soon as one earlier segment is live: every batch after the
    * first runs a tiered compaction. */
  val FoldSegments = 1
  private val IdOff = 10000000L
  private val VecOff = 20000000L
  private val OrdOff = 30000000L

  /** All twelve families, digest before posting (the upstream filter). */
  val families = Seq("digest", "posting", "band", "classifier", "media", "audio",
    "paragraph", "sketch", "ivf", "semdedup", "graph", "span")

  private def synthEmbedding(id: Column) =
    transform(sequence(lit(0), lit(63)), i =>
      ((pmod(xxhash64(id, i), lit(2001)) - 1000) / 1000.0).cast("float"))
  private def shapeText(df: DataFrame): DataFrame = df
    .select((lit(IdOff) + pmod(col("value"), lit(TextPool))).as("doc_id"))
    .withColumn("text", graft.tools.StreamSoak.synthText(col("doc_id")))
  private def shapeSketch(df: DataFrame): DataFrame =
    shapeText(df).withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(5))))
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

  /** Canonical sub-tables each family's DONE-probe compares (and its
    * probe read scans). The sketch family's K min columns are read from
    * its segment footers (`ddl`). */
  val subTables: Seq[(String, String, String)] = Seq(
    ("digest", "", "digest string, rep_id bigint"),
    ("band", "digests", "digest string, rep_id bigint, n_sh bigint"),
    ("band", "dups", "rep_id bigint, doc_id bigint"),
    ("posting", "postings", "doc_id bigint, term string, tf bigint, pbucket string"),
    ("posting", "df", "term string, df bigint"),
    ("classifier", "counts", "bucket string, cp bigint, cn bigint"),
    ("media", "fps", "doc_id bigint, fp bigint"),
    ("audio", "fps", "doc_id bigint, fp bigint"),
    ("paragraph", "dgs", "dg string"),
    ("sketch", "sketch", ""),
    ("ivf", "lists", "vec_id bigint, cell int, v array<float>, norm double"),
    ("semdedup", "vecs", "label int, vec_id bigint, v array<float>, norm double"),
    ("semdedup", "edges", "id_a bigint, id_b bigint"),
    ("graph", "edges", "u bigint, v bigint"),
    ("span", "dgn", "dg binary, n bigint, doc1 bigint, pos1 bigint"))

  /** Base sides, built (cold staged indexes) on first use only. */
  final class Bases(s: SparkSession, dataDir: String) {
    private lazy val docs = graft.Tables.t(s, dataDir, "documents")
    lazy val digest: DataFrame =
      docs.groupBy(md5(col("text")).as("digest")).agg(min(col("doc_id")).as("rep_id"))
    lazy val bandIdx: String =
      graft.llm.BandIndex.ensure(s, dataDir, graft.llm.BandIndex.Boundary.all)
    lazy val bandStore: DataFrame = docs.select(col("doc_id"), col("text"))
      .unionByName(s.range(IdOff, IdOff + TextPool)
        .select(col("id").as("doc_id"), graft.tools.StreamSoak.synthText(col("id")).as("text")))
    lazy val centroids: DataFrame =
      s.read.parquet(s"${graft.llm.IvfIndex.ensure(s, dataDir)}/centroids")
    lazy val semdedup: DataFrame = {
      graft.llm.SemDedupIndex.ensure(s, dataDir); graft.llm.SemDedupIndex.corpus(s, dataDir)
    }
  }

  /** Family `f`'s maintainer writing to delta dir `d`. Its base sides are
    * built here, not on the first batch (an eta-expanded call evaluates
    * its arguments only when the function is applied). */
  def fnOf(b: Bases, f: String, d: String, fold: Int): (DataFrame, Long) => Unit = f match {
    case "digest" => StreamingIndexMaintenance.dedupMaintain(b.digest, d, s"$d-out", fold) _
    case "band" =>
      val (idx, docs) = (b.bandIdx, b.bandStore)
      StreamingBandMaintenance.bandMaintain(idx, docs, d, s"$d-out", fold) _
    case "posting" => StreamingPostingMaintenance.postingMaintain(d, fold) _
    case "classifier" => StreamingClassifierMaintenance.classifierMaintain(d, foldSegments = fold) _
    case "media" => StreamingMediaMaintenance.mediaMaintain(d, fold) _
    case "audio" => StreamingAudioMaintenance.audioMaintain(d, fold) _
    case "paragraph" => StreamingParagraphMaintenance.paragraphMaintain(d, fold) _
    case "sketch" => StreamingSketchMaintenance.sketchMaintain(d, fold) _
    case "ivf" =>
      val centroids = b.centroids
      StreamingIvfMaintenance.ivfMaintain(centroids, d, fold) _
    case "semdedup" =>
      val base = b.semdedup
      StreamingSemDedupMaintenance.semDedupMaintain(base, d, fold) _
    case "graph" => StreamingGraphMaintenance.graphMaintain(d, fold) _
    case "span" => StreamingSpanMaintenance.spanMaintain(d, fold) _
  }

  /** The family's arrival shape of a raw `value` frame. */
  def shape(f: String, raw: DataFrame): DataFrame = f match {
    case "sketch" | "span" => shapeSketch(raw)
    case "ivf" | "semdedup" => shapeVec(raw)
    case "graph" => shapeGraph(raw)
    case _ => shapeText(raw)
  }

  private def compactedDirs(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(d => d.getName.matches("t\\d+_\\d+") && new java.io.File(d, "_COMPACTED").exists)
      .map(_.getName).toSet

  /** DDL of a sub-table; the sketch's comes from the landed segments. */
  private def ddl(s: SparkSession, deltaDir: String, sub: String, schema: String): String =
    if (schema.nonEmpty) schema
    else s.read.parquet(s"$deltaDir/*/$sub").schema.toDDL

  /** `index-maintain`: all twelve families, one batch each per pass. Set-up
    * builds their base sides (staged band, IVF and semdedup indexes) cold. */
  def run(ctx: Ctx, out: Outcome): Unit = {
    val feed = new Feed(ctx, out, families, s"${ctx.runDir}/maintain")
    val (ok, setupS, _) = ctx.op(out, "setup", "setup")(feed.setup())
    if (ok.isEmpty) return
    out.setupS = setupS
    ctx.passes(out) { p =>
      val (_, secs, id) = ctx.trace.span(ctx.spark, s"pass$p", "pass")(feed.pass(p))
      (secs, id)
    }
    feed.finish()
  }

  private final case class BRec(family: String, pass: Int, secs: Double, folded: Boolean)

  /** Families `fams` (in wiring order; posting needs digest before it) fed
    * one seeded batch each per [[pass]] into delta dirs under `root`. Each
    * batch is one timed op, `maintain:<family>`. */
  final class Feed(ctx: Ctx, out: Outcome, val fams: Seq[String], root: String) {
    require(!fams.contains("posting") || fams.indexOf("digest") >= 0 &&
      fams.indexOf("digest") < fams.indexOf("posting"), "posting needs digest before it")
    private val s = ctx.spark
    private def delta(f: String) = s"$root/$f/delta"
    private def twin(f: String) = s"$root/$f/twin"
    private val offset = math.abs(new scala.util.Random(ctx.seed).nextLong() % 1000000L)
    private lazy val b = new Bases(s, ctx.dataDir)
    private var fns = Map.empty[String, (DataFrame, Long) => Unit]
    private val recs = scala.collection.mutable.ArrayBuffer.empty[BRec]
    private var nBatches = 0

    /** Build the families' base sides and maintainers. */
    def setup(): Unit = fns = fams.map(f => f -> fnOf(b, f, delta(f), FoldSegments)).toMap

    /** Batch `p` (0, 1, ...: every batch is new data) of every family. */
    def pass(p: Int): Unit = {
      // a local relation, not a range: its values are data, so every
      // batch plans to the same generated code (a range's bounds would be
      // compiled into a new class each pass)
      val raw = s.createDataFrame(
        java.util.Arrays.asList((offset + p * Rows until offset + (p + 1) * Rows)
          .map(v => org.apache.spark.sql.Row(v)): _*),
        StructType(Seq(StructField("value", LongType, nullable = false))))
      fams.foreach { f =>
        val before = compactedDirs(delta(f))
        val (ok, t, _) = ctx.op(out, s"maintain:$f", "streaming") {
          val in = shape(f, raw)
          if (f == "posting") {
            // upstream-filter contract: postings see only the batch's
            // first-seen representatives, read from the digest segment
            // the digest family just landed
            val fresh = s.read.schema(digestSchema).parquet(s"${delta("digest")}/b$p")
              .select(col("rep_id").as("doc_id"))
            fns(f)(in.join(fresh, Seq("doc_id"), "left_semi"), p)
          } else fns(f)(in, p)
        }
        if (ok.isDefined) {
          recs += BRec(f, p, t, (compactedDirs(delta(f)) -- before).nonEmpty)
          if (p >= out.firstSteady) out.steadyOp(s"maintain:$f", p, t)
        }
      }
      nBatches = p + 1
    }

    private def subs = subTables.filter(t => fams.contains(t._1))

    /** After the passes: one probe read of each family's delta, the
      * per-layer figures, then the DONE-probe (untimed). */
    def finish(): Unit = {
      subs.groupBy(_._1).toSeq.sortBy(t => fams.indexOf(t._1)).foreach { case (f, fs) =>
        val (_, t, _) = ctx.op(out, s"probe:$f", "streaming") {
          fs.foreach { case (_, sub, schema) =>
            ctx.noop(DeltaDirs.readSegs(s, delta(f), sub,
              StructType.fromDDL(ddl(s, delta(f), sub, schema))))
          }
          if (f == "span") ctx.noop(StreamingSpanMaintenance.report(s, delta(f)))
        }
        out.layers(s"streaming.$f.probe_s") = t
      }
      val steady = recs.filter(_.pass >= out.firstSteady).toSeq
      fams.foreach { f =>
        out.layers(s"streaming.$f.batch_s") = Stats.median(steady.filter(_.family == f).map(_.secs))
      }
      out.layers("streaming.folds") = recs.count(_.folded).toDouble
      out.layers("streaming.fold_batch_s") = Stats.median(steady.filter(_.folded).map(_.secs))
      out.layers("streaming.live_segments") =
        fams.map(f => DeltaDirs.liveBCount(s, delta(f), Long.MaxValue)).sum.toDouble
      out.layers("streaming.delta_mb") = fams.map(f => Files.mb(delta(f))).sum
      graft.Materialize.releaseTransient(s)
      doneProbe()
    }

    /** Every family re-run once over the whole delivered pool into a twin
      * dir; each canonical state must equal the streamed one. */
    private def doneProbe(): Unit = {
      val delivered = s.range(offset, offset + nBatches * Rows).select(col("id").as("value"))
      val twinId = 999999L
      fams.foreach { f =>
        val in = f match {
          case "posting" =>
            // docs whose digest the base already held never reach postings
            shapeText(delivered).dropDuplicates("doc_id")
              .withColumn("digest", md5(col("text")))
              .join(b.digest.select("digest"), Seq("digest"), "left_anti").drop("digest")
          case "graph" => shapeGraph(delivered)
          case "ivf" | "semdedup" => shapeVec(delivered).dropDuplicates("vec_id")
          case _ => shape(f, delivered).dropDuplicates("doc_id")
        }
        fnOf(b, f, twin(f), 0)(in, twinId)
      }
      def segS(f: String, sub: String, schema: String) = DeltaDirs.readSegs(s, delta(f), sub,
        StructType.fromDDL(ddl(s, twin(f), sub, schema)), nBatches.toLong)
      def segT(f: String, sub: String, schema: String) = DeltaDirs.readSegs(s, twin(f), sub,
        StructType.fromDDL(ddl(s, twin(f), sub, schema)))
      def cmp(name: String, streamed: DataFrame, twinDf: DataFrame): Unit = {
        val a = Fingerprint.of(streamed.dropDuplicates())
        val t = Fingerprint.of(twinDf.dropDuplicates())
        out.check(s"done-probe/$name", a == t, s"streamed $a, twin $t (rows:hash)")
        out.notes(s"twin/$name") = Json.str(t)
      }
      subs.foreach { case (f, sub, schema) =>
        val name = if (sub.isEmpty) f else s"$f/$sub"
        try cmp(name, canon(f, sub, segS(f, sub, schema)), canon(f, sub, segT(f, sub, schema)))
        catch { case e: Throwable => out.check(s"done-probe/$name", false, e.toString) }
      }
      if (fams.contains("span"))
        try cmp("span/report", StreamingSpanMaintenance.report(s, delta("span")),
          StreamingSpanMaintenance.report(s, twin("span")))
        catch { case e: Throwable => out.check("done-probe/span/report", false, e.toString) }
      out.notes("batches") = nBatches.toString
      out.notes("value_offset") = offset.toString
    }
  }

  private def canon(f: String, sub: String, df: DataFrame): DataFrame = (f, sub) match {
    case ("posting", "df") => df.groupBy("term").agg(sum(col("df")).as("df"))
    case ("classifier", _) => df.groupBy("bucket")
      .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))
    case ("sketch", _) => // min-of-mins merge per source
      val ms = df.columns.filter(_ != "source")
      df.groupBy("source").agg(min(col(ms.head)).as(ms.head),
        ms.tail.toIndexedSeq.map(m => min(col(m)).as(m)): _*)
    case ("ivf", _) => df.select("vec_id", "cell")
    case ("semdedup", "vecs") => df.select("label", "vec_id")
    case ("span", _) => df.groupBy("dg").agg(sum(col("n")).as("n"))
    case _ => df
  }
}
