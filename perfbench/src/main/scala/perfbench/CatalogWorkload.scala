package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** `catalog`: the staged-index layer's read and write paths in one
  * session. The read path is a fixed cross-module slice of
  * `graft.SparkEntry.queries` over the generated tables, through the noop
  * sink; the write path is two streaming index maintainers (text and
  * vector arrivals), one add-batch each per pass.
  *
  * Set-up builds the staged indexes the slice probes cold into the run's
  * fresh index dir, then the maintainers' base sides. The first pass is
  * timed as `first_pass_s` and is the output check: each query's result
  * fingerprint in place of the noop write, compared with
  * `reference/catalog.json`. After one untimed warm pass, steady passes
  * run until `--seconds` is spent (at least four). The seed permutes the
  * order of the queries and of the maintainer block in every pass, and
  * picks the maintainers' batches.
  * After the passes the maintainers' deltas are read once and checked
  * against a one-shot twin (the DONE-probe). */
object CatalogWorkload {

  /** Module (layer) of every query name, from the per-module catalogs
    * `SparkEntry.queries` merges. */
  lazy val moduleOf: Map[String, String] = {
    import graft._
    Seq(
      "ops" -> Seq(ops.CoreQueries.queries, ops.JoinSetQueries.queries,
        ops.WindowQueries.queries, ops.AdvancedQueries.queries,
        ops.ShapeQueries.queries, ops.ScaleUtils.queries,
        ops.TimeSeriesOps.queries, ops.StatOps.queries, ops.GraphOps.queries),
      "llm" -> Seq(llm.TextOps.queries, llm.RetrievalOps.queries,
        llm.QualityOps.queries, llm.VectorOps.queries, llm.NearDupOps.queries,
        llm.CorpusOps.queries, llm.CorpusAudit.queries, llm.SamplingOps.queries,
        llm.SelectionOps.queries, llm.MultimodalOps.queries),
      "sources" -> Seq(sources.Interchange.queries),
      "streaming" -> Seq(streaming.StreamOps.queries),
    ).flatMap { case (m, maps) => maps.flatMap(_.keys).map(_ -> m) }.toMap
  }

  val modules = Seq("ops", "llm", "sources", "streaming")

  /** The slice: every catalog module, top-k windows and kernels, and
    * probes of three staged indexes. It is small because one run must
    * finish within the benchmark's per-run time budget. */
  val queries: Seq[String] = Seq(
    // ops: row_number window, top-k aggregator kernel, graph index probe
    "q21_order_rank", "q119_topk_aggregator", "q151_degree_profile",
    // llm: staged IVF and posting probes, the simhash kernel
    "q57_ivf_topk", "q130_bm25_staged", "q45_simhash",
    // sources: staged interchange export
    "q176_jsonl_roundtrip",
    // streaming: event-time session windows
    "q61_session_window")

  /** The staged indexes the slice probes, each one cold `ensure` call.
    * The other seven are left out: no query of the slice reads them, and
    * their builds would add about 15 s of set-up to every run. */
  def indexes: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
    "ivf" -> ((s, d) => graft.llm.IvfIndex.ensure(s, d)),
    "posting" -> ((s, d) => graft.llm.PostingIndex.ensure(s, d)),
    "graph" -> ((s, d) => graft.ops.GraphIndex.ensure(s, d)))

  /** The maintainer families fed beside the queries (text and vector
    * arrivals), in wiring order. The other ten are left out for the run's
    * time budget: all twelve add about 19 s per pass on a 4-core host, the
    * graph family alone about 2 s (`index-maintain` runs them all). */
  val maintained = Seq("paragraph", "ivf")

  /** Kernels timed in the traced run, on the documents / embeddings
    * tables fanned out to `KernelRows` rows. */
  val KernelFanout = 40
  def kernels: Seq[(String, Boolean, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = {
    import graft.functions.{HashKernels => H, VectorFunctions => V}
    Seq(
      ("shingle_minhash", true, c => H.shingle_minhash(c, 5, 64)),
      ("simhash64", true, c => H.simhash64(c)),
      ("token_array", true, c => H.token_array(c)),
      ("gram_digests", true, c => H.gram_digests(c, 8)),
      ("hashed_tf_vector", true, c => H.hashed_tf_vector(c, 256)),
      ("winnow_fingerprint", true, c => H.winnow_fingerprint(c, 5, 4)),
      ("repetition_stats", true, c => H.repetition_stats(c)),
      ("char_stats", true, c => H.char_stats(c)),
      ("hyperplane_codes", false, c => V.hyperplane_codes(c, 16, 4)),
      ("l2sq_fd", false, c => V.l2sq_fd(c, c)),
      ("cosine_sim", false, c => V.cosine_sim(c, c)),
      ("int8_quant_stats", false, c => V.int8_quant_stats(c)))
  }

  final case class QRun(name: String, pass: Int, opSpan: Int, constructSpan: Int,
      execSpan: Int, constructS: Double, execS: Double, pins: Int)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val s = ctx.spark
    val sc = s.sparkContext
    val tr = ctx.trace
    val entry = graft.SparkEntry.queries

    // --- set-up: the staged indexes, built cold into the run's fresh
    // index dir, then the maintainers' base sides ---
    val feed = new IndexMaintainWorkload.Feed(ctx, out, maintained, s"${ctx.runDir}/maintain")
    val buildS = mutable.Map.empty[String, Double]
    val (_, setupS, _) = tr.span(s, "setup", "setup") {
      indexes.foreach { case (name, ensure) =>
        ctx.op(out, s"build:$name", "index")(ensure(s, ctx.dataDir)) match {
          case (Some(_), t, _) => buildS(name) = t
          case _ => ()
        }
      }
      ctx.op(out, "build:maintainers", "streaming")(feed.setup())
    }
    out.setupS = setupS
    out.layers("index.disk_mb") = Files.mb(graft.StagedAsset.cacheRoot)
    if (tr.enabled) indexes.foreach { case (name, ensure) =>
      val hits = (1 to 3).flatMap { _ =>
        val (ok, t, _) = ctx.op(out, s"hit:$name", "index")(ensure(s, ctx.dataDir))
        ok.map(_ => t)
      }
      out.layers(s"index.$name.build_s") = buildS.getOrElse(name, 0.0)
      out.layers(s"index.$name.hit_s") = Stats.median(hits)
    }

    // --- timed passes; the first one checks each query's fingerprint ---
    val runs = mutable.ArrayBuffer.empty[QRun]
    val got = mutable.Map.empty[String, String]
    def runQuery(q: String, pass: Int): Unit = {
      val (res, _, opSpan) = ctx.op(out, q, moduleOf(q)) {
        val before = if (tr.enabled) sc.getPersistentRDDs.keySet else Set.empty[Int]
        val (df, cS, cSpan) = tr.span(s, s"$q:construct", "construct")(entry(q)(s, ctx.dataDir))
        val pins = if (tr.enabled) (sc.getPersistentRDDs.keySet -- before).size else 0
        val (_, eS, eSpan) = tr.span(s, s"$q:exec", "exec") {
          if (pass == 0) got(q) = Fingerprint.of(df) else ctx.noop(df)
        }
        (cSpan, eSpan, cS, eS, pins)
      }
      graft.Materialize.releaseTransient(s)
      res.foreach { case (cSpan, eSpan, cS, eS, pins) =>
        runs += QRun(q, pass, opSpan, cSpan, eSpan, cS, eS, pins)
      }
    }
    // one untimed pass after the first lets the JIT compiler catch up:
    // without it the steady passes still get faster one after another
    ctx.passes(out, warm = 1) { p =>
      val order = ctx.rng.shuffle(queries.map(Some(_)) :+ None)
      val (_, secs, id) = tr.span(s, s"pass$p", "pass") {
        order.foreach {
          case Some(q) => runQuery(q, p)
          case None => feed.pass(p)
        }
      }
      (secs, id)
    }
    val ref = Json.parseFlat(readRef(ctx, "catalog.json"))
    queries.foreach { q =>
      val fp = got.getOrElse(q, "missing")
      out.check(s"catalog/$q", ref.get(q).contains(fp),
        s"fingerprint $fp, reference ${ref.getOrElse(q, "missing")}")
    }
    out.notes("fingerprints") = Json.obj(queries.map(q => q -> Json.str(got.getOrElse(q, "missing"))))
    feed.finish()
    val steady = runs.filter(_.pass >= out.firstSteady)
    steady.foreach(r => out.steadyOp(r.name, r.pass, r.constructS + r.execS))
    // first-run against steady cost of the queries alone (the first pass
    // also computes the fingerprints)
    out.notes("queries_first_s") =
      Json.num(runs.filter(_.pass == 0).map(r => r.constructS + r.execS).sum)
    out.notes("queries_steady_s") =
      Json.num(out.opMedians.filter(o => queries.contains(o._1)).map(_._2).sum)

    // --- per-layer split by module (median over steady passes of each
    // pass's per-module sum) ---
    if (tr.enabled) {
      tr.drain()
      for (m <- modules) {
        val byPass = steady.filter(r => moduleOf(r.name) == m).groupBy(_.pass).values.map(_.toSeq).toSeq
        def med(f: Seq[QRun] => Double): Double = Stats.median(byPass.map(f))
        def jobsOf(rs: Seq[QRun], span: QRun => Int) = tr.jobsUnder(rs.map(span).toSet)
        out.layers(s"$m.construct_s") = med(_.map(_.constructS).sum)
        out.layers(s"$m.construct_jobs") = med(rs => jobsOf(rs, _.constructSpan).size.toDouble)
        out.layers(s"$m.exec_s") = med(_.map(_.execS).sum)
        out.layers(s"$m.jobs") = med(rs => jobsOf(rs, _.opSpan).size.toDouble)
        out.layers(s"$m.tasks") = med(rs => jobsOf(rs, _.opSpan).map(_.tasks).sum.toDouble)
        out.layers(s"$m.shuffle_write_mb") =
          med(rs => jobsOf(rs, _.opSpan).map(_.shuffleWriteBytes).sum / 1048576.0)
        out.layers(s"$m.spill_mb") =
          med(rs => jobsOf(rs, _.opSpan).map(_.spillBytes).sum / 1048576.0)
        out.layers(s"$m.pins") = med(_.map(_.pins.toDouble).sum)
      }
      kernelThroughput(ctx, out)
    }
  }

  def readRef(ctx: Ctx, name: String): String = {
    val f = new java.io.File(ctx.refDir, name)
    if (f.exists) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") else "{}"
  }

  /** Rows per second of each fused kernel through the noop sink. */
  private def kernelThroughput(ctx: Ctx, out: Outcome): Unit = {
    val s = ctx.spark
    val fan = s.range(KernelFanout).withColumnRenamed("id", "rep")
    val docs = graft.Tables.t(s, ctx.dataDir, "documents").select("text")
      .crossJoin(fan).repartition(ctx.cores).cache()
    val vecs = graft.Tables.t(s, ctx.dataDir, "embeddings").select("embedding")
      .crossJoin(fan).repartition(ctx.cores).cache()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    kernels.foreach { case (name, onText, k) =>
      val (df, n, c) = if (onText) (docs, nDocs, "text") else (vecs, nVecs, "embedding")
      val ts = (1 to 3).flatMap(_ => ctx.op(out, s"kernel:$name", "functions") {
        ctx.noop(df.select(k(col(c)).as("k")))
      } match { case (Some(_), t, _) => Some(t); case _ => None })
      out.layers(s"functions.$name.rows_per_s") = if (ts.isEmpty) 0.0 else n / Stats.median(ts)
    }
    docs.unpersist(); vecs.unpersist()
  }
}
