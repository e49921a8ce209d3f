package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => NFiles, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build the session, run the workload,
  * write the result (metrics, checks, machine state) as JSON to `--out`
  * and, for traced runs, the spans to `--spans`. `perfbench/run.py` is
  * the entry point that builds, generates inputs and launches this.
  *
  * Args: --workload w --seed n --seconds s --trace 0|1 --data dir
  *       --run dir --ref dir --out file --spans file --t0-ms epochMillis
  *       [--cores n] */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a.get("trace").contains("1")
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val t0Ms = a.get("t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val runId = s"$workload-s${a("seed")}-t${if (traced) 1 else 0}"
    val machine = new Machine(cores)
    val trace = new Trace(traced, runId)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$runId")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("run")}/spark-local")
      .config("spark.cleaner.periodicGC.interval", "1min")
      // room for every class the workload generates: with the default
      // 100 entries a catalog pass (about 150 classes) evicts each class
      // before its next use, so every steady pass recompiled all its code
      // and re-ran the JIT over it. The first pass still pays compilation.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark)
    val sessionReadyS = (System.currentTimeMillis() - t0Ms) / 1e3
    val jit0 = Trace.jitSeconds
    val gc0 = Trace.gcSeconds

    val ctx = Ctx(spark, trace, a("data"), a("run"), a("seed").toLong,
      a("seconds").toInt, cores, a("ref"))
    val out = new Outcome
    workload match {
      case "catalog" => CatalogWorkload.run(ctx, out)
      case "medallion" => MedallionWorkload.run(ctx, out)
      case "index-maintain" => IndexMaintainWorkload.run(ctx, out)
      case other => sys.error(s"unknown workload: $other")
    }
    trace.drain()

    val timings = Seq(
      "setup_s" -> (sessionReadyS + out.setupS),
      "first_pass_s" -> out.firstPassS,
      "steady_total_s" -> out.opMedians.map(_._2).sum,
      "op_p50_s" -> Stats.quantile(out.opMedians.map(_._2), 0.5),
      "op_p90_s" -> Stats.quantile(out.opMedians.map(_._2), 0.9),
      "steady_total_raw_s" -> out.rawOpMedians.map(_._2).sum)
    // a sample now and then holds ~30 MB of not yet cleaned shuffle and
    // broadcast state, so the least steady sample is the retained heap
    val e2e = timings :+
      ("heap_retained_mb" -> out.heapMb.minOption.getOrElse(0.0))
    if (traced) {
      val passes = out.steadyPassSpans.toSeq
      def med(f: Int => Double) = Stats.median(passes.map(f))
      val jobsOf = (id: Int) => trace.jobsUnder(Set(id))
      out.layers("spark.jobs") = med(jobsOf(_).size.toDouble)
      out.layers("spark.stages") = med(jobsOf(_).map(_.stages).sum.toDouble)
      out.layers("spark.tasks") = med(jobsOf(_).map(_.tasks).sum.toDouble)
      out.layers("spark.job_s") = med(jobsOf(_).map(j => (j.endMs - j.startMs) / 1e3).sum)
      out.layers("spark.driver_gap_s") = med(trace.driverGapSeconds)
      out.layers("spark.ms_per_job") = med { id =>
        val n = jobsOf(id).size
        if (n == 0) 0.0 else trace.spans.find(_.id == id).get.seconds * 1e3 / n
      }
      for (ph <- Seq("analysis", "optimization", "planning"))
        out.layers(s"catalyst.${ph}_s") = Stats.median(out.catalystS.getOrElse(ph, Nil).toSeq)
      out.layers("jvm.jit_s") = Trace.jitSeconds - jit0
      out.layers("jvm.gc_s") = Trace.gcSeconds - gc0
      out.layers("trace.listener_s") = trace.spark.busyNs.get / 1e9
    }
    val correct = out.failed == 0 && out.checks.nonEmpty && out.checks.values.forall(_ == "ok")

    def nums(kv: Iterable[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "run" -> Json.str(runId),
      "workload" -> Json.str(workload),
      "seed" -> a("seed"),
      "seconds" -> a("seconds"),
      "trace" -> (if (traced) "1" else "0"),
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "e2e" -> nums(e2e),
      "layers" -> nums(out.layers),
      "samples" -> Json.obj(Seq(
        "steady_passes" -> out.steadyPassSpans.size.toString,
        "ops" -> out.opSamples.size.toString,
        "op_samples" -> out.opSamples.values.map(_.size).sum.toString)),
      "checks" -> Json.obj(out.checks.map { case (k, v) => k -> Json.str(v) }),
      "op_medians" -> nums(out.opMedians),
      "op_samples" -> Json.obj(out.opSamples.map { case (k, v) =>
        k -> v.map(x => Json.num(x._2)).mkString("[", ",", "]") }),
      "steady_pass_s" -> out.steadyPassS.map(Json.num).mkString("[", ",", "]"),
      "steady_passes" -> out.steadyPassRecs.mkString("[", ",", "]"),
      "heap_mb" -> out.heapMb.map(Json.num).mkString("[", ",", "]"),
      "notes" -> Json.obj(out.notes),
      "machine" -> machine.finish(spark)))
    NFiles.writeString(Paths.get(a("out")), json)
    if (traced)
      NFiles.write(Paths.get(a("spans")), (trace.toJsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** Machine state recorded with every run: a run on a busy machine says
  * so in its own output. "Other" CPU is the host's busy time not spent by
  * this JVM, as a share of all CPU time, from /proc/stat deltas. */
final class Machine(cores: Int) {
  private def loadavg: Double =
    try NFiles.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
  private def ownCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val loadStart = loadavg
  private val statStart = ProcStat.read()
  private val cpuStart = ownCpuNs

  def finish(spark: SparkSession): String = {
    val loadEnd = loadavg
    val statEnd = ProcStat.read()
    val total = (statEnd._3 - statStart._3).toDouble
    val jiffy = 0.01 // USER_HZ
    val steal = if (total > 0) (statEnd._2 - statStart._2) / total else 0.0
    val other = if (total > 0)
      math.max(0.0, (statEnd._1 - statStart._1) * jiffy - (ownCpuNs - cpuStart) / 1e9) / (total * jiffy)
    else 0.0
    val busy = other > 0.15 || steal > 0.05
    Json.obj(Seq(
      "cores_used" -> cores.toString,
      "host_cores" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(loadEnd),
      "steal_frac" -> Json.num(steal),
      "other_cpu_frac" -> Json.num(other),
      "busy" -> busy.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> Json.str(spark.version)))
  }
}
