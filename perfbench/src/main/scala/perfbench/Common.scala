package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Flat string → string map (the reference fingerprint files). */
  def parseFlat(text: String): Map[String, String] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Everything a workload reports back to [[Main]]. A "pass" is one round
  * over the workload's operation list; ops are its timed calls. */
final class Outcome {
  /** Workload set-up after the session is up (cold index builds). */
  var setupS = 0.0
  var firstPassS = 0.0
  /** Number of the first steady pass (after the first and warm passes). */
  var firstSteady = 1
  /** Heap in use after a full collection, after each steady pass. */
  val heapMb = mutable.ArrayBuffer.empty[Double]
  /** Span ids and wall seconds of the steady passes. */
  val steadyPassSpans = mutable.ArrayBuffer.empty[Int]
  val steadyPassS = mutable.ArrayBuffer.empty[Double]
  /** Each steady pass as JSON: wall, process CPU, JIT and GC seconds,
    * generated classes compiled, hypervisor steal share. */
  val steadyPassRecs = mutable.ArrayBuffer.empty[String]
  /** Hypervisor steal share of each steady pass, by pass number. */
  val passSteal = mutable.Map.empty[Int, Double]
  /** Catalyst phase seconds of each steady pass, by phase (traced runs). */
  val catalystS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Steady latencies of each op as measured, by op name, with the pass
    * each was taken in. */
  val opSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
  def steadyOp(name: String, pass: Int, secs: Double): Unit =
    opSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((pass, secs))
  /** Median steady latency of each op, net of hypervisor steal: each
    * sample is scaled by the share of its pass's CPU time the VM got. One
    * value per op, robust to a burst of contention that slows one or two
    * passes; the steal correction removes the time the host took the
    * CPUs away, which slows every pass of a run alike. */
  def opMedians: Seq[(String, Double)] =
    opSamples.toSeq.map { case (k, v) =>
      k -> Stats.median(v.toSeq.map { case (p, t) => t * (1 - passSteal.getOrElse(p, 0.0)) })
    }
  /** The same medians of the samples as measured. */
  def rawOpMedians: Seq[(String, Double)] =
    opSamples.toSeq.map { case (k, v) => k -> Stats.median(v.toSeq.map(_._2)) }
  var attempted = 0L
  var failed = 0L
  /** Output checks: name → "ok" or the mismatch. */
  val checks = mutable.LinkedHashMap.empty[String, String]
  /** Per-layer metrics the workload measured itself. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = if (ok) "ok" else detail
    if (!ok) System.err.println(s"[perfbench] CHECK FAIL $name: $detail")
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, dataDir: String,
    runDir: String, seed: Long, seconds: Int, cores: Int, refDir: String) {
  val rng = new scala.util.Random(seed)

  /** Timed, failure-counted call: one attempted operation. A failure is
    * printed on stderr and counted, never swallowed; the result is then
    * None. */
  def op[T](out: Outcome, name: String, layer: String)(body: => T): (Option[T], Double, Int) = {
    out.attempted += 1
    try {
      val (r, secs, id) = trace.span(spark, name, layer)(body)
      (Some(r), secs, id)
    } catch { case e: Throwable =>
      out.failed += 1
      System.err.println(s"[perfbench] FAIL $layer/$name: ${e.getClass.getName}: ${e.getMessage}")
      (None, 0.0, -1)
    }
  }

  /** Pass 0 (the first pass), `warm` untimed passes, then steady passes
    * until at least `MinSteadyPasses` have run and `seconds` are spent.
    * Passes are numbered 0, 1, 2, ...; steady ones from `out.firstSteady`.
    * `pass` returns its wall seconds and span id. After each steady pass,
    * outside any timed span, a full collection settles the heap and the
    * heap in use is sampled. Each steady pass also records its CPU, JIT,
    * GC and codegen counts and its steal share (see `opMedians`). A traced
    * run also takes each steady pass's Catalyst phase times, between two
    * listener fences. */
  def passes(out: Outcome, warm: Int = 0)(pass: Int => (Double, Int)): Unit = {
    out.firstSteady = 1 + warm
    out.firstPassS = pass(0)._1
    for (w <- 1 to warm) pass(w)
    val t0 = System.nanoTime()
    var p = out.firstSteady
    while (p < out.firstSteady + Ctx.MinSteadyPasses ||
        System.nanoTime() - t0 < seconds * 1000000000L) {
      val before = trace.phaseSnapshot(spark)
      val (cpu0, jit0, gc0, cg0) = (Trace.cpuSeconds, Trace.jitSeconds, Trace.gcSeconds, Trace.codegenCount)
      val st0 = ProcStat.read()
      val (secs, id) = pass(p)
      val steal = ProcStat.stealShare(st0, ProcStat.read())
      out.passSteal(p) = steal
      out.steadyPassRecs += Json.obj(Seq("pass" -> p.toString, "wall_s" -> Json.num(secs),
        "cpu_s" -> Json.num(Trace.cpuSeconds - cpu0), "jit_s" -> Json.num(Trace.jitSeconds - jit0),
        "gc_s" -> Json.num(Trace.gcSeconds - gc0), "codegen" -> (Trace.codegenCount - cg0).toString,
        "steal_share" -> Json.num(steal)))
      val after = trace.phaseSnapshot(spark)
      after.foreach { case (ph, v) =>
        out.catalystS.getOrElseUpdate(ph, mutable.ArrayBuffer.empty) += v - before.getOrElse(ph, 0.0)
      }
      out.steadyPassSpans += id
      out.steadyPassS += secs
      settleHeap(out)
      p += 1
    }
  }

  /** Two collections around a pause, so the context cleaner can drop the
    * shuffle and broadcast state the first one found unreachable. */
  private def settleHeap(out: Outcome): Unit = {
    System.gc()
    Thread.sleep(150)
    System.gc()
    out.heapMb += java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Ctx {
  /** Four steady samples per op: its median is the mean of the middle
    * two, so the slowest and the fastest pass drop out. */
  val MinSteadyPasses = 4
}

/** The aggregate cpu line of /proc/stat: the VM's busy and stolen CPU
  * time. Steal is time a vCPU wanted to run and the hypervisor ran
  * another guest instead. */
object ProcStat {
  /** (busy, steal, total) jiffies since boot; zeros where unreadable. */
  def read(): (Long, Long, Long) =
    try {
      val t = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
      (t(0) + t(1) + t(2) + t(5) + t(6), t(7), t.take(8).sum)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  /** Share of the CPU time the VM wanted between two reads that was
    * stolen: steal / (busy + steal). */
  def stealShare(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val steal = b._2 - a._2
    val wanted = steal + b._1 - a._1
    if (wanted > 0) steal.toDouble / wanted else 0.0
  }
}

/** Order-insensitive result fingerprint: row count plus the sum of a
  * 64-bit hash of every row. Floating values are rendered to 9
  * significant digits first, so a last-bit difference in a double sum
  * (a different shuffle partition count) does not read as a mismatch. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null)).when(c.isNaN, lit("NaN"))
        .otherwise(format_string("%.9g", c.cast(DoubleType)))
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => norm(x, et))
    case ArrayType(StructType(_), _) | StructType(_) | MapType(_, _, _) =>
      to_json(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}

object Files {
  def rm(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles).foreach(_.foreach(rm))
    p.delete()
  }
  def sizeBytes(p: java.io.File): Long =
    if (p.isDirectory) Option(p.listFiles).map(_.map(sizeBytes).sum).getOrElse(0L)
    else if (p.exists) p.length else 0L
  def mb(p: String): Double = sizeBytes(new java.io.File(p)) / 1048576.0
}
