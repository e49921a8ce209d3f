package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints formatted physical plans so scan pruning,
  * pushdown, join strategy, and codegen spans can be reviewed. With no
  * args it covers EVERY key in SparkEntry.queries — `docs/PLANS.txt` is
  * regenerated from that default, and PlanAuditSpec asserts the
  * artifact never lags the catalog. Usage:
  * runMain graft.tools.ExplainAudit [names...] */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    // Optional leading --conf key=value args (session conf keys such
    // as spark.graft.bandBreakEven) so a plan under a non-default
    // setting can be dumped without changing the code.
    val (confs, rest) = args.partition(_.startsWith("--conf"))
    confs.map(_.stripPrefix("--conf").stripPrefix("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val names = if (rest.nonEmpty) rest.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
