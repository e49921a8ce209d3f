package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan review: prints the formatted physical plans of the named queries
  * so scan pruning, pushdown, join strategy and codegen spans can be
  * read. The catalog-wide plan facts (window group limits, interpreted
  * lambdas, low-cardinality windows) are gates in PlanAuditSpec. Usage:
  * runMain graft.tools.ExplainAudit <name> [names...] */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainAudit <query name> [names...]")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    args.foreach { n =>
      println(s"\n===================== $n =====================")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
