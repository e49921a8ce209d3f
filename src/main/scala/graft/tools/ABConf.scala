package graft.tools

import org.apache.spark.sql.SparkSession

/** Same-session alternating A/B harness (the r17 ABAB discipline):
  * alternately sets a session conf flag to "0"/"1" and times the named
  * query through the noop sink, so machine drift hits both arms
  * equally. The flag must be read by the query builder at PLAN BUILD
  * time (a `spark.conf` lookup inside the operator). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.ABConf <query> <confKey> [pairs]"
  */
object ABConf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val key = args(1)
    val pairs = if (args.length > 2) args(2).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.get("SPARK_GRAFT_WARM_INDEXES").contains("1"))
      graft.StagedIndexes.ensureAll(spark, sfDir)
    // one discarded warmup rep per arm
    for (v <- Seq("0", "1")) {
      spark.conf.set(key, v)
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      graft.Materialize.releaseTransient(spark)
    }
    val times = scala.collection.mutable.Map("0" -> List.empty[Double],
      "1" -> List.empty[Double])
    for (p <- 1 to pairs; v <- Seq("0", "1")) {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      times(v) = times(v) :+ dt
      println(f"[abconf] $name $key=$v pair$p $dt%.2f s")
      graft.Materialize.releaseTransient(spark)
    }
    def stats(xs: List[Double]) = {
      val s = xs.sorted
      f"med=${s(s.length / 2)}%.2f min=${s.head}%.2f max=${s.last}%.2f"
    }
    println(s"[abconf] SUMMARY $name $key=0: ${stats(times("0"))}")
    println(s"[abconf] SUMMARY $name $key=1: ${stats(times("1"))}")
    spark.stop()
  }
}
