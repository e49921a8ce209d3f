package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block of driver code starts — the probe
  * behind the "starts no Spark job" gates. */
object JobProbe {

  /** The first stage's name ("<call> at <file>:<line>") of every job
    * `body` started. The listener tags each job start with a local
    * property; a marker job after `body` shows every earlier start was
    * delivered (the listener bus delivers in order). */
  def jobsStartedBy(spark: SparkSession)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val key = "graft.spec.probe"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).map(_.getProperty(key, "")).getOrElse(""),
          e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      try body finally sc.setLocalProperty(key, "end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      def ended = seen.asScala.exists(_._1 == "end")
      while (!ended && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ended, "marker job start never delivered")
      seen.asScala.toSeq.collect { case ("body", stage) => stage }
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
