package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Empirical per-stage profile of a named catalog query (guide §1.1,
  * with the UI disabled): runs the query through the noop sink and
  * prints, per job and stage, the task count, total task time, max task
  * time, and shuffle read/write bytes — the numbers that say whether a
  * query's wall-clock is compute, shuffle, or per-task scheduling
  * overhead. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.StageProfile q129_pagerank [reps]"
  *
  * Stages of every rep are printed (rep1 absorbs memo builds/JIT; read
  * the later reps for the steady-state shape).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val names = args.filterNot(_.forall(_.isDigit)).toSeq
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lock = new Object
    var jobs = 0
    case class St(job: Int, id: Int, name: String, tasks: Int,
      wallMs: Long, taskMs: Long, maxTaskMs: Long,
      shRead: Long, shWrite: Long, spill: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
        jobs += 1
        j.stageIds.foreach(sid => stageJob(sid) = j.jobId)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          stages += St(stageJob.getOrElse(si.stageId, -1), si.stageId,
            si.name.takeWhile(_ != '\n').take(60), si.numTasks,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            tm.executorRunTime, 0L,
            tm.shuffleReadMetrics.totalBytesRead,
            tm.shuffleWriteMetrics.bytesWritten,
            tm.memoryBytesSpilled)
        }
    })
    if (sys.env.get("SPARK_GRAFT_WARM_INDEXES").contains("1"))
      graft.StagedIndexes.ensureAll(spark, sfDir)
    for (n <- names; r <- 1 to reps) {
      lock.synchronized { stages.clear(); jobs = 0 }
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // Listener events are delivered asynchronously; give the bus a
      // moment to drain before printing (listenerBus is private[spark]).
      Thread.sleep(300)
      lock.synchronized {
        println(f"[stageprofile] $n rep$r wall=$wall%.2f s jobs=$jobs stages=${stages.size} tasks=${stages.map(_.tasks).sum}")
        stages.sortBy(s => -s.wallMs).take(12).foreach { s =>
          println(f"  job=${s.job}%3d stage=${s.id}%4d tasks=${s.tasks}%4d wall=${s.wallMs}%6d ms taskSum=${s.taskMs}%6d ms shR=${s.shRead / 1024}%7d KB shW=${s.shWrite / 1024}%7d KB spill=${s.spill / 1024}%6d KB  ${s.name}")
        }
      }
      graft.Materialize.releaseTransient(spark)
    }
    spark.stop()
  }
}
