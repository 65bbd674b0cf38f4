package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: run one catalog query under the Bench session config with a
  * listener that prints per-job wall time and per-stage shuffle metrics —
  * the empirical "where does the time go" view (optimization guide §1.1)
  * with the UI disabled. `runMain graft.Profile <query> [sfDir] [passes]`. */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val builder = graft.core.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.drop(3).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      println(s"conf override: $k=$v")
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) jobStart.put(js.jobId, System.nanoTime())
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (record) Option(jobStart.get(je.jobId)).foreach { t0 =>
          println(f"  job ${je.jobId}%3d: ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val dur = (si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)) / 1e3
          val scopes = si.rddInfos.flatMap(_.scope)
            .map(_.name).distinct.mkString("|")
          println(f"    stage ${si.stageId}%3d [${si.numTasks}%3d tasks] " +
            f"$dur%7.3f s  gc=${m.jvmGCTime / 1000.0}%5.2f s " +
            f"srd=${m.shuffleReadMetrics.totalBytesRead / 1024}%8d KiB " +
            f"swr=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d KiB " +
            f"in=${m.inputMetrics.bytesRead / 1024}%8d KiB  ${scopes.take(140)}")
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def once(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    for (i <- 1 to passes) {
      spark.sqlContext.clearCache()
      record = true
      val t = once()
      record = false
      Thread.sleep(300) // let listener events drain
      println(f"pass $i: $t%.3f s")
    }
    spark.stop()
  }
}
