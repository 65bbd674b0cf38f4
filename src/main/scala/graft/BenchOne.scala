package graft

/** Micro-bench catalog queries under the exact Bench session config:
  * `runMain graft.BenchOne <query>[,<query>...] [sfDir] [passes] [k=v ...]`.
  * Prints per-pass and best seconds — the tool for A/B-ing one operator's
  * plan (or a session config, via trailing k=v overrides) without paying
  * for the whole headline suite. A comma-separated list amortizes the JVM
  * start across the queries of one config A/B battery. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val builder = graft.core.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.drop(3).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      println(s"conf override: $k=$v")
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      once(name) // warm-up
      val ts = (1 to passes).map { i =>
        spark.sqlContext.clearCache()
        val t = once(name); println(f"[$name] pass $i: $t%.3f s"); t
      }
      println(f"[$name] best: ${ts.min}%.3f s")
    }
    spark.stop()
  }
}
