package graft
/** Run one catalog query and show its rows under the Bench session config
  * (`SPARK_GRAFT_CPUS` cores, default 32; shuffle partitions = cores):
  * `runMain graft.RunOne <query> <sfDir>`. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    SparkEntry.queries(args(0))(spark, args(1)).show(false)
    println(f"elapsed ${(System.nanoTime()-t0)/1e9}%.2f s")
    spark.stop()
  }
}
