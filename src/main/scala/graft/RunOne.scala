package graft
import org.apache.spark.sql.SparkSession
/** Run one catalog query and show its rows under the Bench session config
  * (`SPARK_GRAFT_CPUS` cores, default 32; shuffle partitions = cores):
  * `runMain graft.RunOne <query> <sfDir>`. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    SparkEntry.queries(args(0))(spark, args(1)).show(false)
    println(f"elapsed ${(System.nanoTime()-t0)/1e9}%.2f s")
    spark.stop()
  }
}
