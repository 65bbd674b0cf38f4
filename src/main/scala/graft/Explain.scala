package graft

/** Dev tool: dump formatted physical plans for plan-shape auditing, under
  * the Bench session config (SessionTuning, `SPARK_GRAFT_CPUS` cores,
  * shuffle partitions = cores), so the dumps show the plans Bench times:
  * `runMain graft.Explain [sfDir] [query ...]` writes
  * `/tmp/explain_<query>.txt` per query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_pipeline_e2e", "q_e1_pivot", "q_b1_window_filter",
        "q_f1_encode_join", "q_dedup_minhash_lsh", "q_ann_brute")
    val spark = graft.core.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"/tmp/explain_$n.txt"), s)
      println(s"wrote /tmp/explain_$n.txt")
    }
    spark.stop()
  }
}
