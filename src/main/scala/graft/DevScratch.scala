package graft

/** Throwaway dev probe (not part of any query path): alternate a runtime
  * SQL conf between passes of one query inside a single JVM. */
object DevScratch {
  def main(args: Array[String]): Unit = {
    val names = (if (args.nonEmpty) args(0) else "q1_agg").split(",").toSeq
    // A/B conf SETS: "k=v;k=v" per side (2-arg legacy form: key a b)
    val (confA, confB) =
      if (args.length == 4 && !args(1).contains("="))
        (Seq(args(1) -> args(2)), Seq(args(1) -> args(3)))
      else {
        def parse(s: String) = s.split(";").toSeq.filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
        (parse(args(1)), parse(args(2)))
      }
    val spark = graft.core.SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.1")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      once(name); once(name) // warm-up
      val ta = scala.collection.mutable.ArrayBuffer[Double]()
      val tb = scala.collection.mutable.ArrayBuffer[Double]()
      for (_ <- 1 to 5) {
        confA.foreach { case (k, v) => spark.conf.set(k, v) }
        spark.sqlContext.clearCache(); ta += once(name)
        confB.foreach { case (k, v) => spark.conf.set(k, v) }
        spark.sqlContext.clearCache(); tb += once(name)
      }
      println(f"[$name] A: min=${ta.min}%.3f med=${ta.sorted.apply(ta.size/2)}%.3f | B: min=${tb.min}%.3f med=${tb.sorted.apply(tb.size/2)}%.3f")
    }
    spark.stop()
  }
}
