package graft.ml

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.prep.{CasprFeaturizerModel, CategoricalEncoding, ColumnSummary,
  FeaturizerConfig, NormalizationSummary}

/**
 * A4 model persistence (reference checkpoints state_dicts,
 * early_stopping.py:66-70; MLWritable is the Spark-idiomatic surface).
 * Artifacts are plain parquet/text under one directory:
 *   encodings/<col>/      (value, code) parquet — the broadcast-join maps
 *   summary.csv           column, min, max, mean, stddev
 *   params.bin            flat Double array (model weights), big-endian
 */
object Persist {

  def saveFeaturizer(model: CasprFeaturizerModel, dir: String): Unit = {
    model.encodings.foreach { case (c, enc) =>
      enc.mapping.coalesce(1).write.mode("overwrite").parquet(s"$dir/encodings/$c")
    }
    val lines = model.summary.stats.toSeq.sortBy(_._1).map { case (c, s) =>
      s"$c,${s.min},${s.max},${s.mean},${s.stddev}"
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/summary.csv"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  def loadFeaturizer(spark: SparkSession, dir: String,
      cfg: FeaturizerConfig): CasprFeaturizerModel = {
    // each vocabulary comes back as local rows, as fit leaves it
    val vocabs = cfg.roles.seqCat.map { c =>
      val saved = spark.read.parquet(s"$dir/encodings/$c")
      val codes = saved.select(col(c), col("code")).collect()
        .map(r => (r.get(0), r.getInt(1))).toSeq
      c -> (CategoricalEncoding.local(spark, c, saved.schema(c).dataType, codes), codes.size)
    }.toMap
    val stats = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/summary.csv"))
      .toArray(Array.empty[String]).filter(_.nonEmpty).map { l =>
        val p = l.split(",")
        p(0) -> ColumnSummary(p(1).toDouble, p(2).toDouble, p(3).toDouble, p(4).toDouble)
      }.toMap
    CasprFeaturizerModel(cfg, vocabs.map { case (c, (e, _)) => c -> e },
      NormalizationSummary(stats), vocabs.map { case (c, (_, n)) => c -> n.toLong })
  }

  def saveParams(params: Array[Double], path: String): Unit = {
    val bb = java.nio.ByteBuffer.allocate(params.length * 8)
    params.foreach(bb.putDouble)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
  }

  def loadParams(path: String): Array[Double] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }
}
