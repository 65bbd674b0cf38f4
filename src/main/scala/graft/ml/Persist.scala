package graft.ml

import org.apache.hadoop.fs.Path
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
 * Every file goes through the Hadoop `FileSystem` of its path, as Spark's
 * writers do, so a `file:`, `hdfs:` or `s3a:` directory holds the whole
 * artifact.
 */
object Persist {

  def saveFeaturizer(model: CasprFeaturizerModel, dir: String): Unit = {
    model.encodings.foreach { case (c, enc) =>
      enc.mapping.coalesce(1).write.mode("overwrite").parquet(s"$dir/encodings/$c")
    }
    val lines = model.summary.stats.toSeq.sortBy(_._1).map { case (c, s) =>
      s"$c,${s.min},${s.max},${s.mean},${s.stddev}"
    }
    write(s"$dir/summary.csv", lines.mkString("\n").getBytes("UTF-8"))
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
    val stats = lines(s"$dir/summary.csv").map { l =>
      val p = l.split(",")
      p(0) -> ColumnSummary(p(1).toDouble, p(2).toDouble, p(3).toDouble, p(4).toDouble)
    }.toMap
    CasprFeaturizerModel(cfg, vocabs.map { case (c, (e, _)) => c -> e },
      NormalizationSummary(stats), vocabs.map { case (c, (_, n)) => c -> n.toLong })
  }

  def saveParams(params: Array[Double], path: String): Unit = {
    val bb = java.nio.ByteBuffer.allocate(params.length * 8)
    params.foreach(bb.putDouble)
    write(path, bb.array())
  }

  def loadParams(path: String): Array[Double] = {
    val bytes = read(path)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  private def fileSystem(p: Path) =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  /** Writes `bytes` to `path`, replacing it; parent directories are made. */
  private[ml] def write(path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val out = fileSystem(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def read(path: String): Array[Byte] = {
    val p = new Path(path)
    val in = fileSystem(p).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** The non-empty lines of the UTF-8 text file at `path`. */
  private[ml] def lines(path: String): Array[String] =
    new String(read(path), "UTF-8").linesIterator.filter(_.nonEmpty).toArray
}
