package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * A1 training-handover parquet sink (reference petastorm_handover,
 * spark/preprocess.py:47-62): repartition + parquet with a small block size
 * so downstream per-shard readers get many small row groups to stream.
 * The UUID-scoped directory convention is kept; Petastorm itself is not
 * (training consumes the same parquet via Spark, SURVEY §2 A2).
 *
 * `write` also stores the schema as JSON in the `_`-prefixed sidecar
 * [[SchemaFile]] (Spark's file listing skips `_` names), through the Hadoop
 * `FileSystem` of the path, so `read` hands the reader the schema instead of
 * running a footer-inference job. Directories without the sidecar (plain
 * `df.write.parquet`) still read, with inference.
 */
object Handover {

  /** Sidecar holding the handover's schema as JSON. */
  val SchemaFile = "_schema.json"

  def write(df: DataFrame, baseDir: String, partitions: Int,
      blockSizeBytes: Int = 1 << 20): String = {
    val path = s"$baseDir/caspr-handover-${java.util.UUID.randomUUID()}"
    df.repartition(partitions)
      .write.mode("overwrite")
      .option("parquet.block.size", blockSizeBytes.toString)
      .parquet(path)
    val sidecar = new Path(path, SchemaFile)
    val out = sidecar.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .create(sidecar, true)
    try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
    path
  }

  /** A2/A3 consume side: re-read the handover for per-partition iteration. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sidecar = new Path(path, SchemaFile)
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sidecar)) spark.read.parquet(path)
    else {
      val in = fs.open(sidecar)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(path)
    }
  }
}
