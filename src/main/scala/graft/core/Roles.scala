package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Column-role taxonomy for the event-log data model.
 *
 * The reference declares the same roles as loose python lists passed to every
 * entry point (reference: caspr/utils/spark/preprocess.py:542-566, the
 * `pipeline()` docstring). Here they are a typed, validated value.
 *
 * Every column is (categorical|continuous) x (sequential|static), giving the
 * 4-way layout the model stack assumes (reference: caspr/utils/preprocess.py:19-27
 * `generate_combination_of_cols`).
 */
final case class ColumnRoles(
    tgtId: Seq[String],
    activityDate: String,
    predictionDate: String,
    catCols: Seq[String],
    contCols: Seq[String],
    seqCols: Seq[String],
    nonSeqCols: Seq[String],
    dateCols: Seq[String],
    outputCols: Seq[String] = Nil) {

  require(dateCols.contains(activityDate),
    s"activityDate '$activityDate' must be listed in dateCols")

  /** The 4-way cross product of roles. */
  def seqCat: Seq[String]     = seqCols.filter(catCols.contains)
  def seqCont: Seq[String]    = seqCols.filter(c => contCols.contains(c) || dateCols.contains(c))
  def nonSeqCat: Seq[String]  = nonSeqCols.filter(catCols.contains)
  def nonSeqCont: Seq[String] = nonSeqCols.filter(contCols.contains)

  /** Validate that every referenced column exists in the frame's schema. */
  def validate(schema: StructType): Unit = {
    val have = schema.fieldNames.toSet
    val want = (tgtId ++ Seq(activityDate) ++ catCols ++ contCols ++
      seqCols ++ nonSeqCols ++ dateCols ++ outputCols).distinct
    val missing = want.filterNot(have.contains)
    require(missing.isEmpty, s"roles reference missing columns: ${missing.mkString(", ")}")
  }
}

object ColumnRoles {

  /**
   * Expand sequential role columns to their per-timestep wide names.
   * Naming is `{col}_{t}` with t in 1..seqLen — parquet-safe, unlike the
   * reference's `{t}_{col}` which needs a rename pass before handover
   * (reference: spark/preprocess.py:432,447-465). One naming, no rename.
   */
  def wideSeqNames(seqCols: Seq[String], seqLen: Int): Seq[String] =
    for (c <- seqCols; t <- 1 to seqLen) yield s"${c}_$t"

  /** Inverse of [[wideSeqNames]]: `value_12` -> ("value", 12). */
  def parseWideName(name: String): Option[(String, Int)] = {
    val i = name.lastIndexOf('_')
    if (i <= 0) None
    else {
      val suffix = name.substring(i + 1)
      if (suffix.nonEmpty && suffix.forall(_.isDigit))
        Some((name.substring(0, i), suffix.toInt))
      else None
    }
  }
}

/** Test-table loader: one parquet per table under an sf directory. */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Raw scan-column twin (nanos long or NTZ, per the file) kept alongside
    * the converted `ts` so time predicates can reach the parquet scan
    * (see Windows.activeWindowFilter). Pruned for free when unused. */
  val RawTsCol = "__ts_raw_ns"

  /**
   * Load a table, normalizing `events.ts` to session-tz TimestampType
   * whichever way the generator wrote it:
   *   - parquet TIMESTAMP(NANOS): Spark 4 has no native ns type — read as
   *     long (`nanosAsLong`) and truncate ns -> us. The conf is set here at
   *     run time, not only in the builders, because a caller of
   *     [[graft.SparkEntry]] may pass a session it built itself;
   *   - parquet timestamp[us] without UTC adjustment: Spark 4 infers
   *     TIMESTAMP_NTZ, which `unix_seconds`/`unix_millis` reject — cast to
   *     TimestampType (wall clock == instant under the UTC session tz all
   *     entrypoints set, matching DuckDB's naive-as-UTC `epoch()`).
   *
   * The reader is handed the table's schema ([[schemaOf]]), so a load
   * runs no footer-inference job once the table's files have been seen.
   */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    import org.apache.spark.sql.functions.{col, expr}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn(RawTsCol, col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn(RawTsCol, col("ts"))
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Per table path: the file listing (name, length, mtime) its schema was
    * inferred from, and that schema. One entry per path. */
  private val schemas =
    new ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]()

  /** The parquet schema at `path`, inferred (one Spark job) only when the
    * path's file listing differs from the one last inferred from. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val listing = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sorted
    Option(schemas.get(path)).collect { case (`listing`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(path, (listing, s))
      s
    }
  }
}
