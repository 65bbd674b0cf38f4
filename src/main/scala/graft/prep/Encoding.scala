package graft.prep

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/**
 * Frequency-rank categorical encoding (SURVEY.md §2 C5/D1/D2/F1/F2/H6/H7).
 *
 * Fit: per categorical column, rank distinct values 1..cardinality by
 * descending frequency with a deterministic value tiebreak
 * (reference: spark/preprocess.py:247-251; tiebreak at :247). Values beyond
 * `maxCardinality` are pruned (reference cap MAX_CAT_CARDINALITY=30000,
 * spark/preprocess.py:20,268-271).
 *
 * Apply: broadcast left join, null -> 0 = UNK (reference:
 * spark/preprocess.py:282-288). The reference's second, collect+pandas_udf
 * strategy (:293-351) is deliberately collapsed into this one join-based
 * path: at <=30k values the broadcast hash join always wins in the JVM and
 * keeps the hot path UDF-free (SURVEY §4.1).
 *
 * Scale note: the global-window rank runs on the already-aggregated
 * (value, count) side, never the event side — the single-task window the
 * reference runs (spark/preprocess.py:247) is fine only because its input is
 * tiny; we keep that invariant explicit by aggregating first and capping.
 *
 * `mapping` is the (value, code) table. From [[Encoding.fit]] it is a lazy
 * plan over the fit input, re-run by every action on it; a fitted
 * featurizer ([[CasprFeaturizer.fit]], [[graft.ml.Persist.loadFeaturizer]])
 * holds it as local rows ([[CategoricalEncoding.local]]), so applying it
 * never re-reads, or needs, the data it was fitted on.
 */
final case class CategoricalEncoding(column: String, mapping: DataFrame) {
  /** vocab size for model embedding tables = distinct + 1 for UNK
    * (reference: get_num_activities, spark/preprocess.py:33-34). */
  def vocabSize(implicit spark: SparkSession): Long = mapping.count() + 1

  /** F1 apply as one expression: the code of `value` in `mapping`;
    * unseen, pruned and null -> 0 (UNK). The mapping is collected into a
    * hash map on the driver that rides in the expression, so a local
    * mapping costs no job, where [[Encoding.apply]]'s join broadcasts it
    * in one. Keys compare as that join's keys do: -0.0 == 0.0, binary by
    * content. Returns an int column. */
  private[graft] def lookup(value: Column): Column = {
    val codes = new java.util.HashMap[Any, Int]()
    mapping.collect().foreach(r => codes.put(Encoding.joinKey(r.get(0)), r.getInt(1)))
    udf(new Encoding.Lookup(codes), IntegerType)(value)
  }
}

object CategoricalEncoding {

  /** An encoding whose `mapping` is the given (value, code) rows, held as
    * a `LocalRelation` with [[Encoding.fit]]'s schema: `column` of
    * `valueType`, then `code: int`. */
  private[graft] def local(spark: SparkSession, column: String, valueType: DataType,
      codes: Seq[(Any, Int)]): CategoricalEncoding = {
    val schema = StructType(Seq(StructField(column, valueType, nullable = false),
      StructField("code", IntegerType, nullable = false)))
    CategoricalEncoding(column, spark.createDataFrame(
      codes.map { case (v, code) => Row(v, code) }.asJava, schema))
  }
}

object Encoding {

  /** Default vocabulary cap (reference MAX_CAT_CARDINALITY,
    * spark/preprocess.py:20). */
  val MaxCardinality = 30000

  /** A value as an equi-join compares it: floating zeros folded to 0.0,
    * binary wrapped so it hashes by content. */
  private[prep] def joinKey(v: Any): Any = v match {
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0.0f => 0.0f
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case other => other
  }

  /** [[CategoricalEncoding.lookup]]'s function. */
  private[prep] final class Lookup(codes: java.util.HashMap[Any, Int])
      extends UDF1[Any, Int] {
    def call(v: Any): Int = if (v == null) 0 else codes.getOrDefault(joinKey(v), 0)
  }

  /**
   * D1 cardinality probe driving the encoding-strategy choice (reference
   * spark/preprocess.py:261,319; estimate_parameters.py:8). Exact by
   * default; `approximate = true` is the SCALE.md 100-TB mode — one
   * HyperLogLog++ sketch pass (`approx_count_distinct`, default 2% rsd)
   * instead of the distinct shuffle. The probe only GATES against the
   * `maxCardinality` cap, so the sketch's relative error cannot flip the
   * decision except within rsd of the cap itself — callers that sit on the
   * boundary should keep exact mode.
   */
  def cardinality(df: DataFrame, column: String, approximate: Boolean = false,
      rsd: Double = 0.02): Long =
    if (approximate)
      df.agg(approx_count_distinct(col(column), rsd)).head().getLong(0)
    else df.select(col(column)).na.drop().distinct().count()

  /** Fit one column's (value, rank) map; rank 1 = most frequent. */
  def fit(df: DataFrame, column: String, maxCardinality: Int = MaxCardinality): CategoricalEncoding = {
    val freq = df.select(col(column)).na.drop()
      .groupBy(col(column)).agg(count(lit(1)).as("cnt"))
    // Unpartitioned window is safe here: input is the small aggregate.
    val w = Window.orderBy(col("cnt").desc, col(column).asc)
    val ranked = freq.withColumn("code", row_number().over(w))
      .filter(col("code") <= lit(maxCardinality))
      .select(col(column), col("code"))
    CategoricalEncoding(column, ranked)
  }

  /**
   * F1/H6 apply: value -> code, unseen/pruned/null -> 0 (UNK).
   * Emits `outCol` (default: replaces the source column name).
   */
  def apply(df: DataFrame, enc: CategoricalEncoding, outCol: String = null): DataFrame = {
    val out = Option(outCol).getOrElse(enc.column)
    val joined = df.join(broadcast(enc.mapping), Seq(enc.column), "left")
    val coded = joined.withColumn("__code", coalesce(col("code"), lit(0))).drop("code")
    if (out == enc.column) coded.drop(enc.column).withColumnRenamed("__code", out)
    else coded.withColumnRenamed("__code", out)
  }

  /**
   * H7 decode (inverse): code -> value via the reversed map; code 0 (UNK) or
   * unknown codes -> literal "UNK". Reference: spark/preprocess.py:355-370.
   */
  def decode(df: DataFrame, enc: CategoricalEncoding, codeCol: String,
      outCol: String): DataFrame = {
    val rev = enc.mapping.select(col("code").as(codeCol), col(enc.column).as(outCol))
    df.join(broadcast(rev), Seq(codeCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit("UNK")))
  }

  /**
   * F2 cardinality-cap prune: left-semi join keeping only rows whose value
   * survived the cap. Reference: spark/preprocess.py:268-271.
   */
  def pruneToVocabulary(df: DataFrame, enc: CategoricalEncoding): DataFrame =
    df.join(broadcast(enc.mapping.select(enc.column)), Seq(enc.column), "left_semi")

  /**
   * Leakage-safe K-fold TARGET ENCODING (the CatBoost/Kaggle standard for
   * high-cardinality categoricals): each row's category becomes the
   * SMOOTHED mean label computed on the OTHER folds only —
   *
   *   te(v, f) = (Σy(v) − Σy(v,f) + m·prior) / (n(v) − n(v,f) + m)
   *
   * with prior = global mean label and smoothing mass `m`. Excluding the
   * row's own fold breaks the label leak that makes naive target
   * encoding overfit; a category seen ONLY in the row's fold reduces to
   * the prior (the formula degrades to m·prior/m — no special case).
   * Folds are content-derived (salted md5 of the id, the
   * [[graft.ops.Text.hashSplit]] family), so the encoding is
   * deterministic, partitioning-invariant and engine-replayable
   * (`q_target_encode` hash-matches; 0/1 labels keep every sum integer-
   * exact until the one division).
   *
   * Scale shape: two hash aggregates on the category key (map-side
   * combine) + two broadcast joins of the tiny (cat[, fold]) stats onto
   * the rows; the corpus never shuffles.
   *
   * Output: input id + (catCol, fold, te).
   */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
      idCol: String, folds: Int = 5, smoothing: Double = 10.0): DataFrame = {
    require(folds >= 2, "need at least 2 folds to hold one out")
    require(smoothing > 0, "smoothing mass must be positive")
    val fold = pmod(conv(substring(md5(concat(col(idCol).cast("string"),
      lit("#tefold"))), 1, 4), 16, 10).cast("long"), lit(folds.toLong))
    val base = df.select(col(idCol), col(catCol).as("__cat"),
        col(labelCol).cast("double").as("__y"))
      .withColumn("__fold", fold)
    val pri = base.agg(avg(col("__y")).as("__prior"))
    val tot = base.groupBy(col("__cat"))
      .agg(sum(col("__y")).as("__ts"), count(lit(1)).as("__tc"))
    val per = base.groupBy(col("__cat"), col("__fold"))
      .agg(sum(col("__y")).as("__fs"), count(lit(1)).as("__fc"))
    base.join(broadcast(tot), Seq("__cat"))
      .join(broadcast(per), Seq("__cat", "__fold"))
      .crossJoin(broadcast(pri))
      .select(col(idCol), col("__cat").as(catCol), col("__fold").as("fold"),
        round((col("__ts") - col("__fs") + lit(smoothing) * col("__prior")) /
          (col("__tc") - col("__fc") + lit(smoothing)), 6).as("te"))
  }
}
