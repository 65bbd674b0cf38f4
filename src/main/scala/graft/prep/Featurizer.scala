package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.core.ColumnRoles

/**
 * The CASPR featurization pipeline (SURVEY.md §3.1) as a fit/transform pair:
 * filter -> rank -> date-featurize -> encode -> normalize -> pivot -> impute
 * -> profile join. Reference: `pipeline()` spark/preprocess.py:542-612 and
 * `data_process_all_sp` :615-632 (fit on train, re-apply to val/test).
 *
 * Physical design vs the reference (§4.2 inefficiencies deliberately fixed):
 *  - fit = ONE aggregate pass for every statistic: grouping sets rank and
 *    cap each categorical vocabulary in Spark and carry the normalization
 *    summary, so at most `maxCardinality` rows per column reach the driver;
 *    no per-column jobs, no describe().toPandas(), no rdd.getNumPartitions().
 *  - the fitted model holds its vocabularies as local rows, so `transform`
 *    never re-scans the fit input (nor needs it to still exist).
 *  - the whole transform is a single lazily-composed plan: the entity-keyed
 *    window (C1) establishes hash partitioning on tgtId which the pivot's
 *    groupBy reuses — one shuffle serves rank + pivot; the profile join
 *    shuffles only the (already deduped, entity-keyed) profile side.
 *  - one UDF, the vocabulary lookup ([[CategoricalEncoding.lookup]]: a
 *    driver-built hash map, where a broadcast join costs one job per
 *    vocabulary); every other step is a Catalyst expression inside codegen.
 *  - explicit pivot values kill the distinct-values job and the dummy-row
 *    union (E2), and `{col}_{t}` naming kills the rename pass (H8).
 */
final case class FeaturizerConfig(
    roles: ColumnRoles,
    seqLen: Int,
    historyDays: Int,
    leftPad: Boolean = false,
    normMode: String = "min_max",
    dateMode: String = "interval", // or "absolute" (unix seconds)
    maxCardinality: Int = Encoding.MaxCardinality,
    tiebreak: Seq[String] = Nil) {

  /** Name of the derived per-event date feature for date column `c`. */
  def dateFeature(c: String): String = s"${c}_days"

  /** Sequential feature columns entering the pivot, in pivot order. */
  def seqFeatures: Seq[String] = roles.seqCat ++ CasprFeaturizer.contFeats(this)
}

final case class CasprFeaturizerModel(
    cfg: FeaturizerConfig,
    encodings: Map[String, CategoricalEncoding],
    summary: NormalizationSummary,
    // capped vocabulary row counts (== encodings(c).mapping.count()),
    // filled by fit and by Persist.loadFeaturizer
    cardinalities: Map[String, Long] = Map.empty) {

  /** Vocab row count for categorical column `c` — identical to
    * `encodings(c).mapping.count()`, and free when the model carries it;
    * a model built by hand without the field falls back to the count. */
  def cardinality(c: String): Long =
    cardinalities.getOrElse(c, encodings(c).mapping.count())

  import cfg._
  private def r = roles

  /** Steps 1-5 of the pipeline on the long/event form: the dated form fit
    * saw, then the categorical encode (F1): hash lookups in the fitted
    * vocabularies, UNK=0, stored as long. */
  private[prep] def longForm(df: DataFrame): DataFrame =
    CasprFeaturizer.dated(df, cfg)
      .withColumns(r.seqCat.map(c => c -> encodings(c).lookup(col(c)).cast("long")).toMap)

  /**
   * Long -> wide transform. The input must carry the prediction-date column
   * and (like the reference) any non-seq/profile/label columns pre-joined
   * per row (spark/preprocess.py:96-97).
   */
  def transform(df: DataFrame): DataFrame = {
    val normalized = Normalize.apply(longForm(df), summary,
      CasprFeaturizer.contFeats(cfg), normMode)

    // fused rank -> WindowGroupLimit -> capped count -> pad shift: one
    // sort serves all three windows and the count runs over n-bounded
    // rows (slot-equivalence proof at Windows.latestNSlots)
    val ranked = Windows.latestNSlots(normalized, r.tgtId, r.activityDate,
      seqLen, leftPad, tiebreak)

    val wide = Pivot.toWide(ranked, r.tgtId, cfg.seqFeatures, seqLen)

    // impute (H3/H4): cat -> 0; cont -> 0.0; date -> window start normalized
    // under the CONFIGURED mode (a min-max fill in a z-scored column would
    // silently inject an off-scale constant)
    val catWide = for (c <- r.seqCat; t <- 1 to seqLen) yield s"${c}_$t"
    val contWide = for (c <- r.seqCols.filter(r.contCols.contains); t <- 1 to seqLen) yield s"${c}_$t"
    val dateFill: Map[String, Double] = (for {
      c <- r.seqCols.filter(r.dateCols.contains); t <- 1 to seqLen
    } yield {
      val feat = cfg.dateFeature(c)
      val raw = if (dateMode == "interval") historyDays.toDouble
                else Double.NaN // absolute mode fill handled as 0 below
      s"${feat}_$t" -> (if (raw.isNaN) 0.0 else summary.normalizedOf(feat, raw, normMode))
    }).toMap
    val imputed = wide
      .na.fill(0L, catWide)
      .na.fill(0.0, contWide)
      .na.fill(dateFill)

    // profile join (B4 + F3): deduped static/label projection, entity-keyed
    val profCols = (r.tgtId ++ r.nonSeqCols ++ r.outputCols).distinct
    if (profCols.size > r.tgtId.size) {
      val profile = df.select(profCols.map(col): _*).dropDuplicates()
      imputed.join(profile, r.tgtId, "inner")
    } else imputed
  }
}

object CasprFeaturizer {

  /** Fit encodings + normalization summary on the (filtered) training data,
    * then reuse the model for val/test (data_process_all_sp semantics). */
  def fit(df: DataFrame, cfg: FeaturizerConfig): CasprFeaturizerModel = {
    cfg.roles.validate(df.schema)
    // summary over cont + derived date features on the long form
    val long = dated(df, cfg)
    val cats = cfg.roles.seqCat
    if (cats.isEmpty)
      CasprFeaturizerModel(cfg, Map.empty, Normalize.fit(long, contFeats(cfg)), Map.empty)
    else {
      val (summary, vocabs) = fitStatistics(long, contFeats(cfg), cats, cfg.maxCardinality)
      val encodings = cats.map { c =>
        c -> CategoricalEncoding.local(df.sparkSession, c, long.schema(c).dataType, vocabs(c))
      }.toMap
      CasprFeaturizerModel(cfg, encodings, summary,
        vocabs.map { case (c, v) => c -> v.size.toLong })
    }
  }

  /** The continuous seq features the normalization summary covers: the
    * cont columns, then the derived date features, in seq-column order. */
  private[prep] def contFeats(cfg: FeaturizerConfig): Seq[String] =
    cfg.roles.seqCols.filter(cfg.roles.contCols.contains) ++
      cfg.roles.seqCols.filter(cfg.roles.dateCols.contains).map(cfg.dateFeature)

  /** Steps 1-3 on the long form, shared by fit and transform: the active
    * window filter, then date featurization (H5): interval = days to the
    * cutoff, absolute = epoch seconds. */
  private[prep] def dated(df: DataFrame, cfg: FeaturizerConfig): DataFrame = {
    val pred = col(cfg.roles.predictionDate)
    val filtered = Windows.activeWindowFilter(df, cfg.roles.activityDate, pred, cfg.historyDays)
    cfg.roles.seqCols.filter(cfg.roles.dateCols.contains).foldLeft(filtered) { (d, c) =>
      d.withColumn(cfg.dateFeature(c),
        if (cfg.dateMode == "interval") datediff(pred, col(c)).cast("double")
        else unix_seconds(col(c)).cast("double"))
    }
  }

  /**
   * Every vocabulary and the normalization summary in ONE aggregate pass:
   * grouping sets `(c)` per categorical column count each value, the empty
   * set `()` carries the summary aggregates. The counts are ranked and
   * capped in Spark with [[Encoding.fit]]'s order (count descending, then
   * value ascending, nulls and NaNs dropped), so at most `cap` (value,
   * code) rows per column reach the driver. A missing `()` row (no input
   * rows) reads as the NaN summary [[Normalize.fit]] gives.
   */
  private def fitStatistics(df: DataFrame, contCols: Seq[String],
      catCols: Seq[String], cap: Int): (NormalizationSummary, Map[String, Seq[(Any, Int)]]) = {
    val n = catCols.size
    // grouping_id sets the bit of every column a set leaves out: all n for
    // (), all but c's for (c)
    val summaryGid = (1L << n) - 1
    def gid(i: Int): Long = summaryGid ^ (1L << (n - 1 - i))
    val aggs = grouping_id().as("__gid") +: count(lit(1)).as("__cnt") +:
      Normalize.statAggs(contCols)
    val isSummary = col("__gid") === summaryGid
    // the values Encoding.fit's na.drop() keeps: not null, not NaN
    def present(c: String): Column = df.schema(c).dataType match {
      case DoubleType | FloatType => col(c).isNotNull && !isnan(col(c))
      case _ => col(c).isNotNull
    }
    val rank = Window.partitionBy(col("__gid"))
      .orderBy(col("__cnt").desc +: catCols.map(col(_).asc): _*)
    val rows = df.groupingSets(catCols.map(c => Seq(col(c))) :+ Nil, catCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .where(isSummary || catCols.indices.map(i =>
        col("__gid") === gid(i) && present(catCols(i))).reduce(_ || _))
      .withColumn("__code", row_number().over(rank))
      .where(isSummary || col("__code") <= cap)
      .collect()
    // row layout: the n cat values, __gid, __cnt, the summary, __code
    val summaryRow = rows.find(_.getLong(n) == summaryGid).orNull
    val vocabs = catCols.indices.map { i =>
      catCols(i) -> rows.filter(_.getLong(n) == gid(i))
        .map(r => (r.get(i), r.getInt(r.length - 1))).sortBy(_._2).toSeq
    }.toMap
    (Normalize.summaryOf(summaryRow, n + 2, contCols), vocabs)
  }
}
