package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.ColumnRoles

/**
 * The CASPR featurization pipeline (SURVEY.md §3.1) as a fit/transform pair:
 * filter -> rank -> date-featurize -> encode -> normalize -> pivot -> impute
 * -> profile join. Reference: `pipeline()` spark/preprocess.py:542-612 and
 * `data_process_all_sp` :615-632 (fit on train, re-apply to val/test).
 *
 * Physical design vs the reference (§4.2 inefficiencies deliberately fixed):
 *  - fit statistics = ONE aggregate pass per kind (encodings, summary); no
 *    per-column jobs, no describe().toPandas(), no rdd.getNumPartitions().
 *  - the whole transform is a single lazily-composed plan: the entity-keyed
 *    window (C1) establishes hash partitioning on tgtId which the pivot's
 *    groupBy reuses — one shuffle serves rank + pivot; the profile join
 *    shuffles only the (already deduped, entity-keyed) profile side.
 *  - zero UDFs: every step is a Catalyst expression inside codegen.
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
  def seqFeatures: Seq[String] =
    roles.seqCat ++ roles.seqCols.filter(roles.contCols.contains) ++
      roles.seqCols.filter(roles.dateCols.contains).map(dateFeature)
}

final case class CasprFeaturizerModel(
    cfg: FeaturizerConfig,
    encodings: Map[String, CategoricalEncoding],
    summary: NormalizationSummary,
    // exact capped cardinalities captured by fit's single aggregate pass
    // (== encodings(c).mapping.count(), without the per-column count job);
    // empty for models loaded from disk, where the fallback below applies
    cardinalities: Map[String, Long] = Map.empty) {

  /** Vocab row count for categorical column `c` — identical to
    * `encodings(c).mapping.count()` (the cap is applied in both places)
    * but free when fit captured it; models deserialized without the
    * field fall back to the counting job. */
  def cardinality(c: String): Long =
    cardinalities.getOrElse(c, encodings(c).mapping.count())

  import cfg._
  private def r = roles

  /** Steps 1-5 of the pipeline on the long/event form (shared by fit). */
  private[prep] def longForm(df: DataFrame): DataFrame = {
    val pred = col(r.predictionDate)
    val filtered = Windows.activeWindowFilter(df, r.activityDate, pred, historyDays)
    // date featurization (H5): interval = days to cutoff; absolute = epoch s
    val dated = r.seqCols.filter(r.dateCols.contains).foldLeft(filtered) { (d, c) =>
      d.withColumn(cfg.dateFeature(c),
        if (dateMode == "interval") datediff(pred, col(c)).cast("double")
        else unix_seconds(col(c)).cast("double"))
    }
    // categorical encode (F1): broadcast joins, UNK=0, stored as long
    r.seqCat.foldLeft(dated) { (d, c) =>
      Encoding.apply(d, encodings(c), c).withColumn(c, col(c).cast("long"))
    }
  }

  /**
   * Long -> wide transform. The input must carry the prediction-date column
   * and (like the reference) any non-seq/profile/label columns pre-joined
   * per row (spark/preprocess.py:96-97).
   */
  def transform(df: DataFrame): DataFrame = {
    val contFeats = r.seqCols.filter(r.contCols.contains) ++
      r.seqCols.filter(r.dateCols.contains).map(cfg.dateFeature)
    val normalized = Normalize.apply(longForm(df), summary, contFeats, normMode)

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
    val pred = col(cfg.roles.predictionDate)
    val filtered = Windows.activeWindowFilter(df, cfg.roles.activityDate, pred, cfg.historyDays)
    val encodings = cfg.roles.seqCat.map { c =>
      c -> Encoding.fit(filtered, c, cfg.maxCardinality)
    }.toMap
    // summary over cont + derived date features on the long form
    val dated = cfg.roles.seqCols.filter(cfg.roles.dateCols.contains).foldLeft(filtered) { (d, c) =>
      d.withColumn(cfg.dateFeature(c),
        if (cfg.dateMode == "interval") datediff(pred, col(c)).cast("double")
        else unix_seconds(col(c)).cast("double"))
    }
    val contFeats = cfg.roles.seqCols.filter(cfg.roles.contCols.contains) ++
      cfg.roles.seqCols.filter(cfg.roles.dateCols.contains).map(cfg.dateFeature)
    // ONE aggregate pass carries the normalization stats AND the cat
    // cardinalities: the vocab-size probe (min(distinct, cap), what
    // mapping.count() returns) otherwise costs one count job per cat col
    val (summary, rawCards) = Normalize.fitWithCardinalities(
      dated, contFeats, cfg.roles.seqCat)
    val cards = rawCards.map { case (c, n) =>
      c -> math.min(n, cfg.maxCardinality.toLong)
    }
    CasprFeaturizerModel(cfg, encodings, summary, cards)
  }
}
