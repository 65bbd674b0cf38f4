package graft.prep

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Column normalization (SURVEY.md §2 H2/D5).
 *
 * The reference computes `df.describe().toPandas()` (a driver collect) and
 * then burns one pandas_udf per numeric column (spark/preprocess.py:173-198)
 * — O(cols) Arrow round trips. Here: ONE aggregate pass collects
 * min/max/mean/stddev for all columns at once, and apply is pure column
 * arithmetic, fully inside whole-stage codegen.
 *
 * The no-variance guard (min==max / std==0 columns pass through unchanged)
 * mirrors spark/preprocess.py:178-180,188-190.
 */
final case class ColumnSummary(min: Double, max: Double, mean: Double, stddev: Double)

final case class NormalizationSummary(stats: Map[String, ColumnSummary]) {

  /** Min-max scale: (x - min) / (max - min); skipped when max == min. */
  def minMax(c: String): Column = {
    val s = stats(c)
    if (s.max == s.min) col(c).cast("double")
    else (col(c) - lit(s.min)) / lit(s.max - s.min)
  }

  /** Z-score scale: (x - mean) / stddev; skipped when stddev == 0. */
  def zScore(c: String): Column = {
    val s = stats(c)
    if (s.stddev == 0.0 || s.stddev.isNaN) col(c).cast("double")
    else (col(c) - lit(s.mean)) / lit(s.stddev)
  }

  /** Inverse of [[minMax]] (reference: denormalize_columns, spark/preprocess.py:202-234). */
  def minMaxInverse(c: String): Column = {
    val s = stats(c)
    if (s.max == s.min) col(c).cast("double")
    else col(c) * lit(s.max - s.min) + lit(s.min)
  }

  /** Inverse of [[zScore]]. */
  def zScoreInverse(c: String): Column = {
    val s = stats(c)
    if (s.stddev == 0.0 || s.stddev.isNaN) col(c).cast("double")
    else col(c) * lit(s.stddev) + lit(s.mean)
  }

  /** The normalized value a given raw constant maps to (used by H4 date fill). */
  def minMaxOf(c: String, raw: Double): Double = {
    val s = stats(c)
    if (s.max == s.min) raw else (raw - s.min) / (s.max - s.min)
  }

  /** Z-score analog of [[minMaxOf]]: what a raw constant maps to under the
    * fitted z-scale (H4 date fill when normMode = z_score). */
  def zScoreOf(c: String, raw: Double): Double = {
    val s = stats(c)
    if (s.stddev == 0.0 || s.stddev.isNaN) raw else (raw - s.mean) / s.stddev
  }

  /** Dispatch [[minMaxOf]]/[[zScoreOf]] on the configured mode. */
  def normalizedOf(c: String, raw: Double, mode: String): Double = mode match {
    case "min_max" => minMaxOf(c, raw)
    case "z_score" => zScoreOf(c, raw)
    case other     => throw new IllegalArgumentException(s"unknown mode $other")
  }
}

object Normalize {

  /** Fit min/max/mean/stddev for all columns in a single aggregation pass.
    * Zero columns (cat-only role sets) is a valid configuration. */
  def fit(df: DataFrame, cols: Seq[String]): NormalizationSummary =
    if (cols.isEmpty) NormalizationSummary(Map.empty)
    else {
      val aggs = statAggs(cols)
      summaryOf(df.agg(aggs.head, aggs.tail: _*).head(), 0, cols)
    }

  /** The four summary aggregates per column, in [[summaryOf]]'s order. */
  private[prep] def statAggs(cols: Seq[String]): Seq[Column] = cols.flatMap { c =>
    Seq(min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        avg(col(c)).as(s"${c}__mean"),
        stddev_samp(col(c)).as(s"${c}__std"))
  }

  /** Reads [[statAggs]]' values from `row` starting at field `from`; a null
    * (no rows) reads as NaN. */
  private[prep] def summaryOf(row: Row, from: Int, cols: Seq[String]): NormalizationSummary =
    NormalizationSummary(cols.zipWithIndex.map { case (c, i) =>
      def d(j: Int): Double = {
        val k = from + i * 4 + j
        if (row == null || row.isNullAt(k)) Double.NaN else row.getDouble(k)
      }
      c -> ColumnSummary(d(0), d(1), d(2), d(3))
    }.toMap)

  /** Apply one scaling mode to many columns in a single projection. */
  def apply(df: DataFrame, summary: NormalizationSummary, cols: Seq[String],
      mode: String): DataFrame = {
    val exprs = cols.map { c =>
      mode match {
        case "min_max" => summary.minMax(c).as(c)
        case "z_score" => summary.zScore(c).as(c)
        case other     => throw new IllegalArgumentException(s"unknown mode $other")
      }
    }
    df.withColumns(cols.zip(exprs).toMap)
  }

  /**
   * Cross-source quantile normalization: map each source's score
   * distribution onto the GLOBAL distribution, so one threshold means
   * the same thing on every source — the calibration step before a
   * corpus-mixing policy compares quality scores produced by different
   * scorers/domains (source A's 0.7 and source B's 0.7 rarely denote
   * the same quality; their 90th percentiles do). Each row's
   * within-source percent rank r = |{v' < v}| / (nₛ − 1) is pushed
   * through the inverse of the global empirical CDF, linearly
   * interpolated on a `q`-point percentile grid (classic microarray
   * quantile normalization, Bolstad et al. 2003, at grid resolution).
   *
   * Determinism: ties share a rank (strict-less count), the grid comes
   * from one exact `percentile` aggregate, interpolation is plain
   * arithmetic — every step replays identically in SQL. Single-row
   * sources define r = 0. Null values pass through with null output.
   *
   * Scale shape: NO row-grain sort/window — the rank aggregates to
   * (source, value) DISTINCT grain first (the Mann–Whitney trick), runs
   * the cumulative window over distinct values only, and joins back on
   * (source, value); the global grid is one broadcast percentile-array
   * row. At 100 TB quantize continuous scores to a fixed grid first so
   * the distinct grain stays bounded (documented on the rank tests).
   *
   * Output: idCols ++ (sourceCol, valueCol, `src_rank`, `normalized`),
   * 6-dp rounded.
   */
  def quantileNormalize(df: DataFrame, sourceCol: String, valueCol: String,
      q: Int = 101, idCols: Seq[String] = Nil): DataFrame =
    quantileNormalizeImpl(df, sourceCol, valueCol, q, idCols, None)

  /**
   * The 100 TB production twin of [[quantileNormalize]]: identical rank
   * side (already distinct-value grain), but the global percentile grid
   * comes from `approx_percentile` (mergeable Greenwald–Khanna sketch,
   * O(accuracy) heap) instead of the exact `percentile` array whose
   * heap holds every distinct value. Each grid point is an observed
   * value within ±1/`accuracy` of its quantile rank, so a normalized
   * score differs from the exact operator by at most the local grid
   * gap around its rank (spec-bounded on the fixture: max deviation ≤
   * the exact grid's own max adjacent gap). `src_rank` is unchanged —
   * bit-equal to the exact twin. Keep the exact form as the oracle
   * fixture.
   */
  def quantileNormalizeApprox(df: DataFrame, sourceCol: String,
      valueCol: String, q: Int = 101, idCols: Seq[String] = Nil,
      accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 100, "accuracy must be >= 100 (rank error 1/accuracy)")
    quantileNormalizeImpl(df, sourceCol, valueCol, q, idCols, Some(accuracy))
  }

  /**
   * Observed rank error of the [[quantileNormalizeApprox]] sketch grid
   * — the declared-accuracy contract emitted as DATA (one row), so the
   * rows-only production twin carries a bounded quantitative signal.
   * Grid point g_j targets quantile p_j = j/(q−1) and occupies the
   * empirical rank band [F_lt(g_j), F_le(g_j)]; the observed error is
   * the distance from p_j to that band, maxed over the grid.
   *
   * Scale shape: ONE data pass tags each row with its strict/non-strict
   * grid-insertion index via an in-row `aggregate` fold over the
   * broadcast q-element grid (codegen'd, zero UDF); the two index
   * histograms are ≤ q+1 rows, and every join after the scan is
   * grid-sized. Output: (max_rank_err 6 dp, declared_err, rank_err_ok).
   */
  def quantileGridRankError(df: DataFrame, valueCol: String,
      q: Int = 101, accuracy: Int = 10000): DataFrame = {
    require(q >= 2 && accuracy >= 100, "q >= 2, accuracy >= 100")
    val v = col(valueCol).cast("double")
    val rows = df.filter(v.isNotNull).select(v.as("__v"))
    val pcts = (0 until q).map(j => j.toDouble / (q - 1))
    val grid = rows.agg(expr(
      s"approx_percentile(__v, array(${pcts.mkString(", ")}), $accuracy)")
      .cast("array<double>").as("__gq"))
    val tagged = rows.crossJoin(broadcast(grid)).select(
      expr("aggregate(__gq, 0, (a, x) -> a + IF(x < __v, 1, 0))").as("__lt"),
      expr("aggregate(__gq, 0, (a, x) -> a + IF(x <= __v, 1, 0))").as("__le"))
    // F_le(g_j)·n = #rows with (#grid < v) <= j; F_lt(g_j)·n = #rows
    // with (#grid <= v) <= j — suffix counts over the index histograms
    val hLt = tagged.groupBy(col("__lt").as("__i"))
      .agg(count(lit(1)).as("__c1"))
    val hLe = tagged.groupBy(col("__le").as("__i2"))
      .agg(count(lit(1)).as("__c2"))
    val js = grid.select(explode(sequence(lit(0), lit(q - 1))).as("__j"))
    val fle = js.join(broadcast(hLt), col("__i") <= col("__j"), "left")
      .groupBy(col("__j")).agg(coalesce(sum(col("__c1")), lit(0L)).as("__fle"))
    val flt = js.join(broadcast(hLe), col("__i2") <= col("__j"), "left")
      .groupBy(col("__j")).agg(coalesce(sum(col("__c2")), lit(0L)).as("__flt"))
    val n = rows.agg(count(lit(1)).as("__n"))
    fle.join(flt, Seq("__j")).crossJoin(broadcast(n))
      .select((col("__j").cast("double") / (q - 1)).as("__p"),
        (col("__fle").cast("double") / col("__n")).as("__fleR"),
        (col("__flt").cast("double") / col("__n")).as("__fltR"))
      .agg(round(max(greatest(col("__p") - col("__fleR"),
        col("__fltR") - col("__p"), lit(0.0))), 6).as("max_rank_err"))
      .select(col("max_rank_err"),
        lit(1.0 / accuracy).as("declared_err"),
        (col("max_rank_err") <= 1.0 / accuracy).as("rank_err_ok"))
  }

  private def quantileNormalizeImpl(df: DataFrame, sourceCol: String,
      valueCol: String, q: Int, idCols: Seq[String],
      approxAccuracy: Option[Int]): DataFrame = {
    require(q >= 2, "q must be >= 2")
    val v = col(valueCol).cast("double")
    val rows = df.filter(v.isNotNull)
      .select((idCols.map(col) :+ col(sourceCol).as("__src") :+
        v.as("__v")): _*)
    val sv = rows.groupBy(col("__src"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wLt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = sv
      .withColumn("__lt", coalesce(sum(col("__c")).over(wLt), lit(0L)))
    val nSrc = rows.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val pcts = (0 until q).map(j => j.toDouble / (q - 1))
    val grid = approxAccuracy match {
      case None => rows.agg(percentile(col("__v"),
        array(pcts.map(lit): _*)).as("__gq"))
      case Some(acc) => rows.agg(expr(
        s"approx_percentile(__v, array(${pcts.mkString(", ")}), $acc)")
        .cast("array<double>").as("__gq"))
    }
    val r = when(col("__n") > 1, col("__lt").cast("double") / (col("__n") - 1))
      .otherwise(lit(0.0))
    val idx = r * (q - 1)
    val lo = floor(idx).cast("int")
    val frac = idx - lo
    val norm = when(col("__lo") >= q - 1, element_at(col("__gq"), q))
      .otherwise(element_at(col("__gq"), col("__lo") + 1) * (lit(1.0) - col("__fr")) +
        element_at(col("__gq"), col("__lo") + 2) * col("__fr"))
    rows
      .join(ranked, Seq("__src", "__v"))
      .join(nSrc, Seq("__src"))
      .crossJoin(broadcast(grid))
      .withColumn("__r", r)
      .withColumn("__lo", lo).withColumn("__fr", frac)
      .select(idCols.map(col) ++ Seq(
        col("__src").as(sourceCol), col("__v").as(valueCol),
        round(col("__r"), 6).as("src_rank"),
        round(norm, 6).as("normalized")): _*)
  }
}
