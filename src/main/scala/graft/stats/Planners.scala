package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Fit-time planners that pick pipeline hyper-parameters from the data
 * (SURVEY.md §2 D6/D7/G2). All single-pass aggregates; only scalars cross
 * the driver boundary.
 */
object Planners {

  /**
   * D6 sequence-length planner: a percentile of per-entity event counts.
   * Reference: get_sequence_length, spark/preprocess.py:485-490 (which uses
   * approxQuantile). `approximate = true` is the 100-TB mode promised by
   * SCALE.md: `approx_percentile` (Greenwald-Khanna, bounded sketch memory)
   * instead of the exact `percentile` (which buffers the value multiset per
   * partial aggregate). Same one-job shape either way; the ceil'd gate
   * decision is identical on every tested fixture (PlannerSpec).
   */
  def sequenceLength(df: DataFrame, tgtId: Seq[String], percentile: Double,
      approximate: Boolean = false, accuracy: Int = 10000): Int = {
    val counts = df.groupBy(tgtId.map(col): _*).agg(count(lit(1)).as("cnt"))
    val agg =
      if (approximate) expr(s"approx_percentile(cnt, $percentile, $accuracy)").cast("double")
      else expr(s"percentile(cnt, $percentile)")
    counts.agg(agg).head().getDouble(0).ceil.toInt
  }

  /**
   * D7 lookback-period planner: bucket events into fixed-size windows before
   * the prediction date, measure events-per-active-entity in each, and pick
   * the lookback covering typical activity.
   * Reference: get_lookback_period, spark/preprocess.py:493-528 (4 monthly
   * `when` buckets -> countDistinct/count per bucket).
   * Returns (bucket, nEntities, nEvents) rows; the scalar decision is the
   * caller's (reference multiplies the avg ratio into days).
   *
   * `approximate = true` (SCALE.md 100-TB mode): `approx_count_distinct`
   * (HyperLogLog++, ~2% rsd) replaces the exact `countDistinct`, whose
   * distinct-expand adds a second shuffle of (bucket, entity) pairs; the
   * sketch is one map-side-combined pass with O(1) state per bucket.
   * Only the entities/bucket RATIO feeds the lookback decision, so the
   * sketch error does not move the gate (PlannerSpec).
   */
  def lookbackBuckets(df: DataFrame, tgtId: String, activityDate: String,
      predictionDate: Column, bucketDays: Int,
      approximate: Boolean = false): DataFrame = {
    val entities =
      if (approximate) approx_count_distinct(col(tgtId), 0.02)
      else countDistinct(col(tgtId))
    df.withColumn("bucket",
        floor(datediff(predictionDate, col(activityDate)) / bucketDays).cast("long"))
      .filter(col("bucket") >= 0)
      .groupBy(col("bucket"))
      .agg(entities.as("n_entities"), count(lit(1)).as("n_events"))
  }

  /**
   * G2 sliding-window cutoff generation: training cutoffs walking back from
   * the max activity date in `strideDays` steps.
   * Reference: get_sliding_window_dates, spark/preprocess.py:468-482
   * (cutoffs = arithmetic on max(date)). Distributed form: cross-join the
   * 1-row max aggregate with a small range — no collect.
   */
  def slidingCutoffs(df: DataFrame, activityDate: String, nWindows: Int,
      strideDays: Int): DataFrame = {
    val mx = df.agg(max(to_date(col(activityDate))).as("max_date"))
    val idx = df.sparkSession.range(0, nWindows).withColumnRenamed("id", "idx")
    idx.crossJoin(mx)
      .select(col("idx"),
        date_format(date_sub(col("max_date"), (col("idx") * strideDays).cast("int")),
          "yyyy-MM-dd").as("cutoff"))
  }

  /**
   * Fixed-width value histogram: bin index + inclusive-clamped counts over
   * caller-supplied [lo, hi] edges (data-profiling building block; the
   * fit-free twin of the quantile planners). One map-side-combining
   * aggregate on the bin id; the bin arithmetic is plain double division
   * identical across engines, so it is oracle-replayable.
   */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(w)).cast("long"), lit(0L)),
      lit(nBins - 1L))
    df.filter(col(valueCol).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", lit(lo) + col("bin") * lit(w))
  }
  /**
   * Exact per-group quantiles: one `percentile(value, [qs])` aggregate per
   * group (type-7 linear interpolation — the same definition DuckDB's
   * quantile_cont uses, so results hash-match cross-engine), unpivoted to
   * (group, q, value) rows. Map-side partial aggregation; for sketchable
   * scale swap in approx_percentile (the sequenceLength gate pattern).
   */
  def groupQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty && qs.nonEmpty)
    val exact = expr(s"percentile($valueCol, array(${qs.mkString(", ")}))")
    df.groupBy(groupCols.map(col): _*)
      .agg(exact.as("__p"))
      .select(groupCols.map(col) :+ posexplode(col("__p")).as(Seq("__i", "q_value")): _*)
      .select(groupCols.map(col) :+
        element_at(array(qs.map(lit): _*), col("__i") + 1).as("q") :+
        round(col("q_value"), 6).as("q_value"): _*)
  }

  /**
   * Pearson chi-squared test of independence between two categorical
   * columns: one contingency aggregate over the data (|A|x|B| cells), then
   * window sums over the TINY cell table for the marginals — chi2 =
   * sum (O-E)^2/E, dof = (|A|-1)(|B|-1). The feature-relevance screen for
   * categorical features vs a label.
   */
  def chi2(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the FULL |A|x|B| grid, not just observed cells: an absent
    // combination is an O=0 cell whose (0-E)^2/E term still counts —
    // skipping it understates chi2 exactly when the association is
    // strongest (a diagonal table would otherwise score half its true
    // statistic). The grid is category-grain, so the cross join is tiny.
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
    val grid = df.select(col(aCol)).distinct()
      .crossJoin(df.select(col(bCol)).distinct())
      .join(cells, Seq(aCol, bCol), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val wa = Window.partitionBy(col(aCol))
    val wb = Window.partitionBy(col(bCol))
    val wall = Window.partitionBy()
    val withE = grid
      .withColumn("ra", sum(col("o")).over(wa))
      .withColumn("cb", sum(col("o")).over(wb))
      .withColumn("n", sum(col("o")).over(wall))
      .withColumn("e", col("ra").cast("double") * col("cb") / col("n"))
    withE.agg(
      round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2"),
      ((countDistinct(col(aCol)) - 1) * (countDistinct(col(bCol)) - 1))
        .as("dof"))
  }

  /**
   * Cramér's V effect size for the [[chi2]] pair:
   * V = √(χ² / (n·(min(|A|,|B|)−1))) — χ² grows with n so it can't be
   * compared across tables; V is the 0–1 association strength that can
   * (the categorical analogue of |r|). Same plan as [[chi2]] (one
   * contingency aggregate + windows over the cell table), reported
   * together: `(n, chi2, dof, cramers_v)`. V is null for a degenerate
   * table (a single row or column — no association to measure).
   */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // full grid incl. zero cells — see [[chi2]]
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
    val grid = df.select(col(aCol)).distinct()
      .crossJoin(df.select(col(bCol)).distinct())
      .join(cells, Seq(aCol, bCol), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val wa = Window.partitionBy(col(aCol))
    val wb = Window.partitionBy(col(bCol))
    val wall = Window.partitionBy()
    val withE = grid
      .withColumn("ra", sum(col("o")).over(wa))
      .withColumn("cb", sum(col("o")).over(wb))
      .withColumn("n", sum(col("o")).over(wall))
      .withColumn("e", col("ra").cast("double") * col("cb") / col("n"))
    withE.agg(
        max(col("n")).as("n"),
        sum(pow(col("o") - col("e"), 2) / col("e")).as("__chi2"),
        countDistinct(col(aCol)).as("__ka"),
        countDistinct(col(bCol)).as("__kb"))
      .select(col("n"),
        round(col("__chi2"), 6).as("chi2"),
        ((col("__ka") - 1) * (col("__kb") - 1)).as("dof"),
        when(least(col("__ka"), col("__kb")) > 1,
          round(sqrt(col("__chi2") /
            (col("n") * (least(col("__ka"), col("__kb")) - 1))), 6))
          .as("cramers_v"))
  }

  /**
   * Spearman rank correlation: Pearson over AVERAGE ranks (the standard
   * tie handling — rank() + (ties−1)/2), so monotone-but-nonlinear
   * association registers where [[graft.ops.Profile.correlationMatrix]]'s
   * Pearson underreads, and outliers can't dominate. Ranks are half-
   * integers (exact in doubles), and the five Pearson sums are computed
   * in one aggregate — both engines produce the same doubles up to
   * partial-agg order at ~1e-15, inside the 6-dp round.
   *
   * Scale shape: midranks at VALUE GRAIN — the midrank of value v is
   * (rows strictly below) + (ties + 1)/2, a pure function of the
   * distinct-value count table, so each column needs one hash-aggregate
   * plus a cumulative window over its |distinct|-row value table (the
   * mannWhitneyU statistic convention — pre-quantize genuinely
   * continuous values at 100 TB so |distinct| stays bounded), joined
   * back onto the (a, b)-pair count table; never a row-grain global
   * rank (which would sort the entire input in one window task). The
   * five Pearson sums weight by the pair counts — identical per-row
   * values to the unit-grain form, so oracle hashes are unchanged.
   * Output: one row `(n, spearman)` — null when either column is
   * constant (zero rank variance).
   */
  def spearman(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = col(aCol).cast("double")
    val b = col(bCol).cast("double")
    val pairs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__k"))
    def midranks(vCol: String, out: String) = {
      val below = Window.orderBy(col(vCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      pairs.groupBy(col(vCol)).agg(sum(col("__k")).as("__c"))
        .withColumn(out,
          coalesce(sum(col("__c")).over(below), lit(0L)).cast("double") +
            (col("__c") + 1L) / lit(2.0))
        .select(col(vCol), col(out))
    }
    val ranked = pairs
      .join(midranks("__a", "ra"), Seq("__a"))
      .join(midranks("__b", "rb"), Seq("__b"))
    val k = col("__k").cast("double")
    val s = ranked.agg(coalesce(sum(col("__k")), lit(0L)).as("n"),
      sum(k * col("ra")).as("sa"), sum(k * col("rb")).as("sb"),
      sum(k * col("ra") * col("ra")).as("saa"),
      sum(k * col("rb") * col("rb")).as("sbb"),
      sum(k * col("ra") * col("rb")).as("sab"))
    val va = col("n") * col("saa") - col("sa") * col("sa")
    val vb = col("n") * col("sbb") - col("sb") * col("sb")
    s.select(col("n"),
      when(va > 0 && vb > 0,
        round((col("n") * col("sab") - col("sa") * col("sb")) /
          sqrt(va * vb), 6)).as("spearman"))
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic D = sup_v |F_A(v) − F_B(v)|
   * between the `valueCol` distributions of two groups — the standard
   * distribution-shift test complementing [[graft.ops.Profile]]'s PSI
   * (PSI needs binning; KS is binning-free and sensitive anywhere in the
   * CDF). Exact: empirical CDFs evaluated at every pooled distinct
   * value via running-sum windows, ties handled by aggregation before
   * the scan.
   *
   * The CDF scan is a single-task global window over DISTINCT values —
   * fine for a statistic (|distinct| rows, not |rows|); at 100 TB
   * pre-quantize values to a grid (the [[histogram]] binning) before
   * calling, which bounds the scan at grid size with a known D error.
   *
   * Output: one row (ks_d, n_a, n_b).
   */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val g = df.filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        (col(groupCol) === groupA).as("isa"))
      .groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val run = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    g.withColumn("cuma", sum(col("ca")).over(run))
      .withColumn("cumb", sum(col("cb")).over(run))
      .withColumn("na", sum(col("ca")).over(all))
      .withColumn("nb", sum(col("cb")).over(all))
      .agg(round(max(abs(col("cuma").cast("double") / col("na") -
          col("cumb").cast("double") / col("nb"))), 6).as("ks_d"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
  }

  /**
   * Two-sample Cramér–von Mises statistic (Anderson 1962) between the
   * `valueCol` distributions of two groups — the INTEGRATED-gap
   * companion of [[ksTest]]: T = (n_a·n_b/N²) · Σⱼ tⱼ·(F_a(vⱼ) −
   * F_b(vⱼ))² over the pooled distinct values (tⱼ = pooled
   * multiplicity — the standard discrete/tied form). Where KS reports
   * only the WORST single gap, CvM accumulates every gap, so it sees
   * distributed small shifts (e.g. a variance change) KS under-weights.
   * Larger T ⇒ more evidence the distributions differ (compare against
   * the caller's critical value — the [[welchT]] convention).
   *
   * Same scale shape as [[ksTest]]: aggregate to DISTINCT values, one
   * running-sum window over the statistic-sized value table, one
   * aggregate. The ECDF ratios are exact-integer divisions — identical
   * doubles cross-engine. Output: one row (n_a, n_b, t) (6 dp); t null
   * when either group is empty.
   */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val g = df.filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        (col(groupCol) === groupA).as("isa"))
      .groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val run = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val w = g
      .withColumn("cuma", sum(col("ca")).over(run))
      .withColumn("cumb", sum(col("cb")).over(run))
      .withColumn("na", sum(col("ca")).over(all))
      .withColumn("nb", sum(col("cb")).over(all))
    // null-safe group sizes (the ivWald ANSI convention)
    val naS = when(col("na") > 0, col("na"))
    val nbS = when(col("nb") > 0, col("nb"))
    val dd = col("cuma").cast("double") / naS -
      col("cumb").cast("double") / nbS
    val a = w.agg(
      coalesce(max(col("na")), lit(0L)).as("n_a"),
      coalesce(max(col("nb")), lit(0L)).as("n_b"),
      sum((col("ca") + col("cb")) * dd * dd).as("__s"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    a.select(col("n_a"), col("n_b"),
      round(when(col("n_a") > 0 && col("n_b") > 0,
        naD * nbD / (nD * nD) * col("__s")), 6).as("t"))
  }

  /**
   * AUC with DeLong confidence machinery (DeLong, DeLong &
   * Clarke-Pearson 1988): the ROC area as the Mann–Whitney placement
   * mean, PLUS its sampling SE from the placement variances — the
   * "is this ranker actually better than coin-flip (or than last
   * week's)" question a bare AUC point estimate can't answer.
   *   AUC  = Σⱼ aⱼ·V₁₀(vⱼ) / n₁,  V₁₀(v) = (neg_below + ties/2)/n₀
   *   var  = S₁₀/n₁ + S₀₁/n₀  (sample variances of the placements)
   *   z    = (AUC − ½)/se
   * Placements are EXACT-integer ratios at the distinct-score grain
   * (ties get the standard ½ credit), so AUC is deterministic
   * cross-engine; the variances use the expanded Σw·x² − (Σw·x)²/n
   * form (clamped — the [[anovaF]] convention) so ONE aggregate pass
   * over the value table suffices.
   *
   * Scale shape: [[mannWhitneyU]]'s — one hash aggregate to distinct
   * scores, one statistic-sized running window, one aggregate.
   * Output: one row (n_pos, n_neg, auc, se, z), 6 dp — auc null when
   * a class is empty; se/z additionally need both classes ≥ 2 and
   * positive variance.
   */
  def aucDeLong(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val g = df.filter(col(scoreCol).isNotNull && y.isNotNull)
      .select(col(scoreCol).cast("double").as("v"), y.as("__y"))
      .groupBy(col("v"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("b"))
    val run = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    val w = g
      .withColumn("pa", coalesce(sum(col("a")).over(run), lit(0L)))
      .withColumn("pb", coalesce(sum(col("b")).over(run), lit(0L)))
      .withColumn("n1", sum(col("a")).over(all))
      .withColumn("n0", sum(col("b")).over(all))
    val n1S = when(col("n1") > 0, col("n1"))
    val n0S = when(col("n0") > 0, col("n0"))
    // placement of a positive at v: negatives strictly below + half ties
    val v10 = (col("pb").cast("double") + col("b") / 2) / n0S
    // placement of a negative at v: positives strictly above + half ties
    val v01 = ((col("n1") - col("pa") - col("a")).cast("double")
      + col("a") / 2) / n1S
    val agg = w.agg(
      coalesce(max(col("n1")), lit(0L)).as("n_pos"),
      coalesce(max(col("n0")), lit(0L)).as("n_neg"),
      sum(col("a") * v10).as("__sa1"),
      sum(col("a") * v10 * v10).as("__sa2"),
      sum(col("b") * v01).as("__sb1"),
      sum(col("b") * v01 * v01).as("__sb2"))
    val n1D = when(col("n_pos") > 0, col("n_pos").cast("double"))
    val n0D = when(col("n_neg") > 0, col("n_neg").cast("double"))
    val auc = col("__sa1") / n1D
    val s10 = greatest(col("__sa2") - col("__sa1") * col("__sa1") / n1D,
      lit(0.0)) / when(col("n_pos") > 1, col("n_pos") - 1)
    val s01 = greatest(col("__sb2") - col("__sb1") * col("__sb1") / n0D,
      lit(0.0)) / when(col("n_neg") > 1, col("n_neg") - 1)
    val se = sqrt(s10 / n1D + s01 / n0D)
    val seS = when(se > 0, se)
    agg.select(col("n_pos"), col("n_neg"),
      round(auc, 6).as("auc"),
      round(se, 6).as("se"),
      round((auc - 0.5) / seS, 6).as("z"))
  }

  /**
   * Friedman test (Friedman 1937) — k conditions ranked WITHIN each
   * subject: the repeated-measures twin of [[kruskalWallis]] (which
   * assumes independent groups) and the continuous-outcome upgrade of
   * [[cochranQ]]. Duplicate observations per (subject, condition)
   * collapse by exact integer SUM (`valueCol` must be integral — the
   * [[anovaF]] cents contract); only COMPLETE subjects (all k
   * conditions present) enter, the classic complete-block requirement.
   * χ² = 12/(nk(k+1))·ΣRⱼ² − 3n(k+1), tie-corrected by
   * C = 1 − Σ(t³−t)/(nk(k²−1)) over within-subject tie groups; also
   * reports Kendall's W = χ²/(n(k−1)) (0..1 agreement).
   *
   * Exactness: within-subject doubled midranks are exact integers
   * ([[doubledMidranks]]' identity per subject), so each condition's
   * rank-sum is an exact decimal(38,0)/HUGEINT; only the scale-free
   * χ²/W cross doubles. Output: one row (n, k, dof, chi2, w), 6 dp —
   * null when k < 2, no complete subjects, or every subject ties all
   * conditions (C = 0).
   *
   * Scale shape: one (subject, condition) cell aggregate, per-SUBJECT
   * sequence windows for the midranks (key-partitioned, ≤ k rows per
   * key — never a global sort), one condition-grain aggregate.
   */
  def friedmanTest(df: DataFrame, subjectCol: String, conditionCol: String,
      valueCol: String): DataFrame = {
    val (mm, kRow, nRow, ties) =
      completeBlockRanks(df, subjectCol, conditionCol, valueCol)
    val byCond = mm
      .groupBy(col("__j"))
      .agg(sum(col("__mr2").cast("decimal(38,0)")).as("__r2"))
    val r2d = col("__r2").cast("double")
    val a = byCond.agg(
      sum(r2d * r2d).as("__q4"))
    val nD = col("n").cast("double")
    val kD = col("__k").cast("double")
    val den1 = nD * kD * (kD + 1)
    val chi0 = lit(3.0) * col("__q4") / when(den1 > 0, den1) -
      lit(3.0) * nD * (kD + 1)
    val cDen = nD * kD * (kD * kD - 1)
    val c = lit(1.0) - col("__tt").cast("double") / when(cDen > 0, cDen)
    val ok = col("__k") >= 2 && col("n") > 0 && c > 0
    val chi = when(ok, chi0 / when(c > 0, c))
    a.crossJoin(nRow).crossJoin(broadcast(kRow)).crossJoin(ties)
      .select(col("n"), col("__k").as("k"),
        (col("__k") - 1L).as("dof"),
        round(chi, 6).as("chi2"),
        round(chi / when(nD * (kD - 1) > 0, nD * (kD - 1)), 6).as("w"))
  }

  /**
   * Shared complete-block machinery of the within-subject family
   * ([[friedmanTest]], [[pageTrend]]): collapse to (subject, condition)
   * cells by exact integer SUM, keep only COMPLETE blocks (all k
   * conditions present), and compute within-subject DOUBLED midranks
   * (exact integers — the [[doubledMidranks]] identity per subject).
   * Returns (cells (i, j, mr2), kRow (__k), nRow (n), tiesRow (__tt)).
   * Scale shape: one cell aggregate, per-SUBJECT sequence windows
   * (≤ k rows per key — never a global sort).
   */
  private def completeBlockRanks(df: DataFrame, subjectCol: String,
      conditionCol: String, valueCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val x = col(valueCol).cast("long")
    val cells = df.filter(col(subjectCol).isNotNull &&
        col(conditionCol).isNotNull && x.isNotNull)
      .groupBy(col(subjectCol).as("__i"), col(conditionCol).as("__j"))
      .agg(sum(x).as("__s"))
    val kRow = cells.agg(countDistinct(col("__j")).as("__k"))
    val complete = cells.groupBy(col("__i"))
      .agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(kRow))
      .filter(col("__c") === col("__k"))
      .select(col("__i"))
    val cc = cells.join(complete, Seq("__i"), "left_semi")
    val vt = cc.groupBy(col("__i"), col("__s")).agg(count(lit(1)).as("__t"))
    val runW = Window.partitionBy(col("__i")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vt.withColumn("__prev",
      coalesce(sum(col("__t")).over(runW), lit(0L)))
    val mm = cc
      .join(ranked.select(col("__i"), col("__s"),
        (lit(2) * col("__prev") + col("__t") + 1).as("__mr2")),
        Seq("__i", "__s"))
      .select(col("__i"), col("__j"), col("__mr2"))
    val nRow = complete.agg(count(lit(1)).as("n"))
    val ties = ranked.agg(
      coalesce(sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")), lit(BigDecimal(0)).cast("decimal(38,0)")).as("__tt"))
    (mm, kRow, nRow, ties)
  }

  /**
   * Page's trend test (Page 1963) — the ORDERED alternative to
   * [[friedmanTest]]: when the k conditions carry a hypothesized
   * ordering (dose levels, time points — here the lexicographic
   * condition order), L = Σⱼ cⱼ·Rⱼ weights each condition's rank-sum
   * by its position, which is far more powerful against a monotone
   * trend than Friedman's any-difference χ². z uses the classical
   * no-tie moments E[L] = nk(k+1)²/4,
   * Var[L] = nk²(k+1)²(k−1)/144 (the standard reporting convention —
   * heavy ties inflate |z| slightly; [[friedmanTest]] carries the
   * tie-corrected global test).
   *
   * L itself is EXACT (doubled midranks are integers, so 2L is an
   * exact decimal — L lands on the ½ grid and ships raw, the dyadic
   * no-round rule). Output: one row (n, k, l, z) — z 6 dp, null when
   * k < 2, n = 0, or Var = 0.
   *
   * Scale shape: [[completeBlockRanks]] + one k-row condition-order
   * window + one aggregate.
   */
  def pageTrend(df: DataFrame, subjectCol: String, conditionCol: String,
      valueCol: String): DataFrame = {
    val (mm, kRow, nRow, _) =
      completeBlockRanks(df, subjectCol, conditionCol, valueCol)
    val ordW = Window.orderBy(col("__j"))
    val cOrder = mm.select(col("__j")).distinct()
      .withColumn("__c", row_number().over(ordW).cast("long"))
    val l2 = mm.join(cOrder, Seq("__j"))
      .agg(coalesce(sum(col("__c").cast("decimal(38,0)") * col("__mr2")),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__l2"))
    val nD = col("n").cast("double")
    val kD = col("__k").cast("double")
    val lVal = col("__l2").cast("double") / 2
    val eL = nD * kD * (kD + 1) * (kD + 1) / 4
    val varL = nD * kD * kD * (kD + 1) * (kD + 1) * (kD - 1) / 144
    l2.crossJoin(nRow).crossJoin(broadcast(kRow))
      .select(col("n"), col("__k").as("k"),
        when(col("n") > 0 && col("__k") >= 2, lVal).as("l"),
        round(when(col("n") > 0 && col("__k") >= 2 && varL > 0,
          (lVal - eL) / sqrt(varL)), 6).as("z"))
  }

  /**
   * Two-way random-effects intraclass correlation ICC(2,1) (Shrout &
   * Fleiss 1979) — absolute-agreement reliability of single ratings
   * when every rater scores every subject: the CONTINUOUS-outcome
   * reliability standard next to [[cohenKappa]] (categorical) and
   * Krippendorff's α. From the two-way ANOVA decomposition over
   * complete subject×rater blocks:
   *   ICC(2,1) = (MSR − MSE) / (MSR + (k−1)·MSE + k·(MSC − MSE)/n)
   * plus the subject-discrimination F = MSR/MSE. Duplicate
   * observations per cell collapse by exact integer SUM (`valueCol`
   * integral — the [[anovaF]] cents contract).
   *
   * Exactness: all sufficient sums (T, ΣX², ΣSᵢ², ΣRⱼ²) are exact
   * integers (decimal(38,0)/HUGEINT); the SS terms are clamped
   * quadratic forms and only the SCALE-FREE ICC/F are emitted (the
   * anovaF emit-the-ratio rule — raw mean squares sit at cents²·n
   * magnitude where fold noise beats any rounding grid).
   *
   * Output: one row (n, k, icc21, f), 6 dp — both null when n < 2 or
   * k < 2; F additionally null when MSE = 0 (a perfectly additive
   * table has no disagreement left to scale by), icc21 when its
   * denominator degenerates.
   *
   * Scale shape: one cell aggregate, two key-grain aggregates
   * (subject/rater sums), one-row arithmetic — no window, no
   * row-grain join.
   */
  def iccTwoWay(df: DataFrame, subjectCol: String, raterCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val cells = df.filter(col(subjectCol).isNotNull &&
        col(raterCol).isNotNull && x.isNotNull)
      .groupBy(col(subjectCol).as("__i"), col(raterCol).as("__j"))
      .agg(sum(x).as("__s"))
    val kRow = cells.agg(countDistinct(col("__j")).as("__k"))
    val complete = cells.groupBy(col("__i"))
      .agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(kRow))
      .filter(col("__c") === col("__k"))
      .select(col("__i"))
    val cc = cells.join(complete, Seq("__i"), "left_semi")
    val tot = cc.agg(
      coalesce(sum(col("__s")), lit(0L)).as("__t"),
      coalesce(sum(col("__s").cast("decimal(38,0)") * col("__s")),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__ss"))
    val bySubj = cc.groupBy(col("__i")).agg(sum(col("__s")).as("__si"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("__si").cast("decimal(38,0)") * col("__si")),
          lit(BigDecimal(0)).cast("decimal(38,0)")).as("__ssi"))
    val byRater = cc.groupBy(col("__j")).agg(sum(col("__s")).as("__rj"))
      .agg(coalesce(sum(col("__rj").cast("decimal(38,0)") * col("__rj")),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__srj"))
    val nD = col("n").cast("double")
    val kD = col("__k").cast("double")
    val tD = col("__t").cast("double")
    val nk = when(nD * kD > 0, nD * kD)
    val corr = tD * tD / nk
    val ssTot = greatest(col("__ss").cast("double") - corr, lit(0.0))
    val ssR = greatest(col("__ssi").cast("double") / when(kD > 0, kD) - corr,
      lit(0.0))
    val ssC = greatest(col("__srj").cast("double") / when(nD > 0, nD) - corr,
      lit(0.0))
    val ssE = greatest(ssTot - ssR - ssC, lit(0.0))
    val msr = ssR / when(nD - 1 > 0, nD - 1)
    val msc = ssC / when(kD - 1 > 0, kD - 1)
    val mse = ssE / when((nD - 1) * (kD - 1) > 0, (nD - 1) * (kD - 1))
    val den = msr + (kD - 1) * mse + kD * (msc - mse) / when(nD > 0, nD)
    val ok = col("n") >= 2 && col("__k") >= 2
    bySubj.crossJoin(tot).crossJoin(broadcast(kRow)).crossJoin(byRater)
      .select(col("n"), col("__k").as("k"),
        round(when(ok && den > 0, (msr - mse) / when(den > 0, den)), 6)
          .as("icc21"),
        round(when(ok, msr / when(mse > 0, mse)), 6).as("f"))
  }

  /**
   * Average precision (the ranking-eval AP / area under the PR curve
   * in its right-step form — the convention sklearn's
   * average_precision_score documents): walking thresholds DOWN the
   * score axis, AP = Σ ΔRecall·Precision, with tied scores processed
   * as one block (each block contributes its positives' recall mass at
   * the block's inclusive precision). The rare-positive companion of
   * [[aucDeLong]]: AUC rewards ranking negatives below positives
   * anywhere; AP concentrates on the top of the list.
   *
   * Same scale shape as [[aucDeLong]]: distinct-score cells, one
   * DESCENDING running window over the statistic-sized table, one
   * aggregate — precisions are exact-integer ratios. Output: one row
   * (n_pos, n_neg, ap), 6 dp — null when no positives.
   */
  def averagePrecision(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val g = df.filter(col(scoreCol).isNotNull && y.isNotNull)
      .select(col(scoreCol).cast("double").as("v"), y.as("__y"))
      .groupBy(col("v"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("b"))
    val run = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val w = g
      .withColumn("ca", sum(col("a")).over(run))
      .withColumn("cb", sum(col("b")).over(run))
      .withColumn("n1", sum(col("a")).over(all))
    // block precision at the inclusive cut — (ca + cb) ≥ 1 by
    // construction, no zero divisor
    val prec = col("ca").cast("double") / (col("ca") + col("cb"))
    val agg = w.agg(
      coalesce(max(col("n1")), lit(0L)).as("n_pos"),
      coalesce(sum(col("b")), lit(0L)).as("n_neg"),
      sum(col("a") * prec).as("__s"))
    agg.select(col("n_pos"), col("n_neg"),
      round(col("__s") / when(col("n_pos") > 0, col("n_pos")), 6).as("ap"))
  }

  /**
   * Bland–Altman agreement analysis (Bland & Altman 1986) between two
   * paired measurements of the same quantity — the method-comparison
   * standard that a correlation coefficient famously gets wrong
   * (perfectly correlated methods can still disagree by a constant or
   * proportional amount): bias = mean difference, limits of agreement
   * = bias ± 1.96·sd(diff), plus the realized fraction of differences
   * inside the limits (≈ 0.95 under normality — a cheap normality
   * smell test). Both columns integral (cents — the [[anovaF]]
   * contract), so differences and their squares are exact integers and
   * bias/sd are deterministic doubles.
   *
   * Output: one row `(n, bias, sd_diff, loa_lo, loa_hi, coverage)`
   * (6 dp) — sd/limits/coverage null when n < 2; zero spread collapses
   * the limits onto the bias with coverage 1 (every difference equal).
   *
   * Scale shape: one exact-sums aggregate, then ONE more scan
   * comparing each difference against the broadcast one-row limits —
   * no window, no sort.
   */
  def blandAltman(df: DataFrame, m1Col: String,
      m2Col: String): DataFrame = {
    val d = col(m1Col).cast("long") - col(m2Col).cast("long")
    val base = df.filter(col(m1Col).isNotNull && col(m2Col).isNotNull)
      .select(d.as("__d"))
    val s1 = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("__d")), lit(0L)).as("__sd"),
      coalesce(sum(col("__d").cast("decimal(38,0)") * col("__d")),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__ssd"))
    val nD = when(col("n") > 0, col("n").cast("double"))
    val sdD = col("__sd").cast("double")
    val bias = sdD / nD
    val varD = greatest(col("__ssd").cast("double") - sdD * sdD / nD,
      lit(0.0)) / when(col("n") > 1, col("n") - 1)
    val stats = s1.select(col("n"), bias.as("__bias"),
      sqrt(varD).as("__sdd"))
      .withColumn("__lo", col("__bias") - lit(1.96) * col("__sdd"))
      .withColumn("__hi", col("__bias") + lit(1.96) * col("__sdd"))
    val cov = base.crossJoin(broadcast(stats))
      .agg(coalesce(sum(when(col("__d").cast("double") >= col("__lo") &&
        col("__d").cast("double") <= col("__hi"), 1L).otherwise(0L)),
        lit(0L)).as("__in"))
    stats.crossJoin(cov).select(col("n"),
      round(col("__bias"), 6).as("bias"),
      round(col("__sdd"), 6).as("sd_diff"),
      round(col("__lo"), 6).as("loa_lo"),
      round(col("__hi"), 6).as("loa_hi"),
      round(when(col("__sdd").isNotNull,
        col("__in").cast("double") / when(col("n") > 0, col("n"))), 6)
        .as("coverage"))
  }

  /**
   * Two-sample Poisson rate-ratio test: event COUNTS per exposure
   * (user-days, requests, page-views) in two groups — "did the
   * incident/defect/purchase RATE change", where [[proportionZTest]]
   * needs a bounded per-unit outcome and Poisson counts have none.
   * z tests ln(rate ratio) with the standard log-linear variance
   * √(1/c₁ + 1/c₂) (exposure-adjusted; exact conditional test's
   * normal form). Output: one row
   * (events_a, events_b, exposure_a, exposure_b, rate_a, rate_b,
   * ratio, z), 6 dp — rates null on zero exposure; ratio/z null when
   * either count is 0 (the log form degenerates — add-½ upstream if
   * zero counts are expected).
   *
   * Scale shape: ONE conditional-aggregate pass ([[welchT]] shape) —
   * `eventsCol` counts and `exposureCol` exposure per row, both
   * summed as exact longs.
   */
  def poissonRateTest(df: DataFrame, eventsCol: String, exposureCol: String,
      groupCol: String, groupA: String, groupB: String): DataFrame = {
    val ev = col(eventsCol).cast("long")
    val ex = col(exposureCol).cast("long")
    val isa = col(groupCol) === groupA
    val a = df.filter(col(groupCol).isin(groupA, groupB) &&
        ev.isNotNull && ex.isNotNull)
      .agg(
        coalesce(sum(when(isa, ev).otherwise(0L)), lit(0L)).as("events_a"),
        coalesce(sum(when(!isa, ev).otherwise(0L)), lit(0L)).as("events_b"),
        coalesce(sum(when(isa, ex).otherwise(0L)), lit(0L)).as("exposure_a"),
        coalesce(sum(when(!isa, ex).otherwise(0L)), lit(0L)).as("exposure_b"))
    val c1 = col("events_a").cast("double")
    val c2 = col("events_b").cast("double")
    val e1 = when(col("exposure_a") > 0, col("exposure_a").cast("double"))
    val e2 = when(col("exposure_b") > 0, col("exposure_b").cast("double"))
    val r1 = c1 / e1
    val r2 = c2 / e2
    val ok = col("events_a") > 0 && col("events_b") > 0
    val ratio = when(ok, r1 / when(r2 > 0, r2))
    a.select(col("events_a"), col("events_b"),
      col("exposure_a"), col("exposure_b"),
      round(r1, 6).as("rate_a"), round(r2, 6).as("rate_b"),
      round(ratio, 6).as("ratio"),
      round(log(ratio) / sqrt(lit(1.0) / when(c1 > 0, c1)
        + lit(1.0) / when(c2 > 0, c2)), 6).as("z"))
  }

  /**
   * Fleiss' kappa (Fleiss 1971) — chance-corrected agreement when a
   * FIXED number of raters (`ratersPerSubject`) classify each subject
   * into categories: the multi-rater generalization of [[cohenKappa]]
   * (two raters) for label-quality audits over crowd annotations.
   * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) with Pᵢ = (Σⱼcᵢⱼ² − n)/(n(n−1)) and
   * P̄ₑ = Σⱼpⱼ². Input is ONE ROW PER RATING (subject, category);
   * subjects whose rating count ≠ `ratersPerSubject` are excluded
   * (the design requirement — partial subjects would bias P̄).
   *
   * Exactness: Σc² per subject and all totals are exact integers
   * (HUGEINT squares); κ is scale-free arithmetic over them. Output:
   * one row (n_subjects, n_categories, p_bar, p_e, kappa), 6 dp —
   * null when no complete subjects, n < 2 raters, or P̄ₑ = 1 (every
   * rating in one category: agreement is vacuous).
   *
   * Scale shape: one (subject, category) cell aggregate, one subject
   * aggregate, one category aggregate, one-row arithmetic.
   */
  def fleissKappa(df: DataFrame, subjectCol: String, categoryCol: String,
      ratersPerSubject: Int): DataFrame = {
    require(ratersPerSubject >= 2, "ratersPerSubject must be >= 2")
    val n = ratersPerSubject
    val cells = df.filter(col(subjectCol).isNotNull &&
        col(categoryCol).isNotNull)
      .groupBy(col(subjectCol).as("__i"), col(categoryCol).as("__j"))
      .agg(count(lit(1)).as("__c"))
    val perSubj = cells.groupBy(col("__i"))
      .agg(sum(col("__c")).as("__tot"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__c2"))
      .filter(col("__tot") === n)
    val bySubj = perSubj.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum(col("__c2")), lit(BigDecimal(0)).cast("decimal(38,0)"))
        .as("__sc2"))
    val complete = perSubj.select(col("__i"))
    val byCat = cells.join(complete, Seq("__i"), "left_semi")
      .groupBy(col("__j")).agg(sum(col("__c")).as("__cj"))
      .agg(count(lit(1)).as("n_categories"),
        coalesce(sum(col("__cj").cast("decimal(38,0)") * col("__cj")),
          lit(BigDecimal(0)).cast("decimal(38,0)")).as("__scj2"))
    val nsD = when(col("n_subjects") > 0, col("n_subjects").cast("double"))
    val nD = lit(n.toDouble)
    // P̄ = (Σᵢ Σⱼcᵢⱼ² − N·n) / (N·n·(n−1))
    val pBar = (col("__sc2").cast("double") - nsD * nD) /
      (nsD * nD * (nD - 1))
    // P̄ₑ = Σⱼ (Σᵢcᵢⱼ / (N·n))² = Σⱼ(cⱼ)² / (N·n)²
    val pE = col("__scj2").cast("double") / (nsD * nD * (nsD * nD))
    val den = when(lit(1.0) - pE > 0, lit(1.0) - pE)
    bySubj.crossJoin(byCat).select(col("n_subjects"), col("n_categories"),
      round(pBar, 6).as("p_bar"), round(pE, 6).as("p_e"),
      round((pBar - pE) / den, 6).as("kappa"))
  }

  /**
   * Chapman capture–recapture estimator (Chapman 1951, the
   * bias-corrected Lincoln–Petersen): two INDEPENDENT partial samples
   * of the same hidden population — how big is the whole?
   *   N̂ = (n₁+1)(n₂+1)/(m+1) − 1,  m = |overlap|
   * with the standard variance for a Wald CI. The coverage-estimation
   * primitive: two independent dedup passes / crawlers / labelers each
   * find SOME of the duplicates — the overlap tells you how many you
   * have not found yet (the "how much is left" question a single pass
   * cannot answer).
   *
   * Input: two one-column id DataFrames (dedup'd internally). Exact
   * integer counts; N̂ and SE are one-row arithmetic. Output: one row
   * (n_1, n_2, overlap, n_hat, se) 6 dp — se null when m = 0 (the
   * variance formula degenerates; N̂ itself is still reported as the
   * Chapman value).
   *
   * Scale shape: two distinct-aggregates + one semi-join count — no
   * window, nothing row-grain crosses the driver.
   */
  def chapmanEstimate(sample1: DataFrame, sample2: DataFrame): DataFrame = {
    val s1 = sample1.toDF("id").filter(col("id").isNotNull).distinct()
    val s2 = sample2.toDF("id").filter(col("id").isNotNull).distinct()
    val n1 = s1.agg(count(lit(1)).as("n_1"))
    val n2 = s2.agg(count(lit(1)).as("n_2"))
    val m = s1.join(s2, Seq("id"), "left_semi")
      .agg(count(lit(1)).as("overlap"))
    val n1D = col("n_1").cast("double")
    val n2D = col("n_2").cast("double")
    val mD = col("overlap").cast("double")
    val nHat = (n1D + 1) * (n2D + 1) / (mD + 1) - 1
    val varN = (n1D + 1) * (n2D + 1) * (n1D - mD) * (n2D - mD) /
      ((mD + 1) * (mD + 1) * (mD + 2))
    n1.crossJoin(n2).crossJoin(m)
      .select(col("n_1"), col("n_2"), col("overlap"),
        round(nHat, 6).as("n_hat"),
        round(when(col("overlap") > 0, sqrt(greatest(varN, lit(0.0)))), 6)
          .as("se"))
  }

  /**
   * Mood's median test (Mood 1950) across k groups — "do the groups
   * share a common median": counts above/below the GRAND median per
   * group and chi-squares the k×2 contingency. The crude-but-robust
   * k-sample location screen next to [[kruskalWallis]] (which uses
   * full rank information — Mood survives arbitrary outliers and
   * ordinal data where even ranks are shaky). Values AT the grand
   * median drop (the standard dichotomization); `valueCol` must be
   * integral (cents — the [[anovaF]] contract) so the exact-percentile
   * median and the above/below split are deterministic cross-engine.
   *
   * Output: one row (n, k, dof, chi2), 6 dp — n = rows surviving the
   * median drop, k = groups with survivors, dof = k−1; chi2 null when
   * k < 2 or either margin is empty (no contrast to test).
   *
   * Scale shape: one global exact-percentile aggregate (broadcast
   * one-row; swap in `approx_percentile` for a genuinely continuous
   * corpus-scale domain — the [[sequenceLength]] trade; a cents grid
   * keeps the exact multiset bounded), one group-grain conditional
   * aggregate, k-row arithmetic.
   */
  def moodMedianTest(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val base = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), x.as("__x"))
    val med = base.agg(expr("percentile(__x, 0.5)").as("__med"))
    val g = base.crossJoin(broadcast(med))
      .filter(col("__x").cast("double") =!= col("__med"))
      .groupBy(col("__g"))
      .agg(sum(when(col("__x").cast("double") > col("__med"), 1L)
          .otherwise(0L)).as("__a"),
        sum(when(col("__x").cast("double") < col("__med"), 1L)
          .otherwise(0L)).as("__b"))
    val all = Window.partitionBy(lit(1))
    val ta = sum(col("__a")).over(all)
    val tb = sum(col("__b")).over(all)
    val n = ta + tb
    val rowT = col("__a") + col("__b")
    val nS = when(n > 0, n.cast("double"))
    val ea = rowT.cast("double") * ta / nS
    val eb = rowT.cast("double") * tb / nS
    val eaS = when(ea > 0, ea)
    val ebS = when(eb > 0, eb)
    val contrib = (col("__a") - ea) * (col("__a") - ea) / eaS +
      (col("__b") - eb) * (col("__b") - eb) / ebS
    val w = g.select(col("__g"), contrib.as("__c"), ta.as("__ta"),
      tb.as("__tb"), n.as("__n"))
    w.agg(
      coalesce(max(col("__n")), lit(0L)).as("n"),
      count(lit(1)).as("k"),
      when(count(lit(1)) >= 2, count(lit(1)) - 1L).as("dof"),
      round(when(count(lit(1)) >= 2 && max(col("__ta")) > 0 &&
        max(col("__tb")) > 0, sum(col("__c"))), 6).as("chi2"))
  }

  /**
   * Two-sample energy distance (Székely & Rizzo 2004) between the
   * `valueCol` distributions of two groups:
   *   D = 2·E|X−Y| − E|X−X'| − E|Y−Y'|  (≥ 0, = 0 iff same
   * distribution), plus the test statistic T = (nm/(n+m))·D. The
   * OMNIBUS two-sample test completing the family: [[ksTest]] sees the
   * worst CDF gap, [[cramerVonMises]] integrates the gaps, energy
   * distance is consistent against EVERY alternative (location, scale,
   * shape, tails) with a single number in the data's units.
   *
   * Exactness: `valueCol` must be integral (cents); each expected
   * absolute difference is an EXACT integer pair-sum (the sorted-grid
   * identity Σᵢ<ⱼ(vⱼ−vᵢ)cᵢcⱼ = Σⱼ cⱼ(vⱼ·C₍<ⱼ₎ − S₍<ⱼ₎) over running
   * count/sum prefixes, accumulated in decimal(38,0)/HUGEINT) divided
   * once — so D is deterministic cross-engine, no n² pair join ever
   * materializes.
   *
   * Output: one row (n_a, n_b, e_xy, e_xx, e_yy, dist, t), 6 dp, in
   * `valueCol` units — null when either group is empty. Scale shape:
   * the [[ksTest]] scan — distinct-value cells, ONE ordered running
   * window over the statistic-sized table, one aggregate.
   */
  def energyDistance(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val g = df.filter(col(groupCol).isin(groupA, groupB) && x.isNotNull)
      .select(x.as("v"), (col(groupCol) === groupA).as("isa"))
      .groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val run = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val zero = lit(BigDecimal(0)).cast("decimal(38,0)")
    val w = g
      .withColumn("pca", coalesce(sum(col("ca")).over(run), lit(0L)))
      .withColumn("pcb", coalesce(sum(col("cb")).over(run), lit(0L)))
      .withColumn("psa",
        coalesce(sum(dec(col("v")) * col("ca")).over(run), zero))
      .withColumn("psb",
        coalesce(sum(dec(col("v")) * col("cb")).over(run), zero))
    val sxx = sum(dec(col("ca")) * (dec(col("v")) * col("pca") - col("psa")))
    val syy = sum(dec(col("cb")) * (dec(col("v")) * col("pcb") - col("psb")))
    val sxy = sum(dec(col("ca")) * (dec(col("v")) * col("pcb") - col("psb"))
      + dec(col("cb")) * (dec(col("v")) * col("pca") - col("psa")))
    val a = w.agg(
      coalesce(sum(col("ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("cb")), lit(0L)).as("n_b"),
      coalesce(sxx, zero).as("__sxx"),
      coalesce(syy, zero).as("__syy"),
      coalesce(sxy, zero).as("__sxy"))
    val naD = when(col("n_a") > 0, col("n_a").cast("double"))
    val nbD = when(col("n_b") > 0, col("n_b").cast("double"))
    val exy = col("__sxy").cast("double") / (naD * nbD)
    val exx = lit(2.0) * col("__sxx").cast("double") / (naD * naD)
    val eyy = lit(2.0) * col("__syy").cast("double") / (nbD * nbD)
    val dist = lit(2.0) * exy - exx - eyy
    a.select(col("n_a"), col("n_b"),
      round(exy, 6).as("e_xy"), round(exx, 6).as("e_xx"),
      round(eyy, 6).as("e_yy"), round(dist, 6).as("dist"),
      round(naD * nbD / (naD + nbD) * dist, 6).as("t"))
  }

  /**
   * Grubbs' outlier statistic (Grubbs 1950): G = max|xᵢ − x̄|/s, with
   * the extreme value that produced it — "is the single most extreme
   * point consistent with the rest", the formal cousin of the B5
   * outlier CLIP (which removes by a fixed σ-multiple; Grubbs grades
   * the worst point against the caller's critical value, the
   * [[welchT]] convention). max|x − x̄| = max(max−x̄, x̄−min), so ONE
   * aggregate pass suffices — no second scan, no sort. `valueCol`
   * integral (cents): sums exact, G scale-free.
   *
   * Output: one row (n, mean, sd, g, extreme_value), mean/sd/g 6 dp —
   * g null when n < 3 (Grubbs is undefined) or sd = 0.
   */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val a = df.filter(x.isNotNull)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(x), lit(0L)).as("__s"),
        coalesce(sum(x.cast("decimal(38,0)") * x),
          lit(BigDecimal(0)).cast("decimal(38,0)")).as("__ss"),
        max(x).as("__mx"), min(x).as("__mn"))
    val nD = when(col("n") > 0, col("n").cast("double"))
    val sD = col("__s").cast("double")
    val mean = sD / nD
    val varS = greatest(col("__ss").cast("double") - sD * sD / nD,
      lit(0.0)) / when(col("n") > 1, col("n") - 1)
    val sd = sqrt(varS)
    val devHi = col("__mx") - mean
    val devLo = mean - col("__mn")
    val ok = col("n") >= 3 && sd > 0
    a.select(col("n"),
      round(mean, 6).as("mean"), round(sd, 6).as("sd"),
      round(when(ok, greatest(devHi, devLo) / when(sd > 0, sd)), 6)
        .as("g"),
      when(devHi >= devLo, col("__mx")).otherwise(col("__mn"))
        .as("extreme_value"))
  }

  /**
   * Kendall's τ-b rank correlation (Kendall 1945, the tie-adjusted
   * form) between two INTEGRAL columns — the concordance twin of
   * [[spearman]]: driven entirely by pair ORDER agreement, so it is
   * the standard choice for comparing two rankers/judges.
   *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂))
   * with C/D the concordant/discordant pair counts and n₁/n₂ the
   * tied-pair counts per column.
   *
   * Scale shape: aggregate to the (x, y) CELL grain, then count
   * concordance on the CELL-PAIR self-join — O(cells²) work on an
   * aggregate-grain table, never the n² row pairs (pre-quantize a
   * continuous domain, the [[mannWhitneyU]] advice — the fixture uses
   * hour × value-bucket). Pair counts accumulate as exact
   * decimal(38,0)/HUGEINT; τ is one double division. Output: one row
   * (n, n_cells, tau_b), 6 dp — null when either column is constant
   * (no untied pairs to order).
   */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val xs = col(xCol).cast("long")
    val ys = col(yCol).cast("long")
    val cells = df.filter(xs.isNotNull && ys.isNotNull)
      .groupBy(xs.as("__x"), ys.as("__y"))
      .agg(count(lit(1)).as("__c"))
    val pairs = cells.alias("l").join(cells.alias("r"),
      col("l.__x") < col("r.__x"))
    val cd = pairs.agg(
      coalesce(sum(when(col("r.__y") > col("l.__y"),
        col("l.__c").cast("decimal(38,0)") * col("r.__c"))),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__con"),
      coalesce(sum(when(col("r.__y") < col("l.__y"),
        col("l.__c").cast("decimal(38,0)") * col("r.__c"))),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__dis"))
    val tx = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__t"))
      .agg(coalesce(sum(col("__t").cast("decimal(38,0)") * (col("__t") - 1)),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__tx2"),
        coalesce(sum(col("__t")), lit(0L)).as("n"),
        count(lit(1)).as("__nx"))
    val ty = cells.groupBy(col("__y")).agg(sum(col("__c")).as("__t"))
      .agg(coalesce(sum(col("__t").cast("decimal(38,0)") * (col("__t") - 1)),
        lit(BigDecimal(0)).cast("decimal(38,0)")).as("__ty2"),
        count(lit(1)).as("__ny"))
    val nCells = cells.agg(count(lit(1)).as("n_cells"))
    val nD = col("n").cast("double")
    val n02 = nD * (nD - 1)                       // 2·n0
    val d1 = n02 - col("__tx2").cast("double")    // 2·(n0 − n1)
    val d2 = n02 - col("__ty2").cast("double")    // 2·(n0 − n2)
    val num = lit(2.0) *
      (col("__con").cast("double") - col("__dis").cast("double"))
    cd.crossJoin(tx).crossJoin(ty).crossJoin(nCells)
      .select(col("n"), col("n_cells"),
        round(when(d1 > 0 && d2 > 0, num / sqrt(d1 * d2)), 6).as("tau_b"))
  }

  /**
   * Probability-calibration report (the ECE formulation of Guo et al.
   * 2017, "On Calibration of Modern Neural Networks"): fixed-width
   * confidence bins over [0, 1] with, per bin, the mean predicted
   * probability (confidence), the empirical positive rate (accuracy),
   * the count and the |gap|; plus two scalars repeated on every row —
   * expected calibration error ECE = Σ_b n_b/N · |acc_b − conf_b| and
   * the Brier score mean((p − y)²). A constant column on the ≤nBins-row
   * bin table beats a second output table for what is one single-pass
   * report. Out-of-range probabilities clamp into the edge bins like
   * [[histogram]]; one hash aggregate on `bin` + a window over the tiny
   * bin table.
   */
  def calibrationReport(df: DataFrame, probCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    val p = col(probCol).cast("double")
    val binned = df
      .select(
        least(greatest(floor(p * nBins).cast("long"), lit(0L)),
          lit(nBins - 1L)).as("bin"),
        p.as("__p"), col(labelCol).cast("double").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("__p")).as("__conf"),
        avg(col("__y")).as("__acc"),
        sum((col("__p") - col("__y")) * (col("__p") - col("__y"))).as("__sqe"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    binned
      .withColumn("__N", sum(col("n")).over(all))
      .select(col("bin"), col("n"),
        round(col("__conf"), 6).as("confidence"),
        round(col("__acc"), 6).as("accuracy"),
        round(abs(col("__acc") - col("__conf")), 6).as("gap"),
        round(sum(col("n").cast("double") / col("__N") *
          abs(col("__acc") - col("__conf"))).over(all), 6).as("ece"),
        round(sum(col("__sqe")).over(all) / col("__N"), 6).as("brier"))
  }

  /**
   * Welch's unequal-variance t-test between the `valueCol` distributions
   * of two groups — the parametric complement of [[ksTest]] for "did the
   * curation change move the MEAN" questions (mean doc quality before vs
   * after a filter, mean session value across an A/B split). Reports the
   * t statistic and the Welch–Satterthwaite degrees of freedom; the
   * caller compares against their critical value (no p-value table in
   * SQL engines — dof + t IS the portable result).
   *
   * ONE hash-aggregate pass producing two (n, mean, var) triples — the
   * cheapest possible two-sample test at 100 TB (map-side combined, no
   * window, no sort). Sample variance (n−1 denominator) on both engines.
   * Output: one row (n_a, n_b, mean_a, mean_b, t_stat, dof).
   */
  def welchT(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val isa = col(groupCol) === groupA
    val g = df.filter(col(groupCol).isin(groupA, groupB) && v.isNotNull)
      .agg(
        sum(when(isa, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isa, 1L).otherwise(0L)).as("n_b"),
        avg(when(isa, v)).as("__ma"), avg(when(!isa, v)).as("__mb"),
        var_samp(when(isa, v)).as("__va"), var_samp(when(!isa, v)).as("__vb"))
    val sa = col("__va") / col("n_a")
    val sb = col("__vb") / col("n_b")
    g.select(col("n_a"), col("n_b"),
      round(col("__ma"), 6).as("mean_a"), round(col("__mb"), 6).as("mean_b"),
      round((col("__ma") - col("__mb")) / sqrt(sa + sb), 6).as("t_stat"),
      round(pow(sa + sb, 2) /
        (pow(sa, 2) / (col("n_a") - 1) + pow(sb, 2) / (col("n_b") - 1)), 6)
        .as("dof"))
  }

  /**
   * One-way ANOVA F-test across k groups — the k-sample generalization
   * of [[welchT]] (classic equal-variance decomposition): "does ANY of
   * these segments differ in mean", the screening question run before
   * k·(k−1)/2 pairwise tests (whose raw p-values [[bhFdr]] would then
   * correct). F = (SSB/(k−1)) / (SSW/(n−k)) from the between/within
   * sum-of-squares decomposition, plus the effect size η² = SSB/SST.
   * As with [[welchT]], dof + F is the portable result — the caller
   * compares against their critical value.
   *
   * Exactness: values are taken in integer units (`valueCol` must be
   * integral — pre-scale money to cents) so the per-group sufficient
   * sums (n, Σx, Σx²) are exact; the quadratic forms run in double
   * with both SS terms clamped at 0 (catastrophic cancellation on
   * near-identical group means — the [[graft.ops.Experiment]]
   * quadratic-form convention). Only the SCALE-FREE ratios are
   * emitted: the raw sums-of-squares sit at (cents)²·n magnitude,
   * where a k-term double-fold's order noise exceeds any decimal
   * rounding grid (sub-ulp pinning is meaningless) — while F and η²
   * carry that noise only RELATIVELY (~1e-16), far inside the 6-dp
   * round. Output: one row (n, k, dof1, dof2, f_stat, eta_sq), 6 dp;
   * null F when k < 2, n ≤ k, or SSW = 0 (a perfectly explained
   * decomposition has no within-noise to test against).
   *
   * Scale shape: ONE hash aggregate to group grain (map-side combined),
   * then one k-row aggregate and one-row arithmetic — no window, no
   * sort, no join.
   */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val g = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      // Σx² can pass a long at corpus scale (1e12 rows × 1e9-squared
      // cents) — cast to decimal BEFORE multiplying, exact like
      // DuckDB's HUGEINT aggregate (the gini convention)
      .agg(count(lit(1)).as("__ng"), sum(x).as("__sg"),
        sum(x.cast("decimal(38,0)") * x).as("__ssg"))
    val sgD = col("__sg").cast("double")
    val a = g.agg(
      coalesce(sum(col("__ng")), lit(0L)).as("n"),
      count(lit(1)).as("k"),
      sum(col("__sg")).as("__s"),
      sum(col("__ssg").cast("double") - sgD * sgD / col("__ng")).as("__ssw"),
      sum(sgD * sgD / col("__ng")).as("__sb0"))
    val ssb = greatest(col("__sb0") -
      col("__s").cast("double") * col("__s") / col("n"), lit(0.0))
    val ssw = greatest(col("__ssw"), lit(0.0))
    val ok = col("k") >= 2 && col("n") > col("k") && ssw > 0
    val f = (ssb / (col("k") - lit(1L))) / (ssw / (col("n") - col("k")))
    a.select(col("n"), col("k"),
      (col("k") - 1L).as("dof1"),
      (col("n") - col("k")).as("dof2"),
      round(when(ok, f), 6).as("f_stat"),
      round(when(ssb + ssw > 0, ssb / (ssb + ssw)), 6).as("eta_sq"))
  }

  /**
   * Two-sample Mann–Whitney U (Wilcoxon rank-sum) between the `valueCol`
   * distributions of two groups — the nonparametric "did the change shift
   * the distribution" test: rank-based, so outlier-immune where [[welchT]]
   * is not, and location-sensitive where [[ksTest]] spreads its power
   * across the whole CDF. Ties get average ranks (the midrank convention);
   * the normal approximation's z uses the standard tie-corrected variance
   * `σ² = nAnB/12 · ((n+1) − Σ(t³−t)/(n(n−1)))`. Also reports the
   * rank-biserial effect size `r = 2U_A/(nAnB) − 1` (−1..1, 0 = no shift).
   *
   * Shape mirrors [[ksTest]]: aggregate to DISTINCT values first (ties
   * collapse there), then ONE running-sum window over the |distinct|-row
   * value table computes midranks — a single-task scan over a statistic-
   * sized table, not the corpus; pre-quantize to a grid at 100 TB if the
   * value domain is genuinely continuous. Output: one row
   * (n_a, n_b, u_a, u_b, z, r_rb).
   */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"),
        (col(groupCol) === groupA).as("isa"))
      .groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val run = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    // midrank of a tie block starting after `prev` ranks with t members:
    // prev + (t+1)/2
    val ranked = g
      .withColumn("prev", coalesce(sum(col("t")).over(run), lit(0L)))
      .withColumn("midrank",
        col("prev").cast("double") + (col("t").cast("double") + 1) / 2)
    val agg = ranked.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast("double") * col("midrank")).as("__rs_a"),
      sum(pow(col("t").cast("double"), 3) - col("t")).as("__ties"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    val ua = col("__rs_a") - na * (na + 1) / 2
    val sigma2 = na * nb / 12 * ((n + 1) - col("__ties") / (n * (n - 1)))
    agg.select(col("n_a"), col("n_b"),
      round(ua, 6).as("u_a"),
      round(na * nb - ua, 6).as("u_b"),
      // sigma2 = 0 when EVERY pooled value ties (no cross-group
      // variability): z is undefined — null, not a divide-by-zero
      round(when(sigma2 > 0, (ua - na * nb / 2) / sqrt(sigma2)), 6).as("z"),
      round(ua * 2 / (na * nb) - 1, 6).as("r_rb"))
  }

  /**
   * Shared midrank machinery of the k-sample rank family
   * ([[kruskalWallis]], [[dunnPairwise]]): collapse to (value, group)
   * cell grain, compute DOUBLED midranks (2·midrank = 2·prev + t + 1 —
   * an exact INTEGER, so every group rank-sum is exact where the
   * double-midrank fold of a naive port would carry order noise), and
   * return the group-grain table (g, ng, rs2 = 2·ranksum as
   * decimal(38,0)) plus the value-grain tie table (v, t, prev).
   *
   * Same scale shape as [[mannWhitneyU]]: one hash aggregate to cell
   * grain, one running-sum window over the |distinct values|-row table
   * (statistic-sized — pre-quantize a continuous domain at 100 TB),
   * one key-grain join back.
   */
  private def doubledMidranks(df: DataFrame, valueCol: String,
      groupCol: String): (DataFrame, DataFrame) = {
    val d = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        col(groupCol).as("__g"))
      .groupBy(col("__v"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val vt = d.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
    val run = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vt.withColumn("__prev",
      coalesce(sum(col("__t")).over(run), lit(0L)))
    val perG = d
      .join(ranked.select(col("__v"),
        (lit(2) * col("__prev") + col("__t") + 1).as("__mr2")), Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__ng"),
        // exact doubled rank-sum: decimal(38,0), the anovaF HUGEINT
        // convention (2·N² per group passes a long at corpus scale)
        sum(col("__c").cast("decimal(38,0)") * col("__mr2")).as("__rs2"))
    (perG, ranked)
  }

  /**
   * Kruskal–Wallis H test (Kruskal & Wallis 1952) across k groups — the
   * k-sample generalization of [[mannWhitneyU]] and the nonparametric
   * twin of [[anovaF]]: "did ANY of these segments' value distributions
   * shift", rank-based so outlier-immune. Midrank ties, with the
   * standard tie correction C = 1 − Σ(t³−t)/(N³−N); reports the
   * tie-corrected H (≈ χ²(k−1) under H₀ — dof + H is the portable
   * result, the [[welchT]] convention) and the epsilon-squared effect
   * size ε² = (H − k + 1)/(N − k) (Kelley 1935; 0..1).
   *
   * Exactness: doubled midranks are exact integers
   * ([[doubledMidranks]]), so each group's rank-sum is EXACT on both
   * engines; only the scale-free H (relative fold noise ~1e-16, the
   * anovaF emit-the-ratio rule) passes through doubles. H is null when
   * k < 2 or every pooled value ties (C = 0 — no rank variability to
   * test); ε² additionally needs N > k.
   *
   * Scale shape: one cell-grain hash aggregate, one statistic-sized
   * running window, one key join, then k-row arithmetic — no row-grain
   * window, no sort of the corpus.
   */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val (perG, ranked) = doubledMidranks(df, valueCol, groupCol)
    val rs2d = col("__rs2").cast("double")
    val a = perG.agg(count(lit(1)).as("k"),
      coalesce(sum(col("__ng")), lit(0L)).as("n"),
      // q4 = 4·Σ R_g²/n_g — each term an exact-integer square divided
      // once; the k-term fold noise is RELATIVE (emit-ratio rule)
      sum(rs2d * rs2d / col("__ng")).as("__q4"))
    val ties = ranked.agg(
      coalesce(sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")), lit(BigDecimal(0)).cast("decimal(38,0)")).as("__tt"))
    val nD = col("n").cast("double")
    // null-safe denominators (the ivWald ANSI convention: a zero
    // divisor becomes NULL before the divide, never an error — n <= 1
    // inputs would otherwise throw on the unconditional C term)
    val nn1 = when(nD * (nD + 1) > 0, nD * (nD + 1))
    val h0 = lit(3.0) * col("__q4") / nn1 - lit(3.0) * (nD + 1)
    val cDen = nD * nD * nD - nD
    val c = lit(1.0) - col("__tt").cast("double") / when(cDen > 0, cDen)
    val ok = col("k") >= 2 && col("n") > 1 && c > 0
    val h = when(ok, h0 / c)
    a.crossJoin(ties).select(col("n"), col("k"),
      (col("k") - 1L).as("dof"),
      round(h, 6).as("h"),
      round(when(ok && col("n") > col("k"),
        (h - col("k") + 1) / (col("n") - col("k"))), 6).as("epsilon_sq"))
  }

  /**
   * Dunn's post-hoc pairwise test (Dunn 1964) — the follow-up to a
   * significant [[kruskalWallis]]: WHICH groups differ. For each group
   * pair, z = (r̄ᵢ − r̄ⱼ) / √(V·(1/nᵢ + 1/nⱼ)) with the tie-corrected
   * pooled rank variance V = (N(N+1) − Σ(t³−t)/(N−1))/12 — the raw
   * per-pair z-values whose k(k−1)/2 p-values [[bhFdr]] would then
   * correct (the anovaF screening → pairwise → FDR pipeline).
   *
   * Output: one row per pair (group_a < group_b lexically),
   * `(group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z)`, 6 dp;
   * z null when V ≤ 0 (all values tied). Mean ranks are exact-integer
   * doubled rank-sums divided once ([[doubledMidranks]]).
   *
   * Scale shape: the same two aggregates as [[kruskalWallis]]; the
   * pairwise step is a self-join of the K-ROW group table (aggregate
   * grain, broadcast-nested-loop by construction — never the corpus).
   */
  def dunnPairwise(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val (perG, ranked) = doubledMidranks(df, valueCol, groupCol)
    val ties = ranked.agg(
      coalesce(sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")), lit(BigDecimal(0)).cast("decimal(38,0)")).as("__tt"),
      coalesce(sum(col("__t")), lit(0L)).as("__n"))
    val mr = col("__rs2").cast("double") / (lit(2.0) * col("__ng"))
    val g = perG.select(col("__g"), col("__ng"), mr.as("__mr"))
    val nD = col("__n").cast("double")
    // null-safe tie denominator (the ivWald ANSI convention)
    val v = (nD * (nD + 1) - col("__tt").cast("double") /
      when(nD - 1 > 0, nD - 1)) / 12
    g.alias("l").join(g.alias("r"), col("l.__g") < col("r.__g"))
      .crossJoin(ties)
      .select(col("l.__g").as("group_a"), col("r.__g").as("group_b"),
        col("l.__ng").as("n_a"), col("r.__ng").as("n_b"),
        round(col("l.__mr"), 6).as("mean_rank_a"),
        round(col("r.__mr"), 6).as("mean_rank_b"),
        round(when(col("__n") > 1 && v > 0,
          (col("l.__mr") - col("r.__mr")) /
            sqrt(v * (lit(1.0) / col("l.__ng") + lit(1.0) / col("r.__ng")))),
          6).as("z"))
  }

  /**
   * Brown–Forsythe test (Brown & Forsythe 1974) — equality of VARIANCES
   * across k groups, the assumption check behind [[anovaF]]'s pooled
   * within-variance: a one-way ANOVA F on the absolute deviations from
   * each group's MEDIAN (the robust center — Levene 1960 used the mean;
   * the median form is the standard robust default). A significant F
   * says spreads differ, so pooled-variance tests overstate precision.
   *
   * Exactness: `valueCol` must be integral (pre-scale money to cents,
   * the [[anovaF]] contract). Deviations are DOUBLED so they stay
   * integral — each group median of integers is a half-integer
   * ((a+b)/2, dyadic-exact on both engines), so |2x − 2·med| is an
   * exact long and F is invariant under the common ×2 scaling. F/η²
   * emitted via [[anovaF]] (same clamps, same emit-the-ratio rule).
   *
   * Scale shape: one per-group exact `percentile` pass (swap in
   * `approx_percentile` at corpus scale — the [[sequenceLength]]
   * trade), a k-row broadcast join, then the anovaF aggregate.
   * Output: one row (n, k, dof1, dof2, f_stat, eta_sq).
   */
  def brownForsythe(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val base = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), x.as("__x"))
    val meds = base.groupBy(col("__g"))
      .agg((expr("percentile(__x, 0.5)") * 2).cast("long").as("__med2"))
    val dev = base.join(broadcast(meds), Seq("__g"))
      .select(col("__g"), abs(lit(2) * col("__x") - col("__med2")).as("__z2"))
    anovaF(dev, "__g", "__z2")
  }

  /**
   * Cochran's Q test (Cochran 1950) — k MATCHED binary outcomes per
   * subject: "does success rate differ across the k conditions when
   * every subject experiences all of them" — the within-subject twin
   * of [[chi2]] (which assumes independent groups), and the k-sample
   * generalization of McNemar. Uses the all-integer identity
   *   Q = (k−1)·(k·ΣGⱼ² − S²) / (k·S − ΣLᵢ²)
   * with Gⱼ = per-condition success totals, Lᵢ = per-subject success
   * totals, S = ΣG = ΣL — every term an exact integer (HUGEINT
   * squares), so Q is ONE double division on both engines.
   * Q ≈ χ²(k−1) under H₀ (dof + Q is the portable result, the
   * [[welchT]] convention). Subjects missing a condition count as
   * failure there (absent cells are zeros — they enter no sum, which
   * is exactly the 0 contribution); all-zero and all-success subjects
   * carry no discrimination and cancel in the denominator — Q is null
   * when NO subject has a mixed outcome (denominator 0) or k < 2.
   *
   * Scale shape: one hash aggregate to (subject, condition) cell grain
   * (success = MAX over duplicate observations), then two independent
   * aggregates (condition grain / subject grain) combined at one row —
   * no window, no join of row-grain tables.
   * Output: one row `(n_subjects, k, dof, q)` (6 dp).
   */
  def cochranQ(df: DataFrame, subjectCol: String, conditionCol: String,
      successCol: String): DataFrame = {
    val s = (col(successCol).cast("boolean") === true).cast("long")
    val cells = df
      .filter(col(subjectCol).isNotNull && col(conditionCol).isNotNull &&
        col(successCol).isNotNull)
      .groupBy(col(subjectCol).as("__i"), col(conditionCol).as("__j"))
      .agg(max(s).as("__s"))
    val byCond = cells.groupBy(col("__j")).agg(sum(col("__s")).as("__g"))
      .agg(count(lit(1)).as("k"),
        coalesce(sum(col("__g")), lit(0L)).as("__sum"),
        coalesce(sum(col("__g").cast("decimal(38,0)") * col("__g")),
          lit(BigDecimal(0)).cast("decimal(38,0)")).as("__gg"))
    val bySubj = cells.groupBy(col("__i")).agg(sum(col("__s")).as("__l"))
      .agg(count(lit(1)).as("n_subjects"),
        coalesce(sum(col("__l").cast("decimal(38,0)") * col("__l")),
          lit(BigDecimal(0)).cast("decimal(38,0)")).as("__ll"))
    val kD = col("k").cast("double")
    val sD = col("__sum").cast("double")
    val num = kD * col("__gg").cast("double") - sD * sD
    val den = kD * sD - col("__ll").cast("double")
    byCond.crossJoin(bySubj).select(col("n_subjects"), col("k"),
      (col("k") - 1L).as("dof"),
      round(when(col("k") >= 2 && den > 0, (kD - 1) * num / den), 6)
        .as("q"))
  }

  /**
   * First-order partial correlation — the [[spearman]]/Pearson family's
   * confounder control: corr(x, y) with `z` held fixed,
   *   r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))
   * — "is the x–y association real, or is z driving both". The raw
   * Pearson correlations come from EXACT integer sufficient sums
   * (`xCol`/`yCol`/`zCol` must be integral — pre-scale money to cents,
   * the [[anovaF]] contract; squares in decimal(38,0)/HUGEINT), so
   * each rᵢⱼ is a deterministic double on both engines and the partial
   * form adds only scale-free arithmetic.
   *
   * Output: one row `(n, r_xy, r_xz, r_yz, r_partial)` (6 dp) — a raw
   * correlation is null when its variance factor is 0 (constant
   * column); r_partial additionally null when either control
   * correlation is ±1 (z fully determines a variable — nothing left
   * to partial out).
   *
   * Scale shape: ONE hash-aggregate pass (10 sums, map-side combined),
   * then one-row arithmetic — no window, no join.
   */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val xs = col(xCol).cast("long")
    val ys = col(yCol).cast("long")
    val zs = col(zCol).cast("long")
    def dsq(c: Column) = c.cast("decimal(38,0)")
    val a = df.filter(xs.isNotNull && ys.isNotNull && zs.isNotNull)
      .select(xs.as("__x"), ys.as("__y"), zs.as("__z"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__z")).as("__sz"),
        sum(dsq(col("__x")) * col("__x")).as("__sxx"),
        sum(dsq(col("__y")) * col("__y")).as("__syy"),
        sum(dsq(col("__z")) * col("__z")).as("__szz"),
        sum(dsq(col("__x")) * col("__y")).as("__sxy"),
        sum(dsq(col("__x")) * col("__z")).as("__sxz"),
        sum(dsq(col("__y")) * col("__z")).as("__syz"))
    val nD = col("n").cast("double")
    def d(name: String) = col(name).cast("double")
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String): Column = {
      val num = nD * d(sab) - d(sa) * d(sb)
      val va = nD * d(saa) - d(sa) * d(sa)
      val vb = nD * d(sbb) - d(sb) * d(sb)
      when(va > 0 && vb > 0, num / sqrt(va * vb))
    }
    val rxy = r("__sxy", "__sx", "__sy", "__sxx", "__syy")
    val rxz = r("__sxz", "__sx", "__sz", "__sxx", "__szz")
    val ryz = r("__syz", "__sy", "__sz", "__syy", "__szz")
    val f1 = lit(1.0) - rxz * rxz
    val f2 = lit(1.0) - ryz * ryz
    a.select(col("n"),
      round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round(when(f1 > 0 && f2 > 0,
        (rxy - rxz * ryz) / sqrt(f1 * f2)), 6).as("r_partial"))
  }

  /**
   * Two-proportion z-test between the success RATES of two groups — the
   * conversion-rate A/B read-out completing [[welchT]] (means) and
   * [[mannWhitneyU]] (distributions): pooled-variance z on binary
   * outcomes, plus the absolute and relative lift the dashboard wants
   * next to it. `successCol` is graded truthy as `boolean OR value <> 0`
   * (so both flag and 0/1-count columns work); null outcomes are
   * excluded from their group's denominator.
   *
   * ONE hash-aggregate pass (two (n, successes) pairs — map-side
   * combined). z is null when a group is empty or the pooled rate is
   * degenerate (0 or 1: no variance to scale by). Output: one row
   * (n_a, n_b, p_a, p_b, lift_abs, lift_rel, z), rates 6 dp.
   */
  def proportionZTest(df: DataFrame, successCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val s = (col(successCol).cast("boolean") === true).cast("long")
    val isa = col(groupCol) === groupA
    val g = df.filter(col(groupCol).isin(groupA, groupB) &&
        col(successCol).isNotNull)
      .agg(
        sum(when(isa, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isa, 1L).otherwise(0L)).as("n_b"),
        sum(when(isa, s).otherwise(0L)).as("__sa"),
        sum(when(!isa, s).otherwise(0L)).as("__sb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    // every division sits behind a positivity guard (ANSI mode)
    val pa = when(col("n_a") > 0, col("__sa") / na)
    val pb = when(col("n_b") > 0, col("__sb") / nb)
    val pp = (col("__sa") + col("__sb")) / (na + nb)
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    g.select(col("n_a"), col("n_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(pa - pb, 6).as("lift_abs"),
      round(when(pb > 0, (pa - pb) / pb), 6).as("lift_rel"),
      round(when(col("n_a") > 0 && col("n_b") > 0,
        when(pp > 0 && pp < 1, (pa - pb) / se)), 6).as("z"))
  }

  /**
   * Mutual information between two categorical columns — the
   * dependence-strength readout that [[chi2]] only tests: MI =
   * Σ (nₓᵧ/N)·ln(N·nₓᵧ / (nₓ·nᵧ)) in nats, plus the normalized form
   * NMI = MI / √(H(X)·H(Y)) ∈ [0,1] — the feature-selection score
   * ("does this attribute predict the label") and the cluster-vs-label
   * agreement metric, comparable across tables where raw MI is not.
   *
   * Output: one row — n, n_a, n_b (distinct levels), mi, nmi (6 dp;
   * nmi null when either marginal entropy is 0, i.e. a constant column
   * carries no information to normalize by).
   *
   * Scale shape: ONE hash-aggregate to (a, b) cell grain; marginals and
   * entropies are window sums over the CELL table (|A|·|B| rows, not
   * data rows) — everything after the first aggregate is
   * contingency-sized, the [[chi2]] family shape.
   */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val all = Window.partitionBy()
    val wa = Window.partitionBy(col("__a"))
    val wb = Window.partitionBy(col("__b"))
    val n = sum(col("__c")).over(all).cast("double")
    val ca = sum(col("__c")).over(wa).cast("double")
    val cb = sum(col("__c")).over(wb).cast("double")
    val c = col("__c").cast("double")
    val scored = cells
      .withColumn("__mi_t", (c / n) * log(n * c / (ca * cb)))
      // marginal entropy terms, attributed once per marginal cell: the
      // (a, b) row with the first b per a carries a's -pa·ln(pa), etc.
      .withColumn("__ra", row_number().over(wa.orderBy(col("__b"))))
      .withColumn("__rb", row_number().over(wb.orderBy(col("__a"))))
      .withColumn("__ha_t", when(col("__ra") === 1, -(ca / n) * log(ca / n))
        .otherwise(lit(0.0)))
      .withColumn("__hb_t", when(col("__rb") === 1, -(cb / n) * log(cb / n))
        .otherwise(lit(0.0)))
    scored.agg(
      sum(col("__c")).as("n"),
      countDistinct(col("__a")).as("n_a"),
      countDistinct(col("__b")).as("n_b"),
      sum(col("__mi_t")).as("__mi"),
      sum(col("__ha_t")).as("__ha"),
      sum(col("__hb_t")).as("__hb"))
    .select(col("n"), col("n_a"), col("n_b"),
      round(col("__mi"), 6).as("mi"),
      round(when(col("__ha") > 0 && col("__hb") > 0,
        col("__mi") / sqrt(col("__ha") * col("__hb"))), 6).as("nmi"))
  }

  /**
   * Simpson's-paradox scan (Simpson 1951; Pearl's canonical
   * confounding example): the pooled OLS slope of y on x versus each
   * segment's own slope (slope = cov(x,y)/var(x), sample moments).
   * A segment whose slope SIGN disagrees with the pooled sign is the
   * aggregation trap — "discount correlates with revenue overall but
   * within every region it doesn't" — the first thing to scan for
   * before trusting any pooled correlation on segmented data.
   *
   * Output: one row per segment — n, slope, pooled_slope (repeated),
   * flipped (both slopes non-null/non-zero at 6 dp and opposite sign).
   * Scale shape: one aggregate pass to segment grain + a one-row pooled
   * fit broadcast back via crossJoin; nothing row-grain survives the
   * first aggregate.
   */
  def simpsonScan(df: DataFrame, segCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val rows = df.filter(x.isNotNull && y.isNotNull)
    val pooled = rows.agg(
      (covar_samp(x, y) / var_samp(x)).as("__ps"))
    val seg = rows.groupBy(col(segCol).as("segment"))
      .agg(count(lit(1)).as("n"),
        (covar_samp(x, y) / var_samp(x)).as("__s"))
    val sR = round(col("__s"), 6)
    val pR = round(col("__ps"), 6)
    seg.crossJoin(broadcast(pooled))
      .select(col("segment"), col("n"),
        sR.as("slope"), pR.as("pooled_slope"),
        (sR.isNotNull && pR.isNotNull && sR =!= 0 && pR =!= 0 &&
          (sR > 0) =!= (pR > 0)).as("flipped"))
  }

  /**
   * Winsorization at per-group exact percentiles: clamp `valueCol` into
   * [q(pLo), q(pHi)] of its OWN group — the outlier treatment that
   * keeps the row (unlike the B5 drop family) and so preserves counts
   * and joins; the standard pre-step before means/regressions on
   * heavy-tailed metrics. Exact type-7 interpolation (Spark
   * `percentile` = DuckDB `quantile_cont`), computed once per group and
   * joined back broadcast-sized.
   *
   * Output: keys ++ idCols, value, value_w (6 dp), clipped. Scale
   * shape: one aggregate to GROUP grain for the two quantiles (exact
   * percentile holds group values in memory per group — at 100 TB per-
   * group cardinality swap in approx_percentile, same plan otherwise),
   * one broadcast join back, narrow clamp projection.
   */
  def winsorize(df: DataFrame, keys: Seq[String], valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95,
      idCols: Seq[String] = Nil): DataFrame =
    winsorizeApply(df, winsorizeFit(df, keys, valueCol, pLo, pHi),
      keys, valueCol, idCols)

  /** The [[winsorize]] fit artifact: one (keys, lo, hi) row per group —
    * persist it and serve live data through [[winsorizeApply]] (the
    * seasonalProfile/seasonalScore pattern: fit offline, clamp with ZERO
    * state). */
  def winsorizeFit(df: DataFrame, keys: Seq[String], valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(expr(s"percentile($valueCol, $pLo)").as("lo"),
        expr(s"percentile($valueCol, $pHi)").as("hi"))
  }

  /**
   * The 100 TB production twin of [[winsorizeFit]]: same (keys, lo, hi)
   * artifact from `approx_percentile` (Greenwald–Khanna sketch, merge-
   * able partials, O(accuracy) heap per group) instead of exact
   * `percentile` (an imperative aggregate whose heap holds every
   * distinct value of the group — the one memory-unbounded fit shape
   * at raw-double grain). Guarantee: each bound sits within
   * ±1/`accuracy` of the requested QUANTILE RANK (plus the 1/n
   * discreteness of small groups); the returned bound is an observed
   * value, not an interpolation, so the clamp can only be off by the
   * local value gap at the tail cut — spec-bounded on the fixture.
   * Serve through the same [[winsorizeApply]]; keep the exact fit as
   * the oracle fixture.
   */
  def winsorizeFitApprox(df: DataFrame, keys: Seq[String],
      valueCol: String, pLo: Double = 0.05, pHi: Double = 0.95,
      accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    require(accuracy >= 100, "accuracy must be >= 100 (rank error 1/accuracy)")
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(expr(s"approx_percentile($valueCol, $pLo, $accuracy)")
          .cast("double").as("lo"),
        expr(s"approx_percentile($valueCol, $pHi, $accuracy)")
          .cast("double").as("hi"))
  }

  /**
   * Observed rank error of a [[winsorizeFitApprox]] bounds table — the
   * quantitative teeth behind the sketch's declared 1/accuracy
   * contract, emitted as DATA so a rows-only correctness check carries
   * a bounded signal instead of a bare row count. For each key and each
   * cut c at target quantile p, the cut occupies the empirical rank
   * band [F_lt(c), F_le(c)] (ties widen the band); the observed error
   * is the distance from p to that band:
   * max(0, p − F_le(c), F_lt(c) − p). One row out:
   * (max_rank_err 6 dp, declared_err, rank_err_ok). Scale shape: the
   * key-grain bounds broadcast onto ONE conditional-count pass over the
   * data; everything after is key-grain arithmetic.
   */
  def winsorizeApproxRankError(df: DataFrame, bounds: DataFrame,
      keys: Seq[String], valueCol: String, pLo: Double, pHi: Double,
      accuracy: Int): DataFrame = {
    val v = col(valueCol).cast("double")
    val b = bounds.select(keys.map(col) :+ col("lo").as("__lo") :+
      col("hi").as("__hi"): _*)
    def bandErr(p: Double, cut: Column) = {
      val fLt = sum(when(v < cut, 1L).otherwise(0L)).cast("double") /
        count(lit(1))
      val fLe = sum(when(v <= cut, 1L).otherwise(0L)).cast("double") /
        count(lit(1))
      greatest(lit(p) - fLe, fLt - lit(p), lit(0.0))
    }
    df.filter(v.isNotNull).join(broadcast(b), keys)
      .groupBy(keys.map(col): _*)
      .agg(bandErr(pLo, col("__lo")).as("__eLo"),
        bandErr(pHi, col("__hi")).as("__eHi"))
      .agg(round(max(greatest(col("__eLo"), col("__eHi"))), 6)
        .as("max_rank_err"))
      .select(col("max_rank_err"),
        lit(1.0 / accuracy).as("declared_err"),
        (col("max_rank_err") <= 1.0 / accuracy).as("rank_err_ok"))
  }

  /**
   * Benjamini–Hochberg FDR correction (Benjamini & Hochberg 1995) over
   * a battery of p-values — the multiple-testing closer for this stats
   * family: once [[welchT]]/[[chi2]]/[[mannWhitneyU]]/
   * [[graft.ops.Experiment.srmCheck]] run per segment×metric, dozens of
   * raw p < 0.05 "findings" are expected under the null; BH controls
   * the expected FALSE-DISCOVERY fraction instead. q_i =
   * min_{j ≥ i}(p_(j)·n/j) over the ascending-p ranks, reject when
   * q ≤ alpha (the step-up rule, in its monotone adjusted-q form).
   *
   * Determinism: rank breaks p-ties on `idCol`; q rounds to 6 dp before
   * the alpha comparison so the verdict cannot flip on a last-ulp
   * product difference. Output: idCol, p, rank, q (6 dp), reject.
   *
   * Scale shape: a battery is hypotheses-grain (thousands of rows at
   * most) — one global-order window pass (ascending for ranks, a
   * cumulative min taken from the tail) is the entire job.
   */
  def bhFdr(df: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val p = col(pCol).cast("double")
    val rows = df.filter(p.isNotNull)
    val up = Window.orderBy(p.asc, col(idCol).asc)
    val fromTail = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    rows
      .withColumn("rank", row_number().over(up).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__raw", p * col("__n") / col("rank"))
      .withColumn("q", round(least(min(col("__raw")).over(fromTail),
        lit(1.0)), 6))
      .select(col(idCol), round(p, 6).as("p"), col("rank"), col("q"),
        (col("q") <= alpha).as("reject"))
  }

  /**
   * Poisson-bootstrap confidence interval for the mean (Efron 1979 via
   * the Poisson approximation — Chamandy et al. 2012, "Estimating
   * uncertainty for massive data streams", the standard DISTRIBUTED
   * bootstrap: multinomial resampling needs global coordination,
   * Poisson(1) weights are independent per (row, resample) and keep
   * the expected resample size at n). Each of the `b` resamples weighs
   * every row by a seeded hash-derived Poisson(1) draw; the percentile
   * interval is the (⌈b·α/2⌉, ⌈b·(1−α/2)⌉) order statistics of the
   * resample means.
   *
   * Engine-portable determinism, end to end: the draw compares a
   * 16-bit md5 of (id, resample, seed) against INTEGER Poisson-CDF
   * thresholds (JVM literals — zero FP in the sampling), resample sums
   * run in exact micro-unit longs, each mean is one IEEE division of
   * exact integers, and the order statistics rank with a resample-id
   * tiebreak. Values expected at ≤ 6-dp grain (the micro-unit regime).
   *
   * Output: ONE row — `n_rows`, `b_resamples`, `mean` (half-up
   * integer-quantized), `ci_lo`/`ci_hi`, `se_boot` (6 dp). Scale
   * shape: a b× row explosion (narrow, codegen'd) into ONE hash
   * aggregate at resample grain, then b-sized window arithmetic — at
   * 100 TB budget b accordingly (b=20 answers most "is this moving"
   * questions) or pre-aggregate to a keyed grain first.
   */
  def bootstrapCi(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 100, seed: Long = 42L, alpha: Double = 0.05,
      fastHash: Boolean = false): DataFrame = {
    require(b >= 20, "b must be >= 20 (order statistics need tail mass)")
    require(alpha > 0 && alpha < 0.5, "alpha in (0, 0.5)")
    // Poisson(1) CDF at 16-bit grain: tk = floor(cdf(k) * 65536); a
    // draw v < t0 -> weight 0, t0 <= v < t1 -> 1, ..., else 7
    val thresholds = poissonThresholds16
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        round(col(valueCol).cast("double") * 1e6).cast("long").as("__xu"))
    // fastHash: the production draw (codegen'd xxhash64 — ~5x the md5
    // fixture's throughput; same Poisson thresholds, not SQL-replayable
    // — the minhashSigsFast contract)
    val v =
      if (fastHash)
        pmod(xxhash64(col("__id"), col("__b"), lit(seed)), lit(65536L))
      else conv(substring(md5(concat_ws("#", col("__id"),
        col("__b").cast("string"), lit(seed.toString))), 1, 4), 16, 10)
        .cast("long")
    val w = thresholds.zipWithIndex.tail.foldLeft(
      when(v < thresholds.head, lit(0L))) {
      case (acc, (t, k)) => acc.when(v < t, lit(k.toLong))
    }.otherwise(lit(thresholds.length.toLong))
    val means = rows
      .select(col("__id"), col("__xu"),
        explode(sequence(lit(1), lit(b))).as("__b"))
      .withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(sum(col("__w") * col("__xu")).as("__swx"),
        sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .select(col("__b"),
        (col("__swx").cast("double") / col("__sw") / 1e6).as("__m"))
    val ord = Window.orderBy(col("__m").asc, col("__b").asc)
    // order-statistic ranks derive from the SURVIVING resample count,
    // not the declared b: at tiny n a resample can draw all-zero
    // weights and be dropped (prob ~ e^-n per resample), and ranking
    // against b would then silently null ci_hi / shift coverage. The
    // count is a window over the means table — resample grain, <= b
    // rows, not a skew surface.
    val bn = count(lit(1)).over(Window.partitionBy())
    val kLo = greatest(lit(1L),
      ceil(col("__bn").cast("double") * lit(alpha) / lit(2.0) - lit(1e-9)))
    val kHi = least(col("__bn"),
      ceil(col("__bn").cast("double") * lit(1 - alpha / 2) - lit(1e-9)))
    val stats = means
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__bn", bn)
      .agg(count(lit(1)).as("b_resamples"),
        max(when(col("__rn") === kLo, col("__m"))).as("ci_lo"),
        max(when(col("__rn") === kHi, col("__m"))).as("ci_hi"),
        round(stddev_samp(col("__m")), 6).as("se_boot"))
    val base = rows.agg(count(lit(1)).as("n_rows"), sum(col("__xu")).as("__sx"))
    base.crossJoin(broadcast(stats))
      .select(col("n_rows"), col("b_resamples"),
        // half-away-from-zero via |s|: the plain (2s+n) div 2n form is
        // truncation-vs-floor divergent across engines for negative sums
        (expr("""CASE WHEN __sx >= 0
                 THEN (__sx * 2 + n_rows) div (2 * n_rows)
                 ELSE -(((-__sx) * 2 + n_rows) div (2 * n_rows))
                 END""").cast("double") / 1e6).as("mean"),
        col("ci_lo"), col("ci_hi"), col("se_boot"))
  }

  /** Poisson(1) CDF thresholds at 16-bit hash grain (weights 0..7),
    * shared with oracles so the draws replay in integer arithmetic. */
  def poissonThresholds16: Seq[Long] = {
    val e = math.exp(-1.0)
    var fact = 1.0
    val cdf = (0 to 6).map { k =>
      if (k > 0) fact *= k
      e / fact
    }.scanLeft(0.0)(_ + _).tail
    cdf.map(c => math.floor(c * 65536).toLong)
  }

  /**
   * Empirical-Bayes rate shrinkage (beta-binomial, method of moments —
   * the Robbins 1956 / Efron–Morris 1975 program in its standard
   * industrial form, e.g. the "batting average" construction): per
   * key, successes s and trials n give a raw rate s/n that is
   * WORTHLESS at small n (1/1 ≠ a 100% CTR). Fit a Beta(α, β) prior
   * across keys by moment matching on the raw rates — with m = mean
   * and v = var_samp of the per-key rates, k = m(1−m)/v − 1, α = m·k,
   * β = (1−m)·k — and serve the posterior mean
   * (s + α)/(n + α + β): small-n keys shrink toward the global mean,
   * high-n keys keep their own signal. THE fix for "sort by rate"
   * leaderboards dominated by tiny denominators.
   *
   * Prior guard: v must be in (0, m(1−m)) for a proper Beta (v ≥
   * m(1−m) means the rates are MORE dispersed than any Beta allows —
   * bimodal 0/1 rates; v = 0 means nothing to shrink). Outside it,
   * α/β/shrunk_rate emit null and the raw rates stand — a degenerate
   * prior must not silently rewrite every key.
   *
   * Output: per key — trials, successes, rate (6 dp), shrunk_rate
   * (6 dp), plus the shared alpha/beta (6 dp) repeated. The prior's
   * moment estimates are quantized at 12 dp before deriving α/β (the
   * avg/var fold order is the one unpinned double reduction here; the
   * quantization makes the whole serving table a pure IEEE function
   * of two pinned statistics, and the fine grid keeps k = m(1−m)/v
   * faithful even for tight-rate populations with v near 1e-7).
   * Scale shape:
   * ONE hash aggregate to key grain, a one-row prior fit broadcast
   * back — nothing unit-grain survives; the moment fit is a plain
   * avg/var over key-grain rows.
   */
  def ebShrinkRates(df: DataFrame, keys: Seq[String], successCol: String,
      trialCol: String): DataFrame =
    ebShrinkRatesImpl(df, keys, successCol, trialCol, correctedPrior = false)

  /**
   * [[ebShrinkRates]] with the SAMPLING-NOISE-CORRECTED moment prior.
   * The plain MoM fits the prior on raw per-key rates, whose variance
   * conflates the true prior variance with binomial sampling noise:
   * Var(r̂ᵢ) = v + (m(1−m) − v)/nᵢ, so across keys
   * v_raw ≈ v·(1 − H) + m(1−m)·H with H = avg(1/nᵢ) — the plain fit
   * OVERSTATES v and therefore UNDER-shrinks exactly the small-n keys
   * the operator exists for. The corrected estimate inverts that:
   * v = (v_raw − m(1−m)·H) / (1 − H), then the usual proper-Beta guard
   * (0 < v < m(1−m), plus H < 1 — all-singleton keys leave the
   * correction undefined). Outside the guard the prior nulls and raw
   * rates stand, the [[ebShrinkRates]] degenerate-prior contract.
   * H quantizes at the same 12-dp grid as m and v_raw (one more
   * unpinned avg fold; k = m(1−m)/v − 1 is hyperbolic downstream).
   */
  def ebShrinkRatesCorrected(df: DataFrame, keys: Seq[String],
      successCol: String, trialCol: String): DataFrame =
    ebShrinkRatesImpl(df, keys, successCol, trialCol, correctedPrior = true)

  private def ebShrinkRatesImpl(df: DataFrame, keys: Seq[String],
      successCol: String, trialCol: String,
      correctedPrior: Boolean): DataFrame = {
    val kc = keys.map(col)
    val byKey = df
      .filter(col(successCol).isNotNull && col(trialCol).isNotNull)
      .groupBy(kc: _*)
      .agg(sum(col(successCol).cast("long")).as("successes"),
        sum(col(trialCol).cast("long")).as("trials"))
      .filter(col("trials") > 0)
      .withColumn("__r",
        col("successes").cast("double") / col("trials").cast("double"))
    // the prior moments are the ONE unpinned double fold in this
    // operator (avg/var_samp partial-agg order differs across engines
    // and runs) — quantize them BEFORE deriving the prior, so
    // alpha/beta (and through them every key's shrunk rate) are a pure
    // IEEE function of two pinned statistics rather than of an
    // engine-specific last ulp. The grid is 12 dp, NOT the usual 6:
    // k = m(1−m)/v is hyperbolic in v, so a coarse grid would distort
    // the prior near its floor and null it entirely for tight-rate
    // populations (true var < 5e-7 — CTRs agreeing to 4 decimals —
    // is exactly where shrinkage matters most); at 1e-12 the grid
    // still absorbs the ~1e-16-relative fold noise with orders of
    // magnitude to spare, and only genuinely zero-variance rate sets
    // (identical to ~6 digits) null out
    val prior = byKey.agg(round(avg(col("__r")), 12).as("__m"),
        round(var_samp(col("__r")), 12).as("__vr"),
        round(avg(lit(1.0) / col("trials").cast("double")), 12).as("__h"))
      // corrected: invert v_raw = v(1−H) + m(1−m)H (Var(r̂) = v +
      // (m(1−m) − v)/n per key) — all three inputs are 12-dp-pinned,
      // so the correction is a pure IEEE function of pinned statistics
      .withColumn("__v", if (!correctedPrior) col("__vr") else
        when(col("__h") < 1.0,
          (col("__vr") - col("__m") * (lit(1.0) - col("__m")) * col("__h")) /
            (lit(1.0) - col("__h"))))
      .withColumn("__ok", col("__v") > 0 &&
        col("__v") < col("__m") * (lit(1.0) - col("__m")))
      .withColumn("__k", when(col("__ok"),
        col("__m") * (lit(1.0) - col("__m")) / col("__v") - lit(1.0)))
      .select(when(col("__ok"), col("__m") * col("__k")).as("__a"),
        when(col("__ok"),
          (lit(1.0) - col("__m")) * col("__k")).as("__b"))
    byKey.crossJoin(broadcast(prior))
      .select(kc ++ Seq(col("trials"), col("successes"),
        round(col("__r"), 6).as("rate"),
        round((col("successes").cast("double") + col("__a")) /
          (col("trials").cast("double") + col("__a") + col("__b")), 6)
          .as("shrunk_rate"),
        round(col("__a"), 6).as("alpha"),
        round(col("__b"), 6).as("beta")): _*)
  }

  /** Clamp rows against a [[winsorizeFit]] bounds table — a broadcast
    * join + narrow projection, append-mode legal on a stream. */
  def winsorizeApply(df: DataFrame, bounds: DataFrame, keys: Seq[String],
      valueCol: String, idCols: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol).cast("double")
    val qs = bounds.select(keys.map(col) ++
      Seq(col("lo").as("__lo"), col("hi").as("__hi")): _*)
    val clamped = least(greatest(v, col("__lo")), col("__hi"))
    df.filter(v.isNotNull).join(broadcast(qs), keys)
      .select((keys ++ idCols).distinct.map(col) ++ Seq(
        v.as("value"),
        round(clamped, 6).as("value_w"),
        (v < col("__lo") || v > col("__hi")).as("clipped")): _*)
  }
}
