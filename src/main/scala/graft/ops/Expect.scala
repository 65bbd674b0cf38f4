package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Declarative data-quality expectations (the Deequ/Great-Expectations
 * core, re-expressed Spark-first): a check list compiles into ONE
 * aggregate pass over the table — every metric is an aggregate
 * expression in the same `agg`, so a 50-check suite still costs exactly
 * one scan — and the wide metric row explodes into one verdict row per
 * check, driver-free. The report is the ingest gate a 100 TB pipeline
 * runs before promoting a snapshot: completeness, uniqueness, range,
 * set-membership and pattern conformance, plus referential integrity
 * and freshness as separate (join-shaped / max-shaped) checks sharing
 * the same verdict schema so one `unionByName` builds the full suite.
 *
 * Verdict schema: `check_name, target, value, threshold, op, passed`.
 * `op` records the comparison direction ("ge" for ratio floors, "le"
 * for orphan-ratio / age ceilings) so a reader of the unified report
 * can re-derive `passed` without knowing which function emitted the
 * row. Ratios are over the check's natural denominator (nulls excluded
 * for value checks, rows for completeness), rounded to 6 dp; a null
 * metric (empty input) fails closed (`passed = false`).
 */
object Expect {

  /** One declarative column expectation for [[report]]. */
  sealed trait Check
  /** Non-null ratio of `column` must reach `minRatio`. */
  final case class Complete(column: String, minRatio: Double = 1.0)
      extends Check
  /** Distinct ratio of the (all-non-null) key tuple must reach
    * `minRatio` — 1.0 asserts a primary key. */
  final case class Unique(columns: Seq[String], minRatio: Double = 1.0)
      extends Check
  /** Ratio of non-null values inside [lo, hi] must reach `minRatio`. */
  final case class InRange(column: String, lo: Double, hi: Double,
      minRatio: Double = 1.0) extends Check
  /** Ratio of non-null values matching `pattern` (substring semantics,
    * like `rlike` / `regexp_matches`) must reach `minRatio`. */
  final case class Matches(column: String, pattern: String,
      minRatio: Double = 1.0) extends Check
  /** Ratio of non-null values in `values` must reach `minRatio`. */
  final case class InSet(column: String, values: Seq[String],
      minRatio: Double = 1.0) extends Check

  private def ratio(num: Column, den: Column): Column =
    round(when(den === 0, lit(null)).otherwise(num.cast("double") / den), 6)

  /** (kind, target, metric aggregate, threshold) per check, for
    * [[report]]. */
  private[graft] def metricsFor(checks: Seq[Check],
      approxDistinct: Boolean): Seq[(String, String, Column, Double)] = {
    require(checks.nonEmpty, "need at least one check")
    val n = count(lit(1))
    checks.map {
      case Complete(c, t) =>
        ("complete", c, ratio(count(col(c)), n), t)
      case Unique(cs, t) =>
        require(cs.nonEmpty, "Unique needs at least one column")
        val allNonNull = cs.map(col(_).isNotNull).reduce(_ && _)
        val nd = if (approxDistinct)
          approx_count_distinct(struct(cs.map(col): _*))
        else countDistinct(col(cs.head), cs.tail.map(col): _*)
        ("unique", cs.mkString(","), ratio(nd, count(when(allNonNull, 1))), t)
      case InRange(c, lo, hi, t) =>
        val v = col(c).cast("double")
        ("in_range", c, ratio(count(when(v >= lo && v <= hi, 1)),
          count(col(c))), t)
      case Matches(c, p, t) =>
        ("matches", c, ratio(count(when(col(c).rlike(p), 1)),
          count(col(c))), t)
      case InSet(c, vs, t) =>
        ("in_set", c, ratio(count(when(col(c).isin(vs: _*), 1)),
          count(col(c))), t)
    }
  }

  /** The explode-to-verdicts tail of [[report]]: wide metric columns
    * `__v0..` become one graded row per check. */
  private[graft] def verdictRows(
      metrics: Seq[(String, String, Column, Double)]): Column = {
    val rows = metrics.zipWithIndex.map { case ((kind, target, _, th), i) =>
      struct(lit(kind).as("check_name"), lit(target).as("target"),
        col(s"__v$i").as("value"), lit(th).as("threshold"))
    }
    explode(array(rows: _*))
  }

  /**
   * Evaluate `checks` in one aggregate pass. Exact distinct counts for
   * [[Unique]] expand the scan grouping-sets-style; pass
   * `approxDistinct = true` to keep it single-stage with HLL sketches
   * at scale (threshold then grades the ~2% sketch estimate).
   */
  def report(df: DataFrame, checks: Seq[Check],
      approxDistinct: Boolean = false): DataFrame = {
    val metrics = metricsFor(checks, approxDistinct)
    val aggs = metrics.zipWithIndex.map { case ((_, _, m, _), i) =>
      m.as(s"__v$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(verdictRows(metrics).as("__r"))
      .select(col("__r.check_name"), col("__r.target"), col("__r.value"),
        col("__r.threshold"), lit("ge").as("op"),
        coalesce(col("__r.value") >= col("__r.threshold"), lit(false))
          .as("passed"))
  }

  /**
   * Referential-integrity check: the ratio of non-null `childCol` keys
   * with no match in `parent(parentCol)` must stay at or below
   * `maxOrphanRatio` (0.0 asserts a clean foreign key). Scale shape:
   * the child pre-aggregates to per-key counts (map-side combine — the
   * shuffle carries distinct keys, not rows), left-joins the distinct
   * parent key set (AQE broadcasts small dims), and one final agg folds
   * the verdict; the child fact table never shuffles at row grain.
   */
  def referential(child: DataFrame, childCol: String, parent: DataFrame,
      parentCol: String, maxOrphanRatio: Double = 0.0): DataFrame = {
    val ck = child.filter(col(childCol).isNotNull)
      .groupBy(col(childCol).as("__k")).agg(count(lit(1)).as("__n"))
    val pk = parent.filter(col(parentCol).isNotNull)
      .select(col(parentCol).as("__k")).distinct().withColumn("__p", lit(1))
    ck.join(pk, Seq("__k"), "left")
      .agg(sum("__n").as("__t"),
        sum(when(col("__p").isNull, col("__n")).otherwise(0L)).as("__o"))
      .select(lit("referential").as("check_name"),
        lit(s"$childCol->$parentCol").as("target"),
        ratio(coalesce(col("__o"), lit(0L)), coalesce(col("__t"), lit(0L)))
          .as("value"),
        lit(maxOrphanRatio).as("threshold"), lit("le").as("op"))
      .withColumn("passed",
        coalesce(col("value") <= col("threshold"), lit(false)))
  }

  /** The offending rows behind [[referential]]: child rows whose
    * non-null key has no parent (null keys are a completeness matter,
    * not an RI one). Anti join on the key — AQE broadcasts small
    * parents. */
  def orphans(child: DataFrame, childCol: String, parent: DataFrame,
      parentCol: String): DataFrame =
    child.filter(col(childCol).isNotNull)
      .join(parent.filter(col(parentCol).isNotNull)
          .select(col(parentCol).as(childCol)).distinct(),
        Seq(childCol), "left_anti")

  /**
   * Freshness check: seconds between the newest `tsCol` value and
   * `asOf` must stay at or below `maxAgeSec`. `asOf` is an explicit
   * timestamp literal (yyyy-MM-dd HH:mm:ss, session tz) — determinism
   * over convenience; a scheduler passes its logical run time. An empty
   * table has no newest row and fails closed.
   */
  def freshness(df: DataFrame, tsCol: String, asOf: String,
      maxAgeSec: Long): DataFrame =
    df.agg(max(col(tsCol).cast("timestamp")).as("__m"))
      .select(lit("freshness").as("check_name"), lit(tsCol).as("target"),
        ((unix_micros(to_timestamp(lit(asOf))) - unix_micros(col("__m")))
          .cast("double") / 1e6).as("value"),
        lit(maxAgeSec.toDouble).as("threshold"), lit("le").as("op"))
      .withColumn("passed",
        coalesce(col("value") <= col("threshold"), lit(false)))
}
