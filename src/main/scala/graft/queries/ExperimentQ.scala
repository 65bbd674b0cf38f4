package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Experiment
import Catalog.{md5Val16, md5Val16Sql}

/**
 * Experimentation / causal-inference readouts (`graft.ops.Experiment`)
 * over the events stream, each hash-checked against a DuckDB oracle.
 *
 * Shared fixture derivations (both engines, identically):
 *  - treatment arm: the md5 16-bit hash-split family (hv < 32768 →
 *    'treatment'), salted only by user_id — deterministic assignment;
 *  - pre/post boundary: 2024-01-16 00:00:00 splits the 30-day window;
 *  - per-user period metrics go through INTEGER CENTS (value is
 *    2-decimal): sums are exact longs, the mean is one double division —
 *    so the per-unit inputs to the estimators are bit-identical across
 *    engines and no unit can swap strata on a last-ulp mean.
 */
object ExperimentQ extends QueryGroup {

  private val Cut = "2024-01-16 00:00:00"

  /** Delta-method arm moments over a (cluster, arm, x, y) CTE — the
    * DuckDB replay of [[graft.ops.Experiment.deltaMethodRatio]]'s
    * exact op shapes (same parenthesization, same guards). */
  private def deltaSql(src: String): String =
    s"""dg AS (SELECT
       |    CAST(COALESCE(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS nt,
       |    CAST(COALESCE(SUM(CASE WHEN arm <> 'treatment' THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS nc,
       |    SUM(CASE WHEN arm = 'treatment' THEN x END) AS sxt,
       |    SUM(CASE WHEN arm = 'treatment' THEN y END) AS syt,
       |    SUM(CASE WHEN arm = 'treatment' THEN x * x END) AS sxxt,
       |    SUM(CASE WHEN arm = 'treatment' THEN x * y END) AS sxyt,
       |    SUM(CASE WHEN arm = 'treatment' THEN y * y END) AS syyt,
       |    SUM(CASE WHEN arm <> 'treatment' THEN x END) AS sxc,
       |    SUM(CASE WHEN arm <> 'treatment' THEN y END) AS syc,
       |    SUM(CASE WHEN arm <> 'treatment' THEN x * x END) AS sxxc,
       |    SUM(CASE WHEN arm <> 'treatment' THEN x * y END) AS sxyc,
       |    SUM(CASE WHEN arm <> 'treatment' THEN y * y END) AS syyc
       |  FROM $src),
       |dr AS (SELECT *,
       |    CASE WHEN syt <> 0 THEN sxt / syt END AS rt,
       |    CASE WHEN syc <> 0 THEN sxc / syc END AS rc,
       |    CAST(nt AS DOUBLE) AS ndt, CAST(nc AS DOUBLE) AS ndc
       |  FROM dg),
       |dv AS (SELECT *,
       |    CASE WHEN nt >= 2 AND syt <> 0 THEN
       |      GREATEST(((sxxt - sxt * sxt / ndt) / (ndt - 1.0)) -
       |       2.0 * rt * ((sxyt - sxt * syt / ndt) / (ndt - 1.0)) +
       |       rt * rt * ((syyt - syt * syt / ndt) / (ndt - 1.0)), 0.0) /
       |      (ndt * ((syt / ndt) * (syt / ndt))) END AS vt,
       |    CASE WHEN nc >= 2 AND syc <> 0 THEN
       |      GREATEST(((sxxc - sxc * sxc / ndc) / (ndc - 1.0)) -
       |       2.0 * rc * ((sxyc - sxc * syc / ndc) / (ndc - 1.0)) +
       |       rc * rc * ((syyc - syc * syc / ndc) / (ndc - 1.0)), 0.0) /
       |      (ndc * ((syc / ndc) * (syc / ndc))) END AS vv
       |  FROM dr),
       |ds AS (SELECT *, sqrt(vt + vv) AS se FROM dv)""".stripMargin

  private val deltaOutSql =
    """SELECT nt AS n_treat, nc AS n_ctrl,
      |  ROUND(rt, 6) AS r_treat, ROUND(rc, 6) AS r_ctrl,
      |  ROUND(rt - rc, 6) AS diff, ROUND(se, 6) AS se,
      |  ROUND(CASE WHEN se > 0 THEN (rt - rc) / se END, 6) AS z_stat
      |FROM ds""".stripMargin

  /** Per-user (arm, pre, post) units table: exact-cents period means. */
  private def units(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").filter(col("value").isNotNull)
      .withColumn("__cents", round(col("value") * 100).cast("long"))
      .withColumn("__pre", col("ts") < lit(Cut).cast("timestamp"))
    ev.groupBy("user_id")
      .agg(
        sum(when(col("__pre"), col("__cents"))).as("__pc"),
        sum(when(col("__pre"), 1L).otherwise(0L)).as("__pn"),
        sum(when(!col("__pre"), col("__cents"))).as("__oc"),
        sum(when(!col("__pre"), 1L).otherwise(0L)).as("__on"))
      .filter(col("__pn") > 0 && col("__on") > 0)
      .select(col("user_id"),
        when(md5Val16(col("user_id")) < 32768, lit("treatment"))
          .otherwise(lit("control")).as("arm"),
        (col("__pc") / lit(100.0) / col("__pn")).as("pre"),
        (col("__oc") / lit(100.0) / col("__on")).as("post"),
        col("__pc").as("score"))
  }

  /** The same units table, DuckDB side. */
  private val unitsSql =
    s"""c AS (SELECT user_id,
       |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
       |    ts < TIMESTAMP '$Cut' AS pre
       |  FROM events WHERE value IS NOT NULL),
       |u AS (SELECT user_id,
       |    CAST(SUM(CASE WHEN pre THEN cents END) AS BIGINT) AS pc,
       |    CAST(SUM(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS pn,
       |    CAST(SUM(CASE WHEN NOT pre THEN cents END) AS BIGINT) AS oc,
       |    CAST(SUM(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT) AS onn
       |  FROM c GROUP BY 1),
       |m AS (SELECT user_id,
       |    CASE WHEN ${md5Val16Sql("user_id")} < 32768
       |         THEN 'treatment' ELSE 'control' END AS arm,
       |    CAST(pc AS DOUBLE) / 100.0 / pn AS pre,
       |    CAST(oc AS DOUBLE) / 100.0 / onn AS post,
       |    pc AS score
       |  FROM u WHERE pn > 0 AND onn > 0)""".stripMargin

  def queries: Seq[QueryDef] = Seq(

    // CUPED variance reduction (Deng et al. 2013): pooled theta over the
    // per-user pre/post means, per-arm raw vs adjusted variance. The
    // one-row fit broadcasts back; nothing unit-grain shuffles twice.
    QueryDef("q_cuped",
      (s, dir) => Experiment.cuped(units(s, dir), "arm", "pre", "post"),
      Some(s"""WITH $unitsSql,
              |f AS (SELECT covar_samp(pre, post) AS cov,
              |    var_samp(pre) AS varx, AVG(pre) AS mx FROM m),
              |a AS (SELECT m.arm, m.post,
              |    m.post - (CASE WHEN f.varx > 0 THEN f.cov / f.varx
              |              ELSE 0.0 END) * (m.pre - f.mx) AS adj,
              |    CASE WHEN f.varx > 0 THEN f.cov / f.varx
              |         ELSE 0.0 END AS theta
              |  FROM m CROSS JOIN f)
              |SELECT arm, COUNT(*) AS n,
              |  ROUND(AVG(post), 6) AS mean_post,
              |  ROUND(AVG(adj), 6) AS mean_cuped,
              |  ROUND(var_samp(post), 6) AS var_post,
              |  ROUND(var_samp(adj), 6) AS var_cuped,
              |  ROUND(ANY_VALUE(theta), 6) AS theta,
              |  ROUND(1.0 - var_samp(adj) / var_samp(post), 6)
              |    AS var_reduction
              |FROM a GROUP BY arm""".stripMargin)),

    // Wald SPRT per event_type on the Bernoulli stream value > 50: the
    // cumulative LLR is pos·c1 + neg·c0 with the constants computed once
    // in the JVM and INJECTED into this SQL as 17-digit literals — both
    // engines multiply identical doubles, no libm ln in the data path.
    QueryDef("q_sprt", (s, dir) =>
      Experiment.sprt(Tables.load(s, dir, "events")
          .withColumn("__x", col("value") > 50.0),
        keys = Seq("event_type"), tsCol = "ts", outcomeCol = "__x",
        p0 = 0.4, p1 = 0.5, alpha = 0.05, beta = 0.05,
        tiebreak = Seq("event_id")), {
      val (c1, c0) = Experiment.sprtLlrConstants(0.4, 0.5)
      val (lo, hi) = Experiment.sprtBounds(0.05, 0.05)
      Some(s"""WITH o AS (SELECT event_type, ts, event_id,
              |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS x
              |  FROM events),
              |r AS (SELECT event_type,
              |    ROW_NUMBER() OVER w AS i,
              |    SUM(x) OVER (PARTITION BY event_type ORDER BY ts, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos
              |  FROM o
              |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
              |l AS (SELECT event_type, i,
              |    pos * CAST(${f"$c1%.17g"} AS DOUBLE) +
              |    (i - pos) * CAST(${f"$c0%.17g"} AS DOUBLE) AS llr
              |  FROM r),
              |d AS (SELECT event_type, i, llr,
              |    CASE WHEN llr >= CAST(${f"$hi%.17g"} AS DOUBLE) THEN 'accept_h1'
              |         WHEN llr <= CAST(${f"$lo%.17g"} AS DOUBLE) THEN 'accept_h0' END AS dec
              |  FROM l),
              |g AS (SELECT event_type, i, llr, dec,
              |    MAX(i) OVER (PARTITION BY event_type) AS n,
              |    MIN(CASE WHEN dec IS NOT NULL THEN i END)
              |      OVER (PARTITION BY event_type) AS hit
              |  FROM d)
              |SELECT event_type, CAST(n AS BIGINT) AS n_total,
              |  CAST(i AS BIGINT) AS n_decision,
              |  ROUND(llr, 6) AS llr,
              |  COALESCE(dec, 'continue') AS decision
              |FROM g WHERE i = COALESCE(hit, n)""".stripMargin)
    }),

    // 2x2 difference-in-differences at event grain: hash-assigned
    // "rollout" arm x the Jan-16 pre/post boundary; one conditional
    // aggregate pass, one-row output.
    QueryDef("q_diff_in_diff",
      (s, dir) => Experiment.diffInDiff(
        Tables.load(s, dir, "events")
          .withColumn("treated", md5Val16(col("user_id")) < 32768)
          .withColumn("post", col("ts") >= lit(Cut).cast("timestamp")),
        "treated", "post", "value"),
      Some(s"""WITH e AS (SELECT value,
              |    ${md5Val16Sql("user_id")} < 32768 AS t,
              |    ts >= TIMESTAMP '$Cut' AS p
              |  FROM events WHERE value IS NOT NULL),
              |g AS (SELECT
              |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
              |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
              |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre,
              |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post,
              |    AVG(CASE WHEN t AND NOT p THEN value END) AS mtp,
              |    AVG(CASE WHEN t AND p THEN value END) AS mto,
              |    AVG(CASE WHEN NOT t AND NOT p THEN value END) AS mcp,
              |    AVG(CASE WHEN NOT t AND p THEN value END) AS mco,
              |    var_samp(CASE WHEN t AND NOT p THEN value END) AS vtp,
              |    var_samp(CASE WHEN t AND p THEN value END) AS vto,
              |    var_samp(CASE WHEN NOT t AND NOT p THEN value END) AS vcp,
              |    var_samp(CASE WHEN NOT t AND p THEN value END) AS vco
              |  FROM e)
              |SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
              |  ROUND(mtp, 6) AS mean_treat_pre,
              |  ROUND(mto, 6) AS mean_treat_post,
              |  ROUND(mcp, 6) AS mean_ctrl_pre,
              |  ROUND(mco, 6) AS mean_ctrl_post,
              |  ROUND((mto - mtp) - (mco - mcp), 6) AS did,
              |  ROUND(sqrt(vto / n_treat_post + vtp / n_treat_pre +
              |             vco / n_ctrl_post + vcp / n_ctrl_pre), 6) AS se,
              |  ROUND(((mto - mtp) - (mco - mcp)) /
              |    sqrt(vto / n_treat_post + vtp / n_treat_pre +
              |         vco / n_ctrl_post + vcp / n_ctrl_pre), 6) AS t_stat
              |FROM g""".stripMargin)),

    // Sample-ratio-mismatch guardrail: observed md5-split arm counts vs
    // a DELIBERATELY skewed declared 55/45 allocation — the chi2 should
    // scream, which is the point: SRM must fire when config and
    // assignment disagree. Expected shares are injected as literals.
    QueryDef("q_srm", (s, dir) =>
      Experiment.srmCheck(Tables.load(s, dir, "events")
          .withColumn("arm",
            when(md5Val16(col("user_id")) < 32768, lit("treatment"))
              .otherwise(lit("control"))),
        "arm", Seq("treatment" -> 0.55, "control" -> 0.45)), {
      Some(s"""WITH a AS (SELECT CASE WHEN ${md5Val16Sql("user_id")} < 32768
              |    THEN 'treatment' ELSE 'control' END AS arm FROM events),
              |c AS (SELECT arm, COUNT(*) AS n_obs FROM a GROUP BY 1),
              |d AS (SELECT * FROM (VALUES
              |    ('treatment', CAST(${f"${0.55}%.17g"} AS DOUBLE)),
              |    ('control',   CAST(${f"${0.45}%.17g"} AS DOUBLE)))
              |  AS t(arm, share)),
              |j AS (SELECT d.arm, COALESCE(c.n_obs, 0) AS n_obs, d.share
              |  FROM d LEFT JOIN c ON d.arm = c.arm),
              |w AS (SELECT arm, CAST(n_obs AS BIGINT) AS n_obs, share,
              |    CAST(SUM(n_obs) OVER () AS DOUBLE) AS n FROM j),
              |e AS (SELECT arm, n_obs, n,
              |    CASE WHEN n > 0 THEN n * share END AS ex FROM w)
              |SELECT arm, n_obs, ROUND(ex, 6) AS expected,
              |  ROUND(CASE WHEN n > 0 THEN n_obs / n END, 6) AS ratio_obs,
              |  ROUND(SUM((n_obs - ex) * (n_obs - ex) / ex) OVER (), 6)
              |    AS chi2,
              |  CAST(1 AS BIGINT) AS dof
              |FROM e""".stripMargin)
    }),

    // Uplift/Qini curve over score deciles (score = exact pre-period
    // cents, best-first; outcome = "post-period mean rose"): cumulative
    // treated-vs-control contrast at each targeting depth.
    QueryDef("q_uplift_curve",
      (s, dir) => Experiment.upliftCurve(
        units(s, dir)
          .withColumn("treated", col("arm") === "treatment")
          .withColumn("y", when(col("post") > col("pre"), 1L).otherwise(0L)),
        scoreCol = "score", treatedCol = "treated", outcomeCol = "y",
        buckets = 10, tiebreak = Seq("user_id")),
      Some(s"""WITH $unitsSql,
              |b AS (SELECT user_id,
              |    arm = 'treatment' AS t,
              |    CASE WHEN post > pre THEN 1 ELSE 0 END AS y,
              |    CAST(NTILE(10) OVER (ORDER BY score DESC, user_id)
              |      AS BIGINT) AS bucket
              |  FROM m),
              |g AS (SELECT bucket,
              |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
              |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
              |    CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS st,
              |    CAST(SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS sc
              |  FROM b GROUP BY 1),
              |r AS (SELECT bucket,
              |    CAST(SUM(nt) OVER w AS BIGINT) AS n_treat_cum,
              |    CAST(SUM(nc) OVER w AS BIGINT) AS n_ctrl_cum,
              |    CAST(SUM(st) OVER w AS DOUBLE) AS rt,
              |    CAST(SUM(sc) OVER w AS DOUBLE) AS rc
              |  FROM g
              |  WINDOW w AS (ORDER BY bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              |SELECT bucket, n_treat_cum, n_ctrl_cum,
              |  ROUND(rt, 6) AS resp_treat_cum,
              |  ROUND(rc, 6) AS resp_ctrl_cum,
              |  ROUND(CASE WHEN n_treat_cum > 0 AND n_ctrl_cum > 0
              |    THEN rt / n_treat_cum - rc / n_ctrl_cum END, 6) AS uplift,
              |  ROUND(CASE WHEN n_ctrl_cum > 0
              |    THEN rt - rc * (CAST(n_treat_cum AS DOUBLE) / n_ctrl_cum)
              |    END, 6) AS qini
              |FROM r""".stripMargin)),

    // Propensity-stratified ATT (Rosenbaum-Rubin subclassification,
    // Cochran's 5 strata): score = exact pre-period cents (a long, so
    // the ntile order is bit-stable), outcome = post-period mean.
    QueryDef("q_att_strata",
      (s, dir) => Experiment.attStrata(
        units(s, dir).withColumn("treated", col("arm") === "treatment"),
        scoreCol = "score", treatedCol = "treated",
        outcomeCol = "post", strata = 5, tiebreak = Seq("user_id")),
      Some(s"""WITH $unitsSql,
              |b AS (SELECT user_id, arm, post,
              |    CAST(NTILE(5) OVER (ORDER BY score, user_id) AS BIGINT)
              |      AS stratum
              |  FROM m),
              |s AS (SELECT stratum,
              |    CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
              |    CAST(SUM(CASE WHEN arm <> 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
              |    AVG(CASE WHEN arm = 'treatment' THEN post END) AS mt,
              |    AVG(CASE WHEN arm <> 'treatment' THEN post END) AS mc
              |  FROM b GROUP BY 1)
              |SELECT stratum, n_treat, n_ctrl,
              |  ROUND(mt, 6) AS mean_treat,
              |  ROUND(mc, 6) AS mean_ctrl,
              |  ROUND(mt - mc, 6) AS diff,
              |  ROUND(
              |    SUM(CASE WHEN n_treat > 0 AND n_ctrl > 0
              |             THEN (mt - mc) * n_treat END) OVER () /
              |    SUM(CASE WHEN n_treat > 0 AND n_ctrl > 0
              |             THEN n_treat END) OVER (), 6) AS att
              |FROM s""".stripMargin)),

    // Hajek-normalized IPW ATE on the units fixture with a declared
    // hash-derived propensity in [0.25, 0.75] (clip bounds 0.05/0.95
    // never bind here -- the clip path is spec-pinned instead): one
    // conditional-aggregate pass, 6-dp readouts, Kish ESS per arm.
    QueryDef("q_ipw_ate", (s, dir) =>
      Experiment.ipwAte(units(s, dir)
          .withColumn("treated", col("arm") === "treatment")
          .withColumn("prop", lit(0.25) + lit(0.5) *
            md5Val16(concat(col("user_id").cast("string"), lit("#e")))
              .cast("double") / 65536.0),
        "treated", "post", "prop"),
      Some(s"""WITH $unitsSql,
              |pw AS (SELECT arm = 'treatment' AS t, post AS y,
              |    0.25 + 0.5 *
              |      (${md5Val16Sql("CAST(user_id AS VARCHAR) || '#e'")})
              |      / 65536.0 AS e0
              |  FROM m),
              |cw AS (SELECT t, y,
              |    LEAST(GREATEST(e0, 0.05), 0.95) AS e FROM pw),
              |gw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_treat,
              |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_ctrl,
              |    SUM(CASE WHEN t THEN 1.0 / e END) AS swt,
              |    SUM(CASE WHEN t THEN (1.0 / e) * y END) AS swty,
              |    SUM(CASE WHEN t THEN (1.0 / e) * (1.0 / e) END) AS swt2,
              |    SUM(CASE WHEN NOT t THEN 1.0 / (1.0 - e) END) AS swc,
              |    SUM(CASE WHEN NOT t THEN (1.0 / (1.0 - e)) * y END) AS swcy,
              |    SUM(CASE WHEN NOT t
              |        THEN (1.0 / (1.0 - e)) * (1.0 / (1.0 - e)) END)
              |      AS swc2
              |  FROM cw)
              |SELECT n, n_treat, n_ctrl,
              |  ROUND(swty / swt, 6) AS mu_treat,
              |  ROUND(swcy / swc, 6) AS mu_ctrl,
              |  ROUND(swty / swt - swcy / swc, 6) AS ate,
              |  ROUND(swt * swt / swt2, 6) AS ess_treat,
              |  ROUND(swc * swc / swc2, 6) AS ess_ctrl
              |FROM gw""".stripMargin)),

    // Doubly-robust AIPW ATE on the same units/propensity fixture, with
    // the naive "post ~ pre" outcome model declared per arm (mu1 =
    // 1.02*pre, mu0 = pre): influence-curve mean + se, one pass.
    QueryDef("q_aipw_ate", (s, dir) =>
      Experiment.aipwAte(units(s, dir)
          .withColumn("treated", col("arm") === "treatment")
          .withColumn("prop", lit(0.25) + lit(0.5) *
            md5Val16(concat(col("user_id").cast("string"), lit("#e")))
              .cast("double") / 65536.0)
          .withColumn("mu1", col("pre") * 1.02)
          .withColumn("mu0", col("pre")),
        "treated", "post", "prop", "mu1", "mu0"),
      Some(s"""WITH $unitsSql,
              |pw AS (SELECT arm = 'treatment' AS t, post AS y,
              |    pre * 1.02 AS m1, pre AS m0,
              |    0.25 + 0.5 *
              |      (${md5Val16Sql("CAST(user_id AS VARCHAR) || '#e'")})
              |      / 65536.0 AS e0
              |  FROM m),
              |cw AS (SELECT t, y, m1, m0,
              |    LEAST(GREATEST(e0, 0.05), 0.95) AS e FROM pw),
              |ps AS (SELECT
              |    (CASE WHEN t THEN (y - m1) / e ELSE 0.0 END) + m1 AS tt,
              |    (CASE WHEN NOT t THEN (y - m0) / (1.0 - e) ELSE 0.0 END)
              |      + m0 AS tc
              |  FROM cw),
              |gw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    AVG(tt) AS mt, AVG(tc) AS mc,
              |    AVG(tt - tc) AS a, stddev_samp(tt - tc) AS sd
              |  FROM ps)
              |SELECT n, ROUND(mt, 6) AS mu_treat, ROUND(mc, 6) AS mu_ctrl,
              |  ROUND(a, 6) AS ate,
              |  ROUND(sd / sqrt(n), 6) AS se,
              |  ROUND(CASE WHEN sd > 0 THEN a / (sd / sqrt(n)) END, 6)
              |    AS t_stat
              |FROM gw""".stripMargin)),

    // Experiment SIZING before a test runs: MDE and required n per arm
    // from the historical metric's per-arm variance, at alpha=0.05 /
    // power=0.8 for a 2% relative target. The Phi^-1 quantile sum is a
    // JVM Acklam literal injected into both plans (no libm data path).
    QueryDef("q_mde", (s, dir) =>
      Experiment.mdeReadout(Tables.load(s, dir, "events")
          .withColumn("arm",
            when(md5Val16(col("user_id")) < 32768, lit("treatment"))
              .otherwise(lit("control"))),
        "arm", "value", treatArm = "treatment", ctrlArm = "control",
        alpha = 0.05, power = 0.8, targetRelEffect = 0.02), {
      val zSum = Experiment.zQuantile(0.975) + Experiment.zQuantile(0.8)
      Some(s"""WITH a AS (SELECT
              |    ${md5Val16Sql("user_id")} < 32768 AS t,
              |    CAST(value AS DOUBLE) AS v
              |  FROM events WHERE value IS NOT NULL),
              |g AS (SELECT
              |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
              |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
              |    AVG(CASE WHEN t THEN v END) AS mt,
              |    AVG(CASE WHEN NOT t THEN v END) AS mc,
              |    var_samp(CASE WHEN t THEN v END) AS vt,
              |    var_samp(CASE WHEN NOT t THEN v END) AS vc
              |  FROM a),
              |z AS (SELECT *, CAST(${f"$zSum%.17g"} AS DOUBLE) AS zs,
              |    zs * sqrt(vt / nt + vc / nc) AS mde FROM g)
              |SELECT nt AS n_treat, nc AS n_ctrl,
              |  ROUND(mt, 6) AS mean_treat, ROUND(mc, 6) AS mean_ctrl,
              |  ROUND(vt, 6) AS var_treat, ROUND(vc, 6) AS var_ctrl,
              |  ROUND(CASE WHEN nt > 1 AND nc > 1 THEN mde END, 6) AS mde_abs,
              |  ROUND(CASE WHEN nt > 1 AND nc > 1 AND mc <> 0
              |    THEN mde / mc END, 6) AS mde_rel,
              |  CASE WHEN mc <> 0 AND nt > 1 AND nc > 1
              |    THEN CAST(ceil(zs * zs * (vt + vc) /
              |      ((0.02 * mc) * (0.02 * mc))) AS BIGINT)
              |    END AS n_required_per_arm
              |FROM z""".stripMargin)
    }),

    // Off-policy REPLAY evaluation (Li et al. WSDM 2011): greedy policy
    // fitted on the pre-period per (user segment, pseudo-random logged
    // arm), replayed on the post-period — the matched rows' mean reward
    // estimates the policy's online value under uniform logging. Arm =
    // md5(event_id) % 4 so logging really is arm-uniform; argmax ranks
    // on an IEEE double ratio of exact micro-sums (engine-identical).
    QueryDef("q_replay_eval", (s, dir) => {
      val cut = lit(Cut).cast("timestamp")
      val l = Tables.load(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("ctx", col("user_id") % 10)
        .withColumn("armL", md5Val16(col("event_id")) % 4)
      val policy = Experiment.greedyPolicy(
        l.filter(col("ts") < cut), "ctx", "armL", "value")
      Experiment.replayEval(
        l.filter(col("ts") >= cut), "ctx", "armL", "value", policy)
    },
      Some(s"""WITH l AS (SELECT user_id % 10 AS ctx,
              |    ${md5Val16Sql("event_id")} % 4 AS arm,
              |    CAST(value AS DOUBLE) AS r, ts
              |  FROM events WHERE value IS NOT NULL),
              |f AS (SELECT ctx, arm,
              |    CAST(SUM(CAST(ROUND(r * 1000000) AS BIGINT)) AS BIGINT) AS s,
              |    COUNT(*) AS n
              |  FROM l WHERE ts < TIMESTAMP '$Cut' GROUP BY 1, 2),
              |pol AS (SELECT ctx, arm FROM (SELECT ctx, arm,
              |    ROW_NUMBER() OVER (PARTITION BY ctx
              |      ORDER BY CAST(s AS DOUBLE) / n DESC, s DESC, arm ASC)
              |      AS rk FROM f) WHERE rk = 1),
              |e AS (SELECT CAST(ROUND(l.r * 1000000) AS BIGINT) AS ru,
              |    (pol.arm IS NOT NULL AND l.arm = pol.arm) AS hit
              |  FROM l LEFT JOIN pol ON pol.ctx = l.ctx
              |  WHERE l.ts >= TIMESTAMP '$Cut'),
              |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nl,
              |    CAST(COALESCE(SUM(CASE WHEN hit THEN 1 ELSE 0 END), 0)
              |      AS BIGINT) AS nm,
              |    SUM(CASE WHEN hit THEN ru END) AS sp, SUM(ru) AS sl
              |  FROM e)
              |SELECT nl AS n_logged, nm AS n_matched,
              |  CAST((nm * 2000000 + nl) // (2 * nl) AS DOUBLE) / 1e6
              |    AS match_rate,
              |  CASE WHEN nm > 0
              |    THEN CAST(CASE WHEN sp >= 0
              |        THEN (sp * 2 + nm) // (2 * nm)
              |        ELSE -(((-sp) * 2 + nm) // (2 * nm)) END AS DOUBLE)
              |      / 1e6
              |    END AS reward_policy,
              |  CAST(CASE WHEN sl >= 0 THEN (sl * 2 + nl) // (2 * nl)
              |       ELSE -(((-sl) * 2 + nl) // (2 * nl)) END AS DOUBLE)
              |    / 1e6 AS reward_logged
              |FROM g""".stripMargin)),

    // DOUBLY-ROBUST off-policy evaluation (Dudik, Langford & Li 2011)
    // on the replay fixture, with non-uniform DECLARED logging
    // propensities (hash-derived in [0.1, 0.5]) and the pre-period
    // per-(ctx, arm) mean-reward table as the declared reward model:
    // psi = mu(ctx, pi(ctx)) + 1{match} (r - mu(ctx, arm)) / p. The
    // model mean is an IEEE division of exact micro-sums, so both
    // engines replay psi operation-for-operation; readouts at 6 dp
    // (the aipw convention).
    QueryDef("q_dr_replay", (s, dir) => {
      val cut = lit(Cut).cast("timestamp")
      val l = Tables.load(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("ctx", col("user_id") % 10)
        .withColumn("armL", md5Val16(col("event_id")) % 4)
        .withColumn("prop", lit(0.1) + lit(0.4) *
          md5Val16(concat(col("event_id").cast("string"), lit("#p")))
            .cast("double") / 65536.0)
      val pre = l.filter(col("ts") < cut)
      val policy = Experiment.greedyPolicy(pre, "ctx", "armL", "value")
      val model = pre
        .groupBy(col("ctx"), col("armL").as("arm"))
        .agg(sum(round(col("value") * 1e6).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .select(col("ctx"), col("arm"),
          (col("__s").cast("double") / col("__n") / 1e6).as("mu"))
      Experiment.drReplay(l.filter(col("ts") >= cut), "ctx", "armL",
        "value", "prop", policy, model)
    },
      Some(s"""WITH l AS (SELECT user_id % 10 AS ctx,
              |    ${md5Val16Sql("event_id")} % 4 AS arm,
              |    CAST(value AS DOUBLE) AS r, ts,
              |    CAST(0.1 AS DOUBLE) + CAST(0.4 AS DOUBLE) *
              |      (${md5Val16Sql("CAST(event_id AS VARCHAR) || '#p'")})
              |      / 65536.0 AS p0
              |  FROM events WHERE value IS NOT NULL),
              |f AS (SELECT ctx, arm,
              |    CAST(SUM(CAST(ROUND(r * 1000000) AS BIGINT)) AS BIGINT) AS s,
              |    COUNT(*) AS n
              |  FROM l WHERE ts < TIMESTAMP '$Cut' GROUP BY 1, 2),
              |mdl AS (SELECT ctx, arm, CAST(s AS DOUBLE) / n / 1e6 AS mu
              |  FROM f),
              |pol AS (SELECT ctx, arm FROM (SELECT ctx, arm,
              |    ROW_NUMBER() OVER (PARTITION BY ctx
              |      ORDER BY CAST(s AS DOUBLE) / n DESC, s DESC, arm ASC)
              |      AS rk FROM f) WHERE rk = 1),
              |e AS (SELECT l.r,
              |    GREATEST(l.p0, CAST(0.01 AS DOUBLE)) AS p,
              |    (l.arm = pol.arm) AS hit,
              |    COALESCE(m1.mu, 0.0) AS mp, COALESCE(m2.mu, 0.0) AS ma
              |  FROM l JOIN pol ON pol.ctx = l.ctx
              |  LEFT JOIN mdl m1 ON m1.ctx = l.ctx AND m1.arm = pol.arm
              |  LEFT JOIN mdl m2 ON m2.ctx = l.ctx AND m2.arm = l.arm
              |  WHERE l.ts >= TIMESTAMP '$Cut'),
              |ps AS (SELECT hit, mp,
              |    mp + (CASE WHEN hit THEN (r - ma) / p ELSE 0.0 END) AS psi
              |  FROM e),
              |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nl,
              |    CAST(COALESCE(SUM(CASE WHEN hit THEN 1 ELSE 0 END), 0)
              |      AS BIGINT) AS nm,
              |    AVG(mp) AS vm, AVG(psi) AS vd, stddev_samp(psi) AS sd
              |  FROM ps)
              |SELECT nl AS n_logged, nm AS n_matched,
              |  CAST((nm * 2000000 + nl) // (2 * nl) AS DOUBLE) / 1e6
              |    AS match_rate,
              |  ROUND(vm, 6) AS value_model,
              |  ROUND(vd, 6) AS value_dr,
              |  ROUND(sd / sqrt(nl), 6) AS se
              |FROM g""".stripMargin)),

    // The fit->evaluate WORKFLOW under a hash split (the q_dr_replay
    // fixture splits on time; this one splits on a salted event hash,
    // the cross-validation shape a policy study actually runs): greedy
    // policy + reward model fitted on the even half, DR-evaluated on
    // the odd half, the same pinned micro-unit quantization end to end.
    QueryDef("q_dr_replay_e2e", (s, dir) => {
      val half = md5Val16(concat(col("event_id").cast("string"),
        lit("#s"))) < 32768
      val l = Tables.load(s, dir, "events")
        .filter(col("value").isNotNull)
        .withColumn("ctx", col("user_id") % 10)
        .withColumn("armL", md5Val16(col("event_id")) % 4)
        .withColumn("prop", lit(0.1) + lit(0.4) *
          md5Val16(concat(col("event_id").cast("string"), lit("#p")))
            .cast("double") / 65536.0)
      val fit = l.filter(half)
      val policy = Experiment.greedyPolicy(fit, "ctx", "armL", "value")
      val model = fit
        .groupBy(col("ctx"), col("armL").as("arm"))
        .agg(sum(round(col("value") * 1e6).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .select(col("ctx"), col("arm"),
          (col("__s").cast("double") / col("__n") / 1e6).as("mu"))
      Experiment.drReplay(l.filter(!half), "ctx", "armL",
        "value", "prop", policy, model)
    },
      Some(s"""WITH l AS (SELECT user_id % 10 AS ctx,
              |    ${md5Val16Sql("event_id")} % 4 AS arm,
              |    CAST(value AS DOUBLE) AS r,
              |    (${md5Val16Sql("CAST(event_id AS VARCHAR) || '#s'")})
              |      < 32768 AS half,
              |    CAST(0.1 AS DOUBLE) + CAST(0.4 AS DOUBLE) *
              |      (${md5Val16Sql("CAST(event_id AS VARCHAR) || '#p'")})
              |      / 65536.0 AS p0
              |  FROM events WHERE value IS NOT NULL),
              |f AS (SELECT ctx, arm,
              |    CAST(SUM(CAST(ROUND(r * 1000000) AS BIGINT)) AS BIGINT) AS s,
              |    COUNT(*) AS n
              |  FROM l WHERE half GROUP BY 1, 2),
              |mdl AS (SELECT ctx, arm, CAST(s AS DOUBLE) / n / 1e6 AS mu
              |  FROM f),
              |pol AS (SELECT ctx, arm FROM (SELECT ctx, arm,
              |    ROW_NUMBER() OVER (PARTITION BY ctx
              |      ORDER BY CAST(s AS DOUBLE) / n DESC, s DESC, arm ASC)
              |      AS rk FROM f) WHERE rk = 1),
              |e AS (SELECT l.r,
              |    GREATEST(l.p0, CAST(0.01 AS DOUBLE)) AS p,
              |    (l.arm = pol.arm) AS hit,
              |    COALESCE(m1.mu, 0.0) AS mp, COALESCE(m2.mu, 0.0) AS ma
              |  FROM l JOIN pol ON pol.ctx = l.ctx
              |  LEFT JOIN mdl m1 ON m1.ctx = l.ctx AND m1.arm = pol.arm
              |  LEFT JOIN mdl m2 ON m2.ctx = l.ctx AND m2.arm = l.arm
              |  WHERE NOT l.half),
              |ps AS (SELECT hit, mp,
              |    mp + (CASE WHEN hit THEN (r - ma) / p ELSE 0.0 END) AS psi
              |  FROM e),
              |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nl,
              |    CAST(COALESCE(SUM(CASE WHEN hit THEN 1 ELSE 0 END), 0)
              |      AS BIGINT) AS nm,
              |    AVG(mp) AS vm, AVG(psi) AS vd, stddev_samp(psi) AS sd
              |  FROM ps)
              |SELECT nl AS n_logged, nm AS n_matched,
              |  CAST((nm * 2000000 + nl) // (2 * nl) AS DOUBLE) / 1e6
              |    AS match_rate,
              |  ROUND(vm, 6) AS value_model,
              |  ROUND(vd, 6) AS value_dr,
              |  ROUND(sd / sqrt(nl), 6) AS se
              |FROM g""".stripMargin)),

    // Mixture-SPRT / always-valid p-value per event_type (Johari et
    // al. 2017): the sequential monitor that stays valid under
    // peeking — N(0, tau^2)-mixed likelihood ratio on value vs the
    // declared null mean, reject when the running max of ln(Lambda)
    // crosses ln(1/alpha). Constants (sigma^2=841, tau^2=25, mu0=50,
    // the bound) are JVM literals injected into BOTH plans; the
    // verdict compares 6-dp-rounded ln(Lambda) on both engines.
    QueryDef("q_msprt", (s, dir) =>
      Experiment.msprt(Tables.load(s, dir, "events"),
        keys = Seq("event_type"), tsCol = "ts", valueCol = "value",
        mu0 = 50.0, sigma = 29.0, tau = 5.0, alpha = 0.05,
        tiebreak = Seq("event_id")), {
      val bound = math.log(1.0 / 0.05)
      Some(s"""WITH o AS (SELECT event_type, ts, event_id,
              |    CAST(value AS DOUBLE) AS x
              |  FROM events WHERE value IS NOT NULL),
              |r AS (SELECT event_type,
              |    ROW_NUMBER() OVER w AS i,
              |    SUM(x - CAST(50.0 AS DOUBLE)) OVER (
              |      PARTITION BY event_type ORDER BY ts, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
              |  FROM o
              |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
              |l AS (SELECT event_type, i,
              |    0.5 * ln(CAST(841.0 AS DOUBLE) / (841.0 + i * 25.0)) +
              |    (25.0 * s * s) / (2.0 * 841.0 * (841.0 + i * 25.0)) AS lnl
              |  FROM r),
              |mm AS (SELECT event_type, i,
              |    MAX(lnl) OVER (PARTITION BY event_type ORDER BY i
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
              |  FROM l),
              |d AS (SELECT *, CASE WHEN ROUND(mx, 6) >=
              |      CAST(${f"$bound%.17g"} AS DOUBLE) THEN 'reject' END
              |      AS dec
              |  FROM mm),
              |g AS (SELECT *,
              |    MAX(i) OVER (PARTITION BY event_type) AS n,
              |    MIN(CASE WHEN dec IS NOT NULL THEN i END)
              |      OVER (PARTITION BY event_type) AS hit
              |  FROM d)
              |SELECT event_type, CAST(n AS BIGINT) AS n_total,
              |  CAST(i AS BIGINT) AS n_decision,
              |  ROUND(mx, 6) AS log_lambda,
              |  ROUND(LEAST(1.0, exp(-mx)), 6) AS p_always_valid,
              |  COALESCE(dec, 'continue') AS decision
              |FROM g WHERE i = COALESCE(hit, n)""".stripMargin)
    }),

    // Sequential SRM guardrail: the mSPRT composed over the per-arm
    // assignment indicator (mu0 = declared share, sigma^2 = q(1-q)),
    // so a mid-ramp assignment bug alarms IN-FLIGHT instead of at the
    // fixed-horizon srmCheck readout. Fixture: hash-assignment whose
    // treatment threshold silently drops from 50% to ~35% at the
    // mid-month cut — the monitor must cross on both arms at a pinned
    // n. tau = 0.5 so tau^2 = 0.25 is IEEE-exact; S_n is an integer
    // count minus count x literal, bit-identical across engines.
    QueryDef("q_srm_sequential", (s, dir) =>
      Experiment.srmSequential(Tables.load(s, dir, "events")
          .withColumn("arm_obs",
            when(md5Val16(col("event_id")) <
                when(col("ts") < lit(Cut).cast("timestamp"), 32768L)
                  .otherwise(22938L),
              lit("treatment")).otherwise(lit("control"))),
        "arm_obs", "ts", Seq("treatment" -> 0.5, "control" -> 0.5),
        tau = 0.5, alpha = 0.05, tiebreak = Seq("event_id")), {
      val bound = math.log(1.0 / 0.05)
      Some(s"""WITH o AS (SELECT ts, event_id,
              |    CASE WHEN ${md5Val16Sql("event_id")} <
              |        (CASE WHEN ts < TIMESTAMP '$Cut'
              |         THEN 32768 ELSE 22938 END)
              |      THEN 'treatment' ELSE 'control' END AS arm_obs
              |  FROM events),
              |dd (arm, share, s2) AS (VALUES
              |  ('treatment', CAST(0.5 AS DOUBLE), CAST(0.25 AS DOUBLE)),
              |  ('control', CAST(0.5 AS DOUBLE), CAST(0.25 AS DOUBLE))),
              |r AS (SELECT dd.arm, dd.share, dd.s2,
              |    ROW_NUMBER() OVER w AS i,
              |    SUM(CASE WHEN o.arm_obs = dd.arm THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY dd.arm ORDER BY o.ts, o.event_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS pos
              |  FROM o CROSS JOIN dd
              |  WINDOW w AS (PARTITION BY dd.arm ORDER BY o.ts, o.event_id)),
              |l AS (SELECT arm, share, i,
              |    0.5 * ln(s2 / (s2 + i * CAST(0.25 AS DOUBLE))) +
              |    (CAST(0.25 AS DOUBLE) * (pos - i * share) *
              |      (pos - i * share)) /
              |      (2.0 * s2 * (s2 + i * CAST(0.25 AS DOUBLE))) AS lnl
              |  FROM r),
              |mm AS (SELECT arm, share, i,
              |    MAX(lnl) OVER (PARTITION BY arm ORDER BY i
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
              |  FROM l),
              |d2 AS (SELECT *, CASE WHEN ROUND(mx, 6) >=
              |      CAST(${f"$bound%.17g"} AS DOUBLE) THEN 'reject' END
              |      AS dec
              |  FROM mm),
              |g AS (SELECT *,
              |    MAX(i) OVER (PARTITION BY arm) AS n,
              |    MIN(CASE WHEN dec IS NOT NULL THEN i END)
              |      OVER (PARTITION BY arm) AS hit
              |  FROM d2)
              |SELECT arm, ROUND(share, 6) AS share,
              |  CAST(n AS BIGINT) AS n_total,
              |  CAST(i AS BIGINT) AS n_decision,
              |  ROUND(mx, 6) AS log_lambda,
              |  ROUND(LEAST(1.0, exp(-mx)), 6) AS p_always_valid,
              |  COALESCE(dec, 'continue') AS decision
              |FROM g WHERE i = COALESCE(hit, n)""".stripMargin)
    }),

    // Delta-method ratio-metric test (Deng et al. 2018): revenue per
    // event under USER-level randomization — events within a user are
    // correlated, so the variance comes from per-user (cents, events)
    // sums, not from event rows. Cluster sums are exact integers in
    // doubles; arm-level moments round at 6 dp.
    QueryDef("q_ratio_delta", (s, dir) =>
      Experiment.deltaMethodRatio(Tables.load(s, dir, "events")
          .filter(col("value").isNotNull)
          .withColumn("arm",
            when(md5Val16(col("user_id")) < 32768, lit("treatment"))
              .otherwise(lit("control")))
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("one", lit(1L)),
        "arm", Seq("user_id"), "cents", "one", "treatment", "control"),
      Some(s"""WITH e AS (SELECT user_id,
              |    CASE WHEN ${md5Val16Sql("user_id")} < 32768
              |      THEN 'treatment' ELSE 'control' END AS arm,
              |    CAST(ROUND(value * 100) AS BIGINT) AS cents
              |  FROM events WHERE value IS NOT NULL),
              |bc AS (SELECT user_id, arm,
              |    CAST(SUM(cents) AS DOUBLE) AS x,
              |    CAST(COUNT(*) AS DOUBLE) AS y
              |  FROM e GROUP BY 1, 2),
              |${deltaSql("bc")}
              |$deltaOutSql""".stripMargin)),

    // SWITCHBACK analysis via the same delta-method estimator: the
    // randomization unit is the UTC HOUR (hash-assigned), so the hour
    // buckets are the clusters — the time-randomized design used when
    // user-level assignment leaks through shared inventory/marketplace
    // state.
    QueryDef("q_switchback", (s, dir) =>
      Experiment.deltaMethodRatio(Tables.load(s, dir, "events")
          .filter(col("value").isNotNull)
          // plain truncating `div`, matching DuckDB `//` for ALL signs
          // (verified on duckdb 1.0.0: (-7) // 2 = -3, i.e. `//`
          // truncates toward zero exactly like Spark `div` — the
          // earlier "DuckDB floors" belief was wrong, and the pmod
          // floor-bucket built to match it actually DIVERGED from the
          // oracle for pre-1970 timestamps)
          .withColumn("hb", expr("unix_micros(ts) div 3600000000"))
          .withColumn("arm",
            when(md5Val16(col("hb")) < 32768, lit("treatment"))
              .otherwise(lit("control")))
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("one", lit(1L)),
        "arm", Seq("hb"), "cents", "one", "treatment", "control"),
      Some(s"""WITH e AS (SELECT
              |    epoch_us(ts) // 3600000000 AS hb,
              |    CAST(ROUND(value * 100) AS BIGINT) AS cents
              |  FROM events WHERE value IS NOT NULL),
              |e2 AS (SELECT hb,
              |    CASE WHEN ${md5Val16Sql("hb")} < 32768
              |      THEN 'treatment' ELSE 'control' END AS arm, cents
              |  FROM e),
              |bc AS (SELECT hb, arm,
              |    CAST(SUM(cents) AS DOUBLE) AS x,
              |    CAST(COUNT(*) AS DOUBLE) AS y
              |  FROM e2 GROUP BY 1, 2),
              |${deltaSql("bc")}
              |$deltaOutSql""".stripMargin)),

    // DiD EVENT STUDY: per-week treatment-vs-control contrasts
    // normalized to week 0 — the parallel-trends diagnostic made
    // visible (a hash-split "treatment" has no real effect, so every
    // lead/lag effect should sit near 0 with honest SEs — the q_rdd
    // null-fixture convention). Periods are calendar weeks of the
    // 30-day window via floor((day-1)/7), matching DuckDB `//`.
    QueryDef("q_did_event_study", (s, dir) =>
      Experiment.didEventStudy(Tables.load(s, dir, "events")
          .filter(col("value").isNotNull)
          .withColumn("treated", md5Val16(col("user_id")) < 32768)
          .withColumn("period", concat(lit("w"),
            floor((dayofmonth(col("ts")) - 1) / 7.0).cast("long")
              .cast("string"))),
        "treated", "period", "value", basePeriod = "w0"),
      Some(s"""WITH e AS (SELECT CAST(value AS DOUBLE) AS v,
              |    (${md5Val16Sql("user_id")} < 32768) AS tr,
              |    'w' || CAST((EXTRACT(DAY FROM ts) - 1) // 7 AS VARCHAR)
              |      AS period
              |  FROM events WHERE value IS NOT NULL),
              |p AS (SELECT period,
              |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_treat,
              |    CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_ctrl,
              |    AVG(CASE WHEN tr THEN v END) AS mt,
              |    AVG(CASE WHEN NOT tr THEN v END) AS mc,
              |    VAR_SAMP(CASE WHEN tr THEN v END) AS vt,
              |    VAR_SAMP(CASE WHEN NOT tr THEN v END) AS vc
              |  FROM e GROUP BY 1),
              |b AS (SELECT mt AS bmt, mc AS bmc, vt AS bvt, vc AS bvc,
              |    n_treat AS bnt, n_ctrl AS bnc FROM p WHERE period = 'w0')
              |SELECT period, n_treat, n_ctrl,
              |  ROUND(mt, 6) AS mean_treat, ROUND(mc, 6) AS mean_ctrl,
              |  CASE WHEN period = 'w0' THEN 0.0
              |       ELSE ROUND((mt - mc) - (bmt - bmc), 6) END AS effect,
              |  ROUND(CASE WHEN period <> 'w0' THEN
              |    sqrt(vt / n_treat + vc / n_ctrl + bvt / bnt + bvc / bnc)
              |    END, 6) AS se,
              |  ROUND(CASE WHEN period <> 'w0' AND
              |    sqrt(vt / n_treat + vc / n_ctrl + bvt / bnt + bvc / bnc) > 0
              |    THEN ((mt - mc) - (bmt - bmc)) /
              |      sqrt(vt / n_treat + vc / n_ctrl + bvt / bnt + bvc / bnc)
              |    END, 6) AS t_stat
              |FROM p CROSS JOIN b""".stripMargin)),

    // Cochran-Mantel-Haenszel stratified 2x2 test: does the hash-split
    // "treatment" shift the value > 100 outcome after controlling for
    // event_type strata (expected null effect with real variance — the
    // q_rdd fixture convention), plus the Mantel-Haenszel common odds
    // ratio. One hash aggregate to stratum grain; margins stay exact
    // integers and the quadratic forms multiply identical operands on
    // both engines.
    QueryDef("q_cmh", (s, dir) =>
      Experiment.cmhTest(Tables.load(s, dir, "events")
          .filter(col("value").isNotNull)
          .withColumn("tr", md5Val16(col("user_id")) < 32768)
          .withColumn("y", col("value") > 100.0),
        "event_type", "tr", "y"),
      Some(s"""WITH e AS (SELECT event_type AS s,
              |    (${md5Val16Sql("user_id")} < 32768) AS tr,
              |    (value > 100.0) AS y
              |  FROM events WHERE value IS NOT NULL),
              |p AS (SELECT s,
              |    CAST(SUM(CASE WHEN tr AND y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS a,
              |    CAST(SUM(CASE WHEN tr AND NOT y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS b,
              |    CAST(SUM(CASE WHEN NOT tr AND y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS c,
              |    CAST(SUM(CASE WHEN NOT tr AND NOT y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS d
              |  FROM e GROUP BY 1),
              |q AS (SELECT a, b, c, d, a + b AS n1, c + d AS n0,
              |    a + c AS m1, b + d AS m0, a + b + c + d AS tt FROM p),
              |r AS (SELECT a,
              |    CAST(n1 AS DOUBLE) * m1 / tt AS ee,
              |    CASE WHEN tt >= 2 THEN
              |      CAST(n1 AS DOUBLE) * n0 * m1 * m0 /
              |        (CAST(tt AS DOUBLE) * tt * (tt - 1)) END AS v,
              |    CAST(a AS DOUBLE) * d / tt AS orn,
              |    CAST(b AS DOUBLE) * c / tt AS odn
              |  FROM q)
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
              |  CAST(COALESCE(SUM(a), 0) AS BIGINT) AS sum_a,
              |  ROUND(SUM(ee), 6) AS sum_e,
              |  ROUND(SUM(v), 6) AS variance,
              |  ROUND(CASE WHEN SUM(v) > 0 THEN
              |    (SUM(a) - SUM(ee)) * (SUM(a) - SUM(ee)) / SUM(v) END, 6)
              |    AS chi2,
              |  ROUND(CASE WHEN SUM(odn) > 0 THEN SUM(orn) / SUM(odn)
              |    END, 6) AS or_mh
              |FROM r""".stripMargin)),

    // Sharp regression discontinuity at an account-balance threshold:
    // local linear fits (closed-form OLS from the five sufficient sums
    // per side) within the bandwidth, effect = intercept jump at the
    // cutoff. Outcome = the customer's total order spend (exact integer
    // cents on both engines) — a known-null effect with a real standard
    // error, the estimator-correctness fixture.
    QueryDef("q_rdd", (s, dir) => {
      val spend = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("__cents"))
      Experiment.regressionDiscontinuity(
        Tables.load(s, dir, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .withColumn("y",
            coalesce(col("__cents"), lit(0L)).cast("double") / 100.0),
        "c_acctbal", "y", cutoff = 4500.0, bandwidth = 3000.0)
    },
      Some("""WITH sp AS (SELECT o_custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |w AS (SELECT
             |    CAST(c_acctbal AS DOUBLE) - 4500.0 AS x,
             |    CAST(COALESCE(sp.cents, 0) AS DOUBLE) / 100.0 AS y
             |  FROM customer LEFT JOIN sp ON sp.o_custkey = c_custkey
             |  WHERE c_acctbal IS NOT NULL
             |    AND abs(CAST(c_acctbal AS DOUBLE) - 4500.0) <= 3000.0),
             |g AS (SELECT
             |    CAST(SUM(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nr,
             |    CAST(SUM(CASE WHEN NOT (x >= 0) THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nl,
             |    SUM(CASE WHEN x >= 0 THEN x END) AS sxr,
             |    SUM(CASE WHEN x >= 0 THEN y END) AS syr,
             |    SUM(CASE WHEN x >= 0 THEN x * x END) AS sxxr,
             |    SUM(CASE WHEN x >= 0 THEN x * y END) AS sxyr,
             |    SUM(CASE WHEN x >= 0 THEN y * y END) AS syyr,
             |    SUM(CASE WHEN NOT (x >= 0) THEN x END) AS sxl,
             |    SUM(CASE WHEN NOT (x >= 0) THEN y END) AS syl,
             |    SUM(CASE WHEN NOT (x >= 0) THEN x * x END) AS sxxl,
             |    SUM(CASE WHEN NOT (x >= 0) THEN x * y END) AS sxyl,
             |    SUM(CASE WHEN NOT (x >= 0) THEN y * y END) AS syyl
             |  FROM w),
             |fl AS (SELECT *, CAST(nl AS DOUBLE) AS nd,
             |    CAST(nl AS DOUBLE) * sxxl - sxl * sxl AS den FROM g),
             |f2 AS (SELECT *,
             |    CASE WHEN nl >= 3 AND den > 0
             |      THEN (nd * sxyl - sxl * syl) / den END AS sll FROM fl),
             |f3 AS (SELECT *,
             |    CASE WHEN nl >= 3 AND den > 0
             |      THEN (syl - sll * sxl) / nd END AS ill FROM f2),
             |f4 AS (SELECT *,
             |    GREATEST(syyl - ill * syl - sll * sxyl, 0.0) AS rssl,
             |    sxxl - sxl * sxl / nd AS sxxcl FROM f3),
             |f5 AS (SELECT *,
             |    CASE WHEN nl >= 3 AND den > 0 AND sxxcl > 0
             |      THEN sqrt(rssl / (nd - 2.0) * (1.0 / nd +
             |        (sxl / nd) * (sxl / nd) / sxxcl)) END AS sel,
             |    CAST(nr AS DOUBLE) AS ndr,
             |    CAST(nr AS DOUBLE) * sxxr - sxr * sxr AS denr FROM f4),
             |f6 AS (SELECT *,
             |    CASE WHEN nr >= 3 AND denr > 0
             |      THEN (ndr * sxyr - sxr * syr) / denr END AS slr FROM f5),
             |f7 AS (SELECT *,
             |    CASE WHEN nr >= 3 AND denr > 0
             |      THEN (syr - slr * sxr) / ndr END AS ilr FROM f6),
             |f8 AS (SELECT *,
             |    GREATEST(syyr - ilr * syr - slr * sxyr, 0.0) AS rssr,
             |    sxxr - sxr * sxr / ndr AS sxxcr FROM f7),
             |f9 AS (SELECT *,
             |    CASE WHEN nr >= 3 AND denr > 0 AND sxxcr > 0
             |      THEN sqrt(rssr / (ndr - 2.0) * (1.0 / ndr +
             |        (sxr / ndr) * (sxr / ndr) / sxxcr)) END AS ser
             |  FROM f8),
             |fa AS (SELECT *, ilr - ill AS eff,
             |    sqrt(sel * sel + ser * ser) AS se FROM f9)
             |SELECT nl AS n_left, nr AS n_right,
             |  ROUND(ill, 6) AS int_left, ROUND(sll, 6) AS slope_left,
             |  ROUND(ilr, 6) AS int_right, ROUND(slr, 6) AS slope_right,
             |  ROUND(eff, 6) AS effect, ROUND(se, 6) AS se,
             |  ROUND(CASE WHEN se > 0 THEN eff / se END, 6) AS t_stat
             |FROM fa""".stripMargin)),

    // Instrumental-variable Wald/LATE estimator — randomized
    // ENCOURAGEMENT (event_id % 3 = 0) lowers the adoption threshold
    // (value > 100 instead of > 200), outcome is the raw value: LATE =
    // ITT_y / ITT_x with the delta-method SE on the ratio of mean
    // differences (clamped quadratic form). One conditional-aggregate
    // pass, welchT shape.
    QueryDef("q_iv_wald", (s, dir) =>
      Experiment.ivWald(
        Tables.load(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("encour", pmod(col("event_id"), lit(3)) === 0)
          .withColumn("took", (col("value") > 200) ||
            (pmod(col("event_id"), lit(3)) === 0 && col("value") > 100)),
        "encour", "took", "value"),
      Some("""WITH g AS (SELECT
             |    (event_id % 3 = 0) AS z,
             |    CAST(CAST((value > 200 OR (event_id % 3 = 0 AND value > 100))
             |      AS INT) AS DOUBLE) AS x,
             |    value AS y
             |  FROM events WHERE value IS NOT NULL),
             |a AS (SELECT
             |    CAST(COALESCE(SUM(CASE WHEN z THEN 1 ELSE 0 END), 0)
             |      AS BIGINT) AS n1,
             |    CAST(COALESCE(SUM(CASE WHEN NOT z THEN 1 ELSE 0 END), 0)
             |      AS BIGINT) AS n0,
             |    AVG(CASE WHEN z THEN y END) AS my1,
             |    AVG(CASE WHEN NOT z THEN y END) AS my0,
             |    AVG(CASE WHEN z THEN x END) AS mx1,
             |    AVG(CASE WHEN NOT z THEN x END) AS mx0,
             |    VAR_SAMP(CASE WHEN z THEN y END) AS vy1,
             |    VAR_SAMP(CASE WHEN NOT z THEN y END) AS vy0,
             |    VAR_SAMP(CASE WHEN z THEN x END) AS vx1,
             |    VAR_SAMP(CASE WHEN NOT z THEN x END) AS vx0,
             |    COVAR_SAMP(CASE WHEN z THEN y END,
             |      CASE WHEN z THEN x END) AS c1,
             |    COVAR_SAMP(CASE WHEN NOT z THEN y END,
             |      CASE WHEN NOT z THEN x END) AS c0
             |  FROM g),
             |b AS (SELECT *, my1 - my0 AS itty, mx1 - mx0 AS ittx,
             |    (n1 > 1 AND n0 > 1 AND mx1 - mx0 <> 0) AS ok FROM a),
             |c2 AS (SELECT *,
             |    CASE WHEN ok THEN itty / ittx END AS late FROM b),
             |d2 AS (SELECT *,
             |    CASE WHEN ok THEN
             |      SQRT(GREATEST(vy1 / n1 + vy0 / n0 +
             |        late * late * (vx1 / n1 + vx0 / n0) -
             |        2.0 * late * (c1 / n1 + c0 / n0), 0.0)) / ABS(ittx)
             |    END AS se FROM c2)
             |SELECT n1, n0,
             |  ROUND(itty, 6) AS itt_y, ROUND(ittx, 6) AS itt_x,
             |  ROUND(late, 6) AS late, ROUND(se, 6) AS se,
             |  ROUND(CASE WHEN ok AND se > 0 THEN late / se END, 6) AS z
             |FROM d2""".stripMargin))
  )
}
