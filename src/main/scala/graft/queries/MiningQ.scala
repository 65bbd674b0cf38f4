package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Prebuilt, Tables}
import graft.ops.{Cf, Text, Vectors}
import graft.stats.Planners

/**
 * Distribution/feature mining + collaborative filtering
 * (`graft.stats.Planners` additions, `graft.ops.{Cf, Text, Vectors}`),
 * each hash-checked against a DuckDB oracle. Conventions follow the
 * stats family: sample moments, 6-dp rounding on float-derived values,
 * exact-integer scores wherever an ORDER feeds a rank.
 */
object MiningQ extends QueryGroup {

  /** Events CF fixture: item = the JSON props "k" field (0..99). */
  private val ItemSql = "CAST(props->>'k' AS BIGINT)"

  /** The (event_id, user_id, item) projection every CF query starts from. */
  private def cfEvents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "events")
      .filter(get_json_object(col("props"), "$.k").isNotNull)
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))

  /** Build-once-per-(sfDir, cap) saved [[Cf.CfState]] fit on the EVEN
    * event_ids, under the JVM temp dir — the q_bm25_prebuilt convention
    * applied to the CF maintenance state. Production persists the
    * additive co-occurrence state as parquet between deltas (that is the
    * entire point of [[Cf.cfMerge]]); deriving the fit in-plan instead
    * made the incremental queries price a full recompute PLUS the merge,
    * with the optimizer walking the ~5x-inlined fit subtree (r16
    * measured the in-plan sharing alternatives: localCheckpoint +50%,
    * SQL-cache 4x — see [[Cf.saveState]]). The warm-up pass pays
    * fit+save; timed passes (and Verify) plan the merge from
    * stats-bearing parquet. [[graft.core.Prebuilt]] keys it on the
    * source, the cap and the fitting code. */
  private def prebuiltCfState(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Int): Cf.CfState =
    Cf.loadState(s, Prebuilt.dir("cfstate", new java.io.File(s"$dir/events.parquet"),
        Prebuilt.codeToken(Cf.getClass, MiningQ.getClass), cap) { stDir =>
      Cf.saveState(Cf.cfFit(cfEvents(s, dir).filter(col("event_id") % 2 === 0),
        "user_id", "item", maxUserItems = cap), stDir)
    })

  /** md5 16-bit value of an id expression, DuckDB side (LlmOps twin). */
  private def md5Val16Sql(idExpr: String): String = {
    val h = s"md5(CAST($idExpr AS VARCHAR))"
    def nib(k: Int) = s"(strpos('0123456789abcdef', substr($h, $k, 1)) - 1)"
    s"(${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)})"
  }

  /** md5 16-bit value, Spark side. */
  private def md5Val16(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long")

  /** The q_item_cf oracle CTE chain, shared by q_item_recs and (at a
    * tighter cap) q_item_cf_incremental — the incremental query's
    * oracle IS the full recompute, which is exactly the equivalence
    * the state-merge contract promises. */
  private def cfSqlAt(cap: Int): String =
    s"""r AS (SELECT DISTINCT user_id AS u, $ItemSql AS i
       |  FROM events WHERE props->>'k' IS NOT NULL),
       |cap AS (SELECT u, i FROM (SELECT u, i,
       |    COUNT(*) OVER (PARTITION BY u) AS ui FROM r) WHERE ui <= $cap),
       |nn AS (SELECT i, COUNT(*) AS ni FROM cap GROUP BY 1),
       |p AS (SELECT a.i AS ia, b.i AS ib, COUNT(*) AS n_common
       |  FROM cap a JOIN cap b ON a.u = b.u AND a.i < b.i GROUP BY 1, 2),
       |s AS (SELECT ia, ib, n_common,
       |    CAST(n_common AS DOUBLE) / sqrt(CAST(na.ni * nb.ni AS DOUBLE)) AS cos
       |  FROM p JOIN nn na ON na.i = p.ia JOIN nn nb ON nb.i = p.ib),
       |uu AS (SELECT ia AS item, ib AS neighbor, n_common, cos FROM s
       |  UNION ALL SELECT ib, ia, n_common, cos FROM s),
       |kk AS (SELECT item, neighbor, n_common, cos, ROW_NUMBER() OVER (
       |    PARTITION BY item ORDER BY cos DESC, neighbor ASC) AS rnk
       |  FROM uu)""".stripMargin

  def queries: Seq[QueryDef] = Seq(

    // Mutual information lang x source on documents: the dependence
    // STRENGTH the chi2 family only tests; everything after the first
    // aggregate is contingency-sized.
    QueryDef("q_mutual_info",
      (s, dir) => Planners.mutualInfo(
        Tables.load(s, dir, "documents"), "lang", "source"),
      Some("""WITH c AS (SELECT lang AS a, source AS b, COUNT(*) AS c
             |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1, 2),
             |t AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM c),
             |ma AS (SELECT a, CAST(SUM(c) AS DOUBLE) AS ca FROM c GROUP BY 1),
             |mb AS (SELECT b, CAST(SUM(c) AS DOUBLE) AS cb FROM c GROUP BY 1),
             |mi AS (SELECT SUM((c.c / t.n) * ln(t.n * c.c / (ma.ca * mb.cb)))
             |    AS mi
             |  FROM c JOIN ma USING(a) JOIN mb USING(b) CROSS JOIN t),
             |ha AS (SELECT SUM(-(ca / t.n) * ln(ca / t.n)) AS h
             |  FROM ma CROSS JOIN t),
             |hb AS (SELECT SUM(-(cb / t.n) * ln(cb / t.n)) AS h
             |  FROM mb CROSS JOIN t)
             |SELECT CAST(t.n AS BIGINT) AS n,
             |  (SELECT COUNT(*) FROM ma) AS n_a,
             |  (SELECT COUNT(*) FROM mb) AS n_b,
             |  ROUND(mi.mi, 6) AS mi,
             |  ROUND(CASE WHEN ha.h > 0 AND hb.h > 0
             |        THEN mi.mi / sqrt(ha.h * hb.h) END, 6) AS nmi
             |FROM t CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb"""
        .stripMargin)),

    // Simpson's-paradox scan on lineitem: per-returnflag OLS slope of
    // extendedprice on quantity vs the pooled slope.
    QueryDef("q_simpson_scan",
      (s, dir) => Planners.simpsonScan(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice"),
      Some("""WITH r AS (SELECT l_returnflag AS segment,
             |    CAST(l_quantity AS DOUBLE) AS x,
             |    CAST(l_extendedprice AS DOUBLE) AS y
             |  FROM lineitem WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL),
             |p AS (SELECT covar_samp(x, y) / var_samp(x) AS ps FROM r),
             |g AS (SELECT segment, COUNT(*) AS n,
             |    covar_samp(x, y) / var_samp(x) AS s
             |  FROM r GROUP BY 1)
             |SELECT segment, n, ROUND(s, 6) AS slope,
             |  ROUND(ps, 6) AS pooled_slope,
             |  (ROUND(s, 6) IS NOT NULL AND ROUND(ps, 6) IS NOT NULL
             |   AND ROUND(s, 6) <> 0 AND ROUND(ps, 6) <> 0
             |   AND (ROUND(s, 6) > 0) <> (ROUND(ps, 6) > 0)) AS flipped
             |FROM g CROSS JOIN p""".stripMargin)),

    // Winsorize events.value at the per-type exact p05/p95 (type-7
    // interpolation on both engines); keeps every row, flags the clamps.
    QueryDef("q_winsorize",
      (s, dir) => Planners.winsorize(Tables.load(s, dir, "events"),
        keys = Seq("event_type"), valueCol = "value",
        pLo = 0.05, pHi = 0.95, idCols = Seq("event_id")),
      Some("""WITH q AS (SELECT event_type,
             |    quantile_cont(value, 0.05) AS lo,
             |    quantile_cont(value, 0.95) AS hi
             |  FROM events WHERE value IS NOT NULL GROUP BY 1)
             |SELECT e.event_type, e.event_id,
             |  CAST(e.value AS DOUBLE) AS value,
             |  ROUND(LEAST(GREATEST(e.value, q.lo), q.hi), 6) AS value_w,
             |  (e.value < q.lo OR e.value > q.hi) AS clipped
             |FROM events e JOIN q USING(event_type)
             |WHERE e.value IS NOT NULL""".stripMargin)),

    // The 100 TB production twin: bounds from the approx_percentile
    // sketch (mergeable, O(accuracy) heap) served through the same
    // winsorizeApply. Sketch output is engine-specific -> rows-only by
    // design; MiningSpec bounds each cut's quantile-rank error, and the
    // output CARRIES the observed max rank error vs the declared
    // 1/accuracy as data (constant audit columns), so the driver's
    // rows-check records a quantitative contract, not a bare count.
    QueryDef("q_winsorize_approx",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val bounds = Planners.winsorizeFitApprox(ev,
          Seq("event_type"), "value", pLo = 0.05, pHi = 0.95,
          accuracy = 10000)
        val audit = Planners.winsorizeApproxRankError(ev, bounds,
          Seq("event_type"), "value", pLo = 0.05, pHi = 0.95,
          accuracy = 10000)
        Planners.winsorizeApply(ev, bounds,
            keys = Seq("event_type"), valueCol = "value",
            idCols = Seq("event_id"))
          .crossJoin(broadcast(audit))
      },
      None),

    // Matryoshka serving cut: first 16 dims, re-normalized to unit L2,
    // unpivoted to dim grain, with the energy-kept diagnostic.
    QueryDef("q_matryoshka",
      (s, dir) => Vectors.matryoshkaNormalize(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", dims = 16),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v,
             |    sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS nt,
             |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nf
             |  FROM e),
             |x AS (SELECT vec_id, i - 1 AS dim_idx,
             |    v[CAST(i AS INT)] AS val, nt, nf
             |  FROM n CROSS JOIN (SELECT unnest(range(1, 17)) AS i))
             |SELECT vec_id, CAST(dim_idx AS BIGINT) AS dim_idx,
             |  ROUND(CASE WHEN nt > 0 THEN val / nt ELSE 0.0 END, 6) AS val,
             |  ROUND(CASE WHEN nf > 0 THEN nt / nf ELSE 0.0 END, 6)
             |    AS norm_kept
             |FROM x""".stripMargin)),

    // Jensen-Shannon divergence of each source's unigram distribution
    // from the corpus mix (minDf 5): present-terms sum + the closed-form
    // absent-mass ln2 correction, no group x vocab outer join. The two
    // ln2-derived constants are JVM-computed and injected as literals.
    QueryDef("q_js_divergence", (s, dir) =>
      Text.jsDivergence(Tables.load(s, dir, "documents"),
        "text", "source", minDf = 5L), {
      val half = math.log(2.0) / 2
      val ln2 = math.log(2.0)
      Some(s"""WITH tk AS (SELECT source, unnest(list_filter(
              |    regexp_split_to_array(lower(text), '\\s+'),
              |    x -> x <> '')) AS term FROM documents),
              |g AS (SELECT term, COUNT(*) AS ct FROM tk GROUP BY 1
              |  HAVING COUNT(*) >= 5),
              |bg AS (SELECT tk.source, tk.term, COUNT(*) AS cgt
              |  FROM tk JOIN g USING(term) GROUP BY 1, 2),
              |tg AS (SELECT source, CAST(SUM(cgt) AS DOUBLE) AS tgn
              |  FROM bg GROUP BY 1),
              |tt AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t FROM g),
              |sc AS (SELECT bg.source, bg.cgt,
              |    CAST(bg.cgt AS DOUBLE) / tg.tgn AS p,
              |    CAST(g.ct AS DOUBLE) / tt.t AS q
              |  FROM bg JOIN g USING(term)
              |  JOIN tg ON tg.source = bg.source CROSS JOIN tt)
              |SELECT source AS "group",
              |  CAST(SUM(cgt) AS BIGINT) AS n_tokens,
              |  COUNT(*) AS n_terms,
              |  ROUND(SUM((p * ln(p / ((p + q) / 2)) +
              |             q * ln(q / ((p + q) / 2))) / 2) +
              |    (1.0 - SUM(q)) * CAST(${f"$half%.17g"} AS DOUBLE), 6)
              |    AS jsd,
              |  ROUND((SUM((p * ln(p / ((p + q) / 2)) +
              |              q * ln(q / ((p + q) / 2))) / 2) +
              |    (1.0 - SUM(q)) * CAST(${f"$half%.17g"} AS DOUBLE)) /
              |    CAST(${f"$ln2%.17g"} AS DOUBLE), 6) AS jsd_norm
              |FROM sc GROUP BY 1""".stripMargin)
    }),

    // Item-item CF neighbors over the events (user, json-k item) pairs:
    // capped co-occurrence self-join, cosine, top-5 per item.
    QueryDef("q_item_cf",
      (s, dir) => Cf.itemCosineNeighbors(
        Tables.load(s, dir, "events")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item")),
        "user_id", "item", k = 5, maxUserItems = 100),
      Some(s"""WITH ${cfSqlAt(100)}
              |SELECT item, neighbor, CAST(n_common AS BIGINT) AS n_common,
              |  ROUND(cos, 6) AS cos, CAST(rnk AS BIGINT) AS rank
              |FROM kk WHERE rnk <= 5""".stripMargin)),

    // Incremental item-CF refresh: state fit on even event_ids and
    // SERVED FROM PARQUET (see prebuiltCfState — the production
    // maintenance shape; fit+save happens once per sf dir on the
    // warm-up pass), merge the odd half as a delta batch, re-derive
    // top-5. The cap (50) is sized so ~a third of the users CROSS it
    // during the merge -- the retraction path runs for real, not just
    // the additive one. The oracle is the FULL recompute over all
    // events: equivalence with from-scratch IS the
    // incremental-maintenance contract.
    QueryDef("q_item_cf_incremental",
      (s, dir) => {
        val ev = cfEvents(s, dir)
        val state = prebuiltCfState(s, dir, cap = 50)
        val merged = Cf.cfMerge(state, ev.filter(col("event_id") % 2 === 1),
          "user_id", "item", maxUserItems = 50)
        Cf.cfTopK(merged, k = 5)
      },
      Some(s"""WITH ${cfSqlAt(50)}
              |SELECT item, neighbor, CAST(n_common AS BIGINT) AS n_common,
              |  ROUND(cos, 6) AS cos, CAST(rnk AS BIGINT) AS rank
              |FROM kk WHERE rnk <= 5""".stripMargin)),

    // Touched-only serving re-rank — the delta-sized refresh claim made
    // executable: after a merge, only lists whose pair/item counts
    // moved can change, and that set is the delta's items plus their
    // pair partners. cfTopK(onlyItems = touched) must equal the FULL
    // recompute restricted to the same set (cfMerge prunes zero-count
    // pairs, so partners-in-merged-state == partners-in-full-state and
    // the two sides derive the identical item set). Cap 100: the
    // retraction path is q_item_cf_incremental's concern; this one
    // pins the serving slice.
    QueryDef("q_item_cf_touched",
      (s, dir) => {
        val ev = cfEvents(s, dir)
        val state = prebuiltCfState(s, dir, cap = 100)
        val merged = Cf.cfMerge(state, ev.filter(col("event_id") % 2 === 1),
          "user_id", "item", maxUserItems = 100)
        val deltaItems = ev.filter(col("event_id") % 2 === 1)
          .select(col("item")).distinct()
        val partners = merged.pairs
          .join(broadcast(deltaItems.select(col("item").as("__ia"))),
            Seq("__ia"))
          .select(col("__ib").as("item"))
          .unionByName(merged.pairs
            .join(broadcast(deltaItems.select(col("item").as("__ib"))),
              Seq("__ib"))
            .select(col("__ia").as("item")))
        val touched = deltaItems.unionByName(partners).distinct()
        Cf.cfTopK(merged, k = 5, Some(touched))
      },
      Some(s"""WITH ${cfSqlAt(100)},
              |di AS (SELECT DISTINCT $ItemSql AS item FROM events
              |  WHERE props->>'k' IS NOT NULL AND event_id % 2 = 1),
              |tch AS (SELECT item FROM di
              |  UNION SELECT p.ib AS item FROM p JOIN di ON p.ia = di.item
              |  UNION SELECT p.ia AS item FROM p JOIN di ON p.ib = di.item)
              |SELECT kk.item, kk.neighbor,
              |  CAST(kk.n_common AS BIGINT) AS n_common,
              |  ROUND(kk.cos, 6) AS cos, CAST(kk.rnk AS BIGINT) AS rank
              |FROM kk JOIN tch ON tch.item = kk.item
              |WHERE kk.rnk <= 5""".stripMargin)),

    // Poisson-bootstrap CI for the mean of events.value: 100 seeded
    // hash-derived Poisson(1)-weighted resamples, percentile interval
    // from the order statistics. Draws compare integer hash values
    // against integer CDF thresholds (JVM literals) and sums run in
    // micro-unit longs, so the whole chain replays bit-for-bit in SQL.
    QueryDef("q_bootstrap_ci",
      (s, dir) => Planners.bootstrapCi(Tables.load(s, dir, "events"),
        idCol = "event_id", valueCol = "value",
        b = 100, seed = 42L, alpha = 0.05), {
      val ts = Planners.poissonThresholds16
      // ranks derive from the SURVIVING count bn (the operator's
      // dropped-resample contract); at this fixture no resample drops,
      // so bn = 100 and the interval is unchanged
      val kLo = "GREATEST(1, CAST(CEIL(bn * CAST(0.05 AS DOUBLE) / 2" +
        " - 1e-9) AS BIGINT))"
      val kHi = "LEAST(bn, CAST(CEIL(bn * CAST(0.975 AS DOUBLE)" +
        " - 1e-9) AS BIGINT))"
      val wCase = (s"WHEN hv < ${ts.head} THEN 0" +:
        ts.zipWithIndex.tail.map { case (t, k) => s"WHEN hv < $t THEN $k" })
        .mkString(" ")
      Some(s"""WITH r AS (SELECT CAST(event_id AS VARCHAR) AS id,
              |    CAST(ROUND(value * 1000000) AS BIGINT) AS xu
              |  FROM events WHERE value IS NOT NULL),
              |e AS (SELECT id, xu, unnest(range(1, 101)) AS b FROM r),
              |h AS (SELECT xu, b,
              |    md5(id || '#' || CAST(b AS VARCHAR) || '#' || '42') AS hx
              |  FROM e),
              |v AS (SELECT xu, b,
              |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
              |    (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
              |    (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
              |    (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS hv
              |  FROM h),
              |w AS (SELECT xu, b,
              |    CASE $wCase ELSE ${ts.length} END AS w FROM v),
              |m AS (SELECT b, CAST(SUM(w * xu) AS DOUBLE) / SUM(w) / 1e6 AS m
              |  FROM w GROUP BY 1 HAVING SUM(w) > 0),
              |rk AS (SELECT m, b, ROW_NUMBER() OVER (ORDER BY m, b) AS rn,
              |    COUNT(*) OVER () AS bn
              |  FROM m),
              |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_resamples,
              |    MAX(CASE WHEN rn = $kLo THEN m END) AS ci_lo,
              |    MAX(CASE WHEN rn = $kHi THEN m END) AS ci_hi,
              |    ROUND(stddev_samp(m), 6) AS se_boot FROM rk),
              |ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              |    SUM(xu) AS sx FROM r)
              |SELECT n_rows, b_resamples,
              |  CAST(CASE WHEN sx >= 0 THEN (sx * 2 + n_rows) // (2 * n_rows)
              |       ELSE -(((-sx) * 2 + n_rows) // (2 * n_rows)) END
              |    AS DOUBLE) / 1e6 AS mean,
              |  ci_lo, ci_hi, se_boot
              |FROM ba CROSS JOIN st""".stripMargin)
    }),

    // The production draw: same Poisson thresholds over codegen'd
    // xxhash64 (not replayable in SQL -> rows-only by design; the spec
    // pins determinism, the degenerate case, and CLT-scale width).
    QueryDef("q_bootstrap_ci_fast",
      (s, dir) => Planners.bootstrapCi(Tables.load(s, dir, "events"),
        idCol = "event_id", valueCol = "value",
        b = 100, seed = 42L, alpha = 0.05, fastHash = true),
      None),

    // Empirical-Bayes shrinkage of per-user purchase rates
    // (beta-binomial moment matching): the Beta prior is fitted across
    // users from the raw-rate mean/variance, and each user's posterior
    // mean (s + a)/(n + a + b) pulls small-n users toward the global
    // rate — the leaderboard fix for tiny denominators. One hash agg
    // to user grain, a one-row prior broadcast back.
    QueryDef("q_eb_rate", (s, dir) =>
      Planners.ebShrinkRates(Tables.load(s, dir, "events")
          .select(col("user_id"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("succ"),
            lit(1L).as("tri")),
        Seq("user_id"), "succ", "tri"),
      Some("""WITH bk AS (SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS successes,
             |    CAST(COUNT(*) AS BIGINT) AS trials
             |  FROM events GROUP BY 1),
             |br AS (SELECT *,
             |    CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE) AS r
             |  FROM bk),
             |pr AS (SELECT ROUND(AVG(r), 12) AS m,
             |    ROUND(var_samp(r), 12) AS v FROM br),
             |ab AS (SELECT
             |    CASE WHEN v > 0 AND v < m * (1.0 - m)
             |      THEN m * (m * (1.0 - m) / v - 1.0) END AS a,
             |    CASE WHEN v > 0 AND v < m * (1.0 - m)
             |      THEN (1.0 - m) * (m * (1.0 - m) / v - 1.0) END AS b
             |  FROM pr)
             |SELECT user_id, trials, successes,
             |  ROUND(r, 6) AS rate,
             |  ROUND((CAST(successes AS DOUBLE) + a) /
             |    (CAST(trials AS DOUBLE) + a + b), 6) AS shrunk_rate,
             |  ROUND(a, 6) AS alpha, ROUND(b, 6) AS beta
             |FROM br CROSS JOIN ab""".stripMargin)),

    // The sampling-noise-corrected prior on the same fixture: the raw
    // rates' variance conflates true prior variance with binomial
    // noise E[(m(1-m)-v)/n], so the plain MoM under-shrinks small-n
    // keys; the correction inverts v_raw = v(1-H) + m(1-m)H with
    // H = avg(1/trials), all three moments pinned at 12 dp on both
    // engines before the (hyperbolic) k derivation.
    QueryDef("q_eb_rate_corrected", (s, dir) =>
      Planners.ebShrinkRatesCorrected(Tables.load(s, dir, "events")
          .select(col("user_id"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("succ"),
            lit(1L).as("tri")),
        Seq("user_id"), "succ", "tri"),
      Some("""WITH bk AS (SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS successes,
             |    CAST(COUNT(*) AS BIGINT) AS trials
             |  FROM events GROUP BY 1),
             |br AS (SELECT *,
             |    CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE) AS r
             |  FROM bk),
             |pr AS (SELECT ROUND(AVG(r), 12) AS m,
             |    ROUND(var_samp(r), 12) AS vr,
             |    ROUND(AVG(1.0 / CAST(trials AS DOUBLE)), 12) AS h
             |  FROM br),
             |pc AS (SELECT m,
             |    CASE WHEN h < 1.0
             |      THEN (vr - m * (1.0 - m) * h) / (1.0 - h) END AS v
             |  FROM pr),
             |ab AS (SELECT
             |    CASE WHEN v > 0 AND v < m * (1.0 - m)
             |      THEN m * (m * (1.0 - m) / v - 1.0) END AS a,
             |    CASE WHEN v > 0 AND v < m * (1.0 - m)
             |      THEN (1.0 - m) * (m * (1.0 - m) / v - 1.0) END AS b
             |  FROM pc)
             |SELECT user_id, trials, successes,
             |  ROUND(r, 6) AS rate,
             |  ROUND((CAST(successes AS DOUBLE) + a) /
             |    (CAST(trials AS DOUBLE) + a + b), 6) AS shrunk_rate,
             |  ROUND(a, 6) AS alpha, ROUND(b, 6) AS beta
             |FROM br CROSS JOIN ab""".stripMargin)),

    // Benjamini-Hochberg FDR over a 200-hypothesis battery: uniform
    // hash-derived p-values with every 10th hypothesis planted 1000x
    // stronger, so the step-up rule has real rejections to make. The
    // q-values round to 6 dp before the alpha comparison on BOTH
    // engines, so a verdict cannot flip on a last-ulp product.
    QueryDef("q_bh_fdr",
      (s, dir) => Planners.bhFdr(
        Tables.load(s, dir, "customer")
          .filter(col("c_custkey") <= 200)
          .select(col("c_custkey").as("test_id"),
            (md5Val16(concat(col("c_custkey").cast("string"), lit("#p")))
              .cast("double") / lit(65536.0) /
              when(col("c_custkey") % 10 === 0, lit(1000.0))
                .otherwise(lit(1.0))).as("p_value")),
        "test_id", "p_value", alpha = 0.05),
      Some(s"""WITH h AS (SELECT c_custkey AS test_id,
              |    (${md5Val16Sql("CAST(c_custkey AS VARCHAR) || '#p'")}
              |     / 65536.0) /
              |    (CASE WHEN c_custkey % 10 = 0 THEN 1000.0 ELSE 1.0 END)
              |      AS p
              |  FROM customer WHERE c_custkey <= 200),
              |r AS (SELECT test_id, p,
              |    CAST(ROW_NUMBER() OVER (ORDER BY p, test_id) AS BIGINT)
              |      AS rank,
              |    COUNT(*) OVER () AS n
              |  FROM h),
              |q AS (SELECT test_id, p, rank,
              |    ROUND(LEAST(MIN(p * n / rank) OVER (ORDER BY rank DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              |      1.0), 6) AS q
              |  FROM r)
              |SELECT test_id, ROUND(p, 6) AS p, rank, q,
              |  q <= 0.05 AS reject
              |FROM q""".stripMargin)),

    // Nearest-centroid (Rocchio) classification: fit on the 4/5 train
    // split, cosine-argmax the held-out fifth against the 10 label
    // centroids (components rounded 6 dp BEFORE scoring on both engines,
    // so the argmax order is engine-stable).
    QueryDef("q_nearest_centroid",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Vectors.nearestCentroid(
          e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", "label")
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |    embedding::DOUBLE[] AS v FROM embeddings),
             |tr AS (SELECT label, i - 1 AS d, v[CAST(i AS INT)] AS x
             |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
             |  WHERE vec_id % 5 <> 0),
             |c AS (SELECT label AS cand, d, ROUND(AVG(x), 6) AS cv
             |  FROM tr GROUP BY 1, 2),
             |td AS (SELECT vec_id, label, i - 1 AS d,
             |    v[CAST(i AS INT)] AS x
             |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
             |  WHERE vec_id % 5 = 0),
             |sc AS (SELECT td.vec_id, td.label, c.cand,
             |    SUM(td.x * c.cv) AS dp,
             |    sqrt(SUM(td.x * td.x)) AS nt, sqrt(SUM(c.cv * c.cv)) AS nc
             |  FROM td JOIN c USING(d) GROUP BY 1, 2, 3),
             |r AS (SELECT vec_id, label, cand,
             |    CASE WHEN nt > 0 AND nc > 0
             |         THEN ROUND(dp / (nt * nc), 6) END AS cos,
             |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
             |      COALESCE(CASE WHEN nt > 0 AND nc > 0
             |               THEN ROUND(dp / (nt * nc), 6) END, -2.0) DESC,
             |      cand ASC) AS rnk
             |  FROM sc)
             |SELECT vec_id, CAST(label AS BIGINT) AS label,
             |  CAST(cand AS BIGINT) AS predicted, cos
             |FROM r WHERE rnk = 1""".stripMargin)),

    // Fellegi-Sunter record-linkage scoring over fuzzy name pairs:
    // declared (m, u) per field, per-field log-weights JVM-computed and
    // injected into the oracle as literals (the SPRT contract). The
    // oracle regenerates the candidate pairs by brute levenshtein - the
    // Spark side's length blocking is an optimization, not a semantic.
    QueryDef("q_fs_score", (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_name"), col("c_nationkey"), col("c_mktsegment"))
      // symmetric-delete blocking: every c_name has the SAME length, so
      // fuzzyPairs' length blocking would degenerate to one all-pairs
      // block (measured 712 s at sf0.1); deletion keys block on content.
      // The oracle regenerates candidates by brute levenshtein, so the
      // generator swap stays hash-verified pair for pair.
      val pairs = graft.ops.Fuzzy.fuzzyPairsDeletes(cust, "c_name", 1)
      val a = cust.select(col("c_name").as("name_a"),
        col("c_nationkey").as("__na"), col("c_mktsegment").as("__sa"))
      val b = cust.select(col("c_name").as("name_b"),
        col("c_nationkey").as("__nb"), col("c_mktsegment").as("__sb"))
      graft.ops.Fuzzy.fsScore(
        pairs.join(a, "name_a").join(b, "name_b")
          .withColumn("nation_agree", col("__na") === col("__nb"))
          .withColumn("segment_agree", col("__sa") === col("__sb")),
        Seq(("nation_agree", 0.95, 0.04), ("segment_agree", 0.9, 0.2)),
        lower = 0.0, upper = 3.0)
        .select("name_a", "name_b", "nation_agree", "segment_agree",
          "fs_weight", "fs_class")
    }, {
      val Seq((wa1, wd1), (wa2, wd2)) = graft.ops.Fuzzy.fsWeights(
        Seq(("nation_agree", 0.95, 0.04), ("segment_agree", 0.9, 0.2)))
      Some(s"""WITH c AS (SELECT c_name, c_nationkey, c_mktsegment
              |  FROM customer),
              |p AS (SELECT a.c_name AS name_a, b.c_name AS name_b,
              |    a.c_nationkey = b.c_nationkey AS nation_agree,
              |    a.c_mktsegment = b.c_mktsegment AS segment_agree
              |  FROM c a JOIN c b ON a.c_name < b.c_name
              |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
              |w AS (SELECT *, ROUND(
              |    (CASE WHEN nation_agree
              |          THEN CAST(${f"$wa1%.17g"} AS DOUBLE)
              |          ELSE CAST(${f"$wd1%.17g"} AS DOUBLE) END) +
              |    (CASE WHEN segment_agree
              |          THEN CAST(${f"$wa2%.17g"} AS DOUBLE)
              |          ELSE CAST(${f"$wd2%.17g"} AS DOUBLE) END), 6)
              |    AS fs_weight
              |  FROM p)
              |SELECT name_a, name_b, nation_agree, segment_agree, fs_weight,
              |  CASE WHEN fs_weight >= 3.0 THEN 'match'
              |       WHEN fs_weight < 0.0 THEN 'non_match'
              |       ELSE 'possible' END AS fs_class
              |FROM w""".stripMargin)
    }),

    // Serve recommendations through the item graph: summed exact
    // micro-unit neighbor similarity over each user's history,
    // already-seen items excluded, top-3 per user.
    QueryDef("q_item_recs",
      (s, dir) => {
        val ratings = Tables.load(s, dir, "events")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
        val nbrs = Cf.itemCosineNeighbors(ratings, "user_id", "item",
          k = 5, maxUserItems = 100)
        Cf.recommendForUsers(ratings, nbrs, "user_id", "item", n = 3)
      },
      Some(s"""WITH ${cfSqlAt(100)},
              |nb AS (SELECT item, neighbor,
              |    CAST(ROUND(ROUND(cos, 6) * 1e6) AS BIGINT) AS cu
              |  FROM kk WHERE rnk <= 5),
              |cand AS (SELECT r.u AS usr, nb.neighbor AS candidate,
              |    COUNT(*) AS n_paths, SUM(nb.cu) AS su
              |  FROM r JOIN nb ON nb.item = r.i GROUP BY 1, 2),
              |filt AS (SELECT c.* FROM cand c
              |  LEFT JOIN r h ON h.u = c.usr AND h.i = c.candidate
              |  WHERE h.u IS NULL),
              |rk AS (SELECT usr, candidate, n_paths, su, ROW_NUMBER() OVER (
              |    PARTITION BY usr ORDER BY su DESC, candidate ASC) AS rnk
              |  FROM filt)
              |SELECT usr AS "user", candidate,
              |  CAST(n_paths AS BIGINT) AS n_paths,
              |  CAST(su AS DOUBLE) / 1e6 AS score,
              |  CAST(rnk AS BIGINT) AS rank
              |FROM rk WHERE rnk <= 3""".stripMargin))
  )
}
