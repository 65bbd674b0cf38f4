package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Temporal

/**
 * Temporal relational operators (as-of join, gap sessionization, bucketed
 * range join — `graft.ops.Temporal`), each hash-checked against a DuckDB
 * oracle. Conventions follow Relational: money in integer cents, counts as
 * bigint, every window order carries an `event_id` tiebreak.
 */
object TemporalQ extends QueryGroup {

  /** 2-day session gap / 7-day as-of tolerance, in seconds and micros. */
  private val GapSec = 2L * 86400L
  private val GapUs = GapSec * 1000000L
  private val TolSec = 7L * 86400L
  private val TolUs = TolSec * 1000000L

  /** Shared oracle CTE chain: the unrolled 8-step Holt fold (alpha 0.3,
    * gamma 0.2) over a trailing 8-row frame — `s8` holds (l, b) per
    * (user_id, event_id). Unrolled because DuckDB v1.0.0 evaluates
    * list_reduce struct-lambda fields in place (see q_holt_smooth). */
  private val holtCte = {
    val steps = (2 to 8).map { k =>
      s"""s$k AS (SELECT user_id, event_id, xs,
         |    CASE WHEN len(xs) >= $k THEN 0.2 * (l - pl) + 0.8 * b
         |         ELSE b END AS b, l
         |  FROM (SELECT user_id, event_id, xs,
         |      CASE WHEN len(xs) >= $k THEN 0.3 * xs[$k] + 0.7 * (l + b)
         |           ELSE l END AS l,
         |      l AS pl, b
         |    FROM s${k - 1}))""".stripMargin
    }.mkString(",\n")
    s"""x AS (SELECT user_id, event_id,
       |    list(CAST(value AS DOUBLE))
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS xs
       |  FROM events),
       |s1 AS (SELECT user_id, event_id, xs, xs[1] AS l,
       |    CAST(0.0 AS DOUBLE) AS b FROM x),
       |$steps""".stripMargin
  }

  /** Oracle CTE for q_holt_winters: the additive level/trend/season fold
    * (alpha 0.5, gamma 0.25, delta 0.5; period 4, window 12) unrolled as
    * one CTE step per window position, season slots s1..s4 as columns —
    * the holtCte pattern with a seasonal state. */
  private val holtWintersCte = {
    val all = (1 to 4).map(j => s"s$j")
    val steps = (2 to 12).map { k =>
      val si = (k - 1) % 4 + 1
      val sCols = all.map { sj =>
        if (sj == s"s$si")
          s"""CASE WHEN len(xs) >= $k
             |      THEN 0.3 * (xs[$k] - ln) + 0.7 * $sj ELSE $sj END AS $sj"""
            .stripMargin
        else sj
      }.mkString(",\n    ")
      s"""hw$k AS (SELECT user_id, event_id, xs,
         |    CASE WHEN len(xs) >= $k THEN 0.2 * (ln - l) + 0.8 * b
         |         ELSE b END AS b,
         |    ln AS l,
         |    $sCols
         |  FROM (SELECT user_id, event_id, xs, l, b, s1, s2, s3, s4,
         |      CASE WHEN len(xs) >= $k THEN 0.3 * (xs[$k] - s$si) + 0.7 * (l + b)
         |           ELSE l END AS ln
         |    FROM hw${k - 1}))""".stripMargin
    }.mkString(",\n")
    s"""x AS (SELECT user_id, event_id,
       |    list(CAST(value AS DOUBLE))
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS xs
       |  FROM events WHERE value IS NOT NULL),
       |hw1 AS (SELECT user_id, event_id, xs, xs[1] AS l,
       |    CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS s1,
       |    CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
       |    CAST(0.0 AS DOUBLE) AS s4 FROM x),
       |$steps""".stripMargin
  }

  /** Shared oracle CTE: per-event session ids at the 2-day gap. */
  private val sessionCte =
    s"""x AS (
       |  SELECT event_id, user_id, ts,
       |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |sess AS (
       |  SELECT event_id, user_id, ts,
       |    SUM(CASE WHEN prev IS NULL
       |        OR date_diff('microsecond', prev, ts) > $GapUs
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM x)""".stripMargin

  def queries: Seq[QueryDef] = Seq(

    // Gap sessionization: islands of per-user activity separated by >2 days.
    QueryDef("q_sessionize",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        Temporal.sessionize(ev, Seq("user_id"), "ts", GapSec,
            tiebreak = Seq("event_id"))
          .select(col("event_id"), col("user_id"),
            col("session_id").cast("long").as("session_id"))
      },
      Some(s"""WITH $sessionCte
              |SELECT event_id, user_id,
              |  CAST(session_id AS BIGINT) AS session_id
              |FROM sess""".stripMargin)),

    // Per-session aggregates: count, span, exact duration in micros.
    QueryDef("q_session_stats",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val sess = Temporal.sessionize(ev, Seq("user_id"), "ts", GapSec,
          tiebreak = Seq("event_id"))
        Temporal.sessionStats(sess, Seq("user_id"), "ts")
          .select(col("user_id"), col("session_id").cast("long").as("session_id"),
            col("n_events"), col("session_start"), col("session_end"),
            col("duration_us"))
      },
      Some(s"""WITH $sessionCte
              |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              |  COUNT(*) AS n_events,
              |  MIN(ts) AS session_start, MAX(ts) AS session_end,
              |  CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS BIGINT)
              |    AS duration_us
              |FROM sess GROUP BY user_id, session_id""".stripMargin)),

    // As-of join: each event picks up the latest order of its customer at
    // or before the event instant (ties on o_orderdate resolved to the
    // greatest o_orderkey, mirrored by the oracle's dedup).
    QueryDef("q_asof_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val ord = Tables.load(s, dir, "orders")
        Temporal.asofJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
            valueCols = Seq("o_orderkey", "o_totalprice"),
            rightTiebreak = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("asof_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("asof_price_c"))
      },
      Some("""WITH rd AS (
             |  SELECT * FROM (
             |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
             |                         ORDER BY o_orderkey DESC) AS rn
             |    FROM orders) WHERE rn = 1)
             |SELECT e.event_id, e.user_id, rd.o_orderkey AS asof_orderkey,
             |  CAST(ROUND(rd.o_totalprice*100) AS BIGINT) AS asof_price_c
             |FROM events e ASOF JOIN rd
             |  ON e.user_id = rd.o_custkey AND e.ts >= rd.o_orderdate"""
        .stripMargin)),

    // The SAME as-of semantics through the packed-history lookup path
    // (broadcast-dimension / streaming shape) against the SAME oracle —
    // both formulations are pinned to DuckDB ASOF JOIN independently.
    QueryDef("q_asof_lookup",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val ord = Tables.load(s, dir, "orders")
        Temporal.asofLookupJoin(ev, ord, "user_id", "o_custkey", "ts",
            "o_orderdate", valueCols = Seq("o_orderkey", "o_totalprice"),
            rightTiebreak = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("asof_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("asof_price_c"))
      },
      Some("""WITH rd AS (
             |  SELECT * FROM (
             |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
             |                         ORDER BY o_orderkey DESC) AS rn
             |    FROM orders) WHERE rn = 1)
             |SELECT e.event_id, e.user_id, rd.o_orderkey AS asof_orderkey,
             |  CAST(ROUND(rd.o_totalprice*100) AS BIGINT) AS asof_price_c
             |FROM events e ASOF JOIN rd
             |  ON e.user_id = rd.o_custkey AND e.ts >= rd.o_orderdate"""
        .stripMargin)),

    // Self as-of with tolerance: for each purchase, the latest click of the
    // same user within the preceding 7 days (left-outer: unmatched
    // purchases keep null click columns).
    QueryDef("q_asof_prior_click",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        Temporal.asofJoin(purch, clicks, "user_id", "user_id", "ts", "ts",
            valueCols = Seq("click_id"), toleranceSec = Some(TolSec),
            rightTiebreak = Seq("click_id"))
          .select(col("event_id"), col("user_id"),
            col("click_id").as("prior_click_id"),
            (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("age_us"))
      },
      Some(s"""WITH p AS (
              |  SELECT event_id, user_id, ts FROM events
              |  WHERE event_type = 'purchase'),
              |c AS (
              |  SELECT * FROM (
              |    SELECT event_id AS click_id, user_id, ts,
              |      ROW_NUMBER() OVER (PARTITION BY user_id, ts
              |                         ORDER BY event_id DESC) AS rn
              |    FROM events WHERE event_type = 'click') WHERE rn = 1),
              |j AS (
              |  SELECT p.event_id, p.user_id, c.click_id,
              |    date_diff('microsecond', c.ts, p.ts) AS age
              |  FROM p ASOF LEFT JOIN c
              |    ON p.user_id = c.user_id AND p.ts >= c.ts)
              |SELECT event_id, user_id,
              |  CASE WHEN age <= $TolUs THEN click_id END AS prior_click_id,
              |  CASE WHEN age <= $TolUs THEN CAST(age AS BIGINT) END AS age_us
              |FROM j""".stripMargin)),

    // Bucketed range join: events back onto their own session spans —
    // sessions are disjoint per user and bounds inclusive, so the result
    // must reproduce q_sessionize exactly (cross-validating both paths).
    QueryDef("q_range_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val spans = Temporal.sessionStats(
            Temporal.sessionize(ev, Seq("user_id"), "ts", GapSec,
              tiebreak = Seq("event_id")),
            Seq("user_id"), "ts")
          .select(col("user_id").as("s_user"), col("session_id"),
            col("session_start"), col("session_end"))
        Temporal.rangeJoin(ev, spans, "user_id", "s_user", "ts",
            "session_start", "session_end", bucketSec = 86400L)
          .select(col("event_id"), col("user_id"),
            col("session_id").cast("long").as("session_id"))
      },
      Some(s"""WITH $sessionCte,
              |sp AS (
              |  SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
              |  FROM sess GROUP BY user_id, session_id)
              |SELECT e.event_id, e.user_id,
              |  CAST(sp.session_id AS BIGINT) AS session_id
              |FROM events e JOIN sp
              |  ON e.user_id = sp.user_id AND e.ts BETWEEN sp.st AND sp.en"""
        .stripMargin)),

    // Multi-touch attribution: every non-purchase event credits the
    // user's next purchase (first/last/linear/position models in one
    // pass); journey assignment via the descending union+carry scan —
    // no join, skew-immune. Oracle replays it with a running MIN over
    // the same (ts DESC, conversion-first) order.
    QueryDef("q_attribution",
      (s, dir) => Temporal.attribution(Tables.load(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", conversionType = "purchase",
        channelCol = "event_type", tiebreakCol = "event_id"),
      Some("""WITH u AS (SELECT user_id, ts, event_type, event_id,
             |    CASE WHEN event_type = 'purchase' THEN ts END AS pts FROM events),
             |w AS (SELECT *, MIN(pts) OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, (event_type = 'purchase') DESC, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_ts FROM u),
             |a AS (SELECT user_id, conv_ts, event_type, ts AS touch_ts, event_id
             |  FROM w WHERE event_type <> 'purchase' AND conv_ts IS NOT NULL),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, conv_ts
             |      ORDER BY touch_ts, event_id) AS touch_rank,
             |    COUNT(*) OVER (PARTITION BY user_id, conv_ts) AS n_touches FROM a)
             |SELECT user_id, conv_ts, event_type, touch_ts, event_id,
             |  CAST(touch_rank AS BIGINT) AS touch_rank,
             |  CAST(n_touches AS BIGINT) AS n_touches,
             |  CAST(CASE WHEN touch_rank = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS credit_first,
             |  CAST(CASE WHEN touch_rank = n_touches THEN 1.0 ELSE 0.0 END AS DOUBLE) AS credit_last,
             |  ROUND(CAST(1.0 AS DOUBLE) / n_touches, 6) AS credit_linear,
             |  ROUND(CAST(CASE WHEN n_touches = 1 THEN 1.0 WHEN n_touches = 2 THEN 0.5
             |    WHEN touch_rank = 1 OR touch_rank = n_touches THEN 0.4
             |    ELSE CAST(0.2 AS DOUBLE) / (n_touches - 2) END AS DOUBLE), 6) AS credit_position
             |FROM r""".stripMargin)),

    // Time-decay attribution: the halfLife model over a 1-day half-life
    // — weights 0.5^(age_s/86400) normalized per journey; recency wins
    // but every in-journey touch keeps nonzero credit.
    QueryDef("q_attribution_decay",
      (s, dir) => Temporal.attribution(Tables.load(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", conversionType = "purchase",
        channelCol = "event_type", tiebreakCol = "event_id",
        halfLifeSec = Some(86400L))
        .select(col("user_id"), col("conv_ts"), col("event_id"),
          col("credit_time_decay")),
      Some("""WITH u AS (SELECT user_id, ts, event_type, event_id,
             |    CASE WHEN event_type = 'purchase' THEN ts END AS pts FROM events),
             |w AS (SELECT *, MIN(pts) OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, (event_type = 'purchase') DESC, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_ts FROM u),
             |a AS (SELECT user_id, conv_ts, event_id,
             |    POWER(0.5, (epoch_us(conv_ts) - epoch_us(ts)) / 1000000.0 / 86400.0) AS wt
             |  FROM w WHERE event_type <> 'purchase' AND conv_ts IS NOT NULL)
             |SELECT user_id, conv_ts, event_id,
             |  ROUND(wt / SUM(wt) OVER (PARTITION BY user_id, conv_ts), 6)
             |    AS credit_time_decay
             |FROM a""".stripMargin)),

    // Cadence-gap audit: per-user event gaps above 2 days — the
    // mid-window outage detector freshness checks can't see.
    QueryDef("q_gap_report",
      (s, dir) => Temporal.gapReport(Tables.load(s, dir, "events"),
        Seq("user_id"), "ts", toleranceSec = 172800L,
        tiebreak = Seq("event_id")),
      Some("""WITH l AS (SELECT user_id, ts,
             |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |SELECT user_id, prev_ts, ts,
             |  CAST((epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS BIGINT) AS gap_sec
             |FROM l
             |WHERE (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 > 172800""".stripMargin)),

    // Seasonal-naive backtest: daily per-user value means forecast by
    // their own value 7 days earlier; MAE/RMSE/MAPE per user. Equi-join
    // on (user, day-7), hole-proof where a row-offset lag is not.
    QueryDef("q_seasonal_naive",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        // daily mean via exact integer cents (the q1_agg money pattern):
        // a plain avg's 6-dp rounding is engine-order-unstable
        val daily = ev.groupBy(col("user_id"),
            floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
          .agg((sum(round(col("value") * 100).cast("long")).cast("double") /
            count(col("value")) / 100).as("v"))
        Temporal.seasonalNaiveBacktest(daily, Seq("user_id"), "day", "v",
          period = 7L)
      },
      Some("""WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
             |      / COUNT(value) / 100 AS v
             |  FROM events GROUP BY 1, 2),
             |j AS (SELECT a.user_id, a.v AS y, f.v AS f FROM d a
             |  JOIN d f ON f.user_id = a.user_id AND f.day = a.day - 7
             |  WHERE a.v IS NOT NULL AND f.v IS NOT NULL),
             |e AS (SELECT user_id,
             |    CAST(ROUND((y - f) * 1000000) AS BIGINT) AS eus,
             |    CAST(ROUND((y - f) * 1000) AS BIGINT) AS ems,
             |    CASE WHEN y <> 0 THEN
             |      CAST(ROUND(ABS((y - f) / y) * 1000000) AS BIGINT) END AS rppm
             |  FROM j)
             |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
             |  CAST((SUM(ABS(eus)) * 2 + COUNT(*)) // (COUNT(*) * 2) AS DOUBLE)
             |    / 1000000 AS mae,
             |  ROUND(SQRT(CAST(SUM(ems * ems) AS DOUBLE) / COUNT(*)) / 1000, 6) AS rmse,
             |  CAST(COUNT(rppm) AS BIGINT) AS n_mape,
             |  CASE WHEN COUNT(rppm) > 0 THEN
             |    CAST((SUM(rppm) * 2 + COUNT(rppm)) // (COUNT(rppm) * 2) AS DOUBLE)
             |      / 1000000 END AS mape
             |FROM e GROUP BY 1""".stripMargin)),

    // First-order Markov transition matrix over per-user event-type
    // sequences: handoff counts + row-normalized next-event probability.
    QueryDef("q_markov_transitions",
      (s, dir) => Temporal.markovTransitions(Tables.load(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", tiebreak = Seq("event_id")),
      Some("""WITH s AS (SELECT event_type AS f,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS t
             |  FROM events),
             |c AS (SELECT f AS from_state, t AS to_state, COUNT(*) AS n
             |  FROM s WHERE t IS NOT NULL AND f IS NOT NULL GROUP BY 1, 2)
             |SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
             |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_state), 6) AS p
             |FROM c""".stripMargin)),

    // Frequent event 3-grams (sequence mining over the same handoff
    // window; minCount prunes the tail inside the aggregation).
    QueryDef("q_event_ngrams",
      (s, dir) => Temporal.eventNgrams(Tables.load(s, dir, "events"),
        Seq("user_id"), "ts", "event_type", n = 3,
        tiebreak = Seq("event_id"), minCount = 5L),
      Some("""WITH s AS (SELECT event_type AS a,
             |    LEAD(event_type, 1) OVER w AS b,
             |    LEAD(event_type, 2) OVER w AS c
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT a || ' -> ' || b || ' -> ' || c AS ngram,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM s WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
             |GROUP BY 1 HAVING COUNT(*) >= 5""".stripMargin)),

    // Per-user sample ACF at lags 1..3 over the event value series —
    // deviations from the user's own mean, biased estimator.
    QueryDef("q_autocorrelation",
      (s, dir) => Temporal.autocorrelation(Tables.load(s, dir, "events"),
        Seq("user_id"), "ts", "value", maxLag = 3,
        tiebreak = Seq("event_id")),
      Some("""WITH d AS (SELECT user_id, ts, event_id,
             |    value - AVG(value) OVER (PARTITION BY user_id) AS dv
             |  FROM events),
             |l AS (SELECT user_id, dv,
             |    LEAD(dv, 1) OVER w AS l1, LEAD(dv, 2) OVER w AS l2,
             |    LEAD(dv, 3) OVER w AS l3
             |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |a AS (SELECT user_id, SUM(dv*dv) AS ss,
             |    SUM(dv*l1) AS n1, COUNT(l1) AS p1,
             |    SUM(dv*l2) AS n2, COUNT(l2) AS p2,
             |    SUM(dv*l3) AS n3, COUNT(l3) AS p3
             |  FROM l GROUP BY 1)
             |SELECT user_id, CAST(1 AS BIGINT) AS lag, CAST(p1 AS BIGINT) AS n_pairs,
             |  CASE WHEN ss > 0 THEN ROUND(n1/ss, 6) END AS acf FROM a
             |UNION ALL SELECT user_id, 2, p2,
             |  CASE WHEN ss > 0 THEN ROUND(n2/ss, 6) END FROM a
             |UNION ALL SELECT user_id, 3, p3,
             |  CASE WHEN ss > 0 THEN ROUND(n3/ss, 6) END FROM a""".stripMargin)),

    // Mean-shift changepoint scan: 5-before vs 5-from-here windows per
    // user, |dmean|/pooled-std score, both-full boundaries only.
    QueryDef("q_changepoints",
      (s, dir) => Temporal.meanShiftChangepoints(
        Tables.load(s, dir, "events"), Seq("user_id"), "ts", "value",
        w = 5, threshold = 2.0, tiebreak = Seq("event_id")),
      Some("""WITH s AS (SELECT user_id, ts, event_id, value,
             |    COUNT(value) OVER wb AS nb, COUNT(value) OVER wa AS na,
             |    AVG(value) OVER wb AS mb, AVG(value) OVER wa AS ma,
             |    VAR_SAMP(value) OVER wb AS vb, VAR_SAMP(value) OVER wa AS va
             |  FROM events
             |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
             |    wa AS (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING))
             |SELECT user_id, ts, event_id,
             |  ROUND(mb, 6) AS mean_before, ROUND(ma, 6) AS mean_after,
             |  CASE WHEN sqrt((vb+va)/2) > 0
             |    THEN ROUND(ABS(ma-mb)/sqrt((vb+va)/2), 6) END AS score,
             |  (sqrt((vb+va)/2) = 0 AND ABS(ma-mb) > 0) AS flat_shift,
             |  coalesce(CASE WHEN sqrt((vb+va)/2) > 0
             |      THEN ROUND(ABS(ma-mb)/sqrt((vb+va)/2), 6) END > 2.0, false)
             |    OR (sqrt((vb+va)/2) = 0 AND ABS(ma-mb) > 0) AS is_changepoint
             |FROM s WHERE nb = 5 AND na = 5""".stripMargin)),

    // Funnel: earliest signup -> click -> purchase chain per user
    // (nested-min semantics, >= so same-instant progressions count).
    QueryDef("q_funnel",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        Temporal.funnel(ev, Seq("user_id"), "ts", "event_type",
          Seq("signup", "click", "purchase"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
             |       WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
             |SELECT u.user_id, s1.t1 AS step1_ts, s2.t2 AS step2_ts,
             |  s3.t3 AS step3_ts,
             |  CAST((CASE WHEN s1.t1 IS NULL THEN 0 ELSE 1 END)
             |     + (CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END)
             |     + (CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             |    AS n_steps_completed
             |FROM u LEFT JOIN s1 USING (user_id)
             |  LEFT JOIN s2 USING (user_id)
             |  LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // Event-time downsampling: last event per (user, 6-hour bucket).
    QueryDef("q_downsample",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        Temporal.downsample(ev, Seq("user_id"), "ts", bucketSec = 21600L,
            tiebreak = Seq("event_id"))
          .select(col("event_id"), col("user_id"), col("bucket_start"),
            round(col("value") * 100).cast("long").as("val_cents"))
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts, value,
             |    time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
             |    ROW_NUMBER() OVER (PARTITION BY user_id, time_bucket(INTERVAL 6 HOUR, ts)
             |                       ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT event_id, user_id, bucket_start,
             |  CAST(ROUND(value*100) AS BIGINT) AS val_cents
             |FROM b WHERE rn = 1""".stripMargin)),

    // Rolling per-key anomaly score: each event's value z-scored against
    // the PRECEDING 10 events of the same user (bounded window frame —
    // constant state per row at any scale; rows without 2 predecessors
    // yield null). 6-dp rounding on both sides (stddev partial-order).
    QueryDef("q_rolling_zscore",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-10, -1)
        ev.select(col("event_id"), col("user_id"),
          round((col("value") - avg(col("value")).over(w))
            / stddev_samp(col("value")).over(w), 6).as("z"))
      },
      Some("""SELECT event_id, user_id,
             |  ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 6) AS z
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)"""
        .stripMargin)),

    // Regular daily grid per user with forward-filled values.
    QueryDef("q_resample_ffill",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("val_c"))
        Temporal.resampleFfill(ev, Seq("user_id"), "ts", "val_c",
          bucketSec = 86400L, tiebreak = Seq("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, ts,
             |    CAST(ROUND(value*100) AS BIGINT) AS val_c,
             |    (CAST(epoch(ts) AS BIGINT) // 86400) * 86400 AS b
             |  FROM events),
             |o AS (
             |  SELECT user_id, b, val_c FROM (
             |    SELECT user_id, b, val_c,
             |      ROW_NUMBER() OVER (PARTITION BY user_id, b
             |                         ORDER BY ts DESC, event_id DESC) AS rn
             |    FROM e) WHERE rn = 1),
             |g AS (
             |  SELECT user_id, unnest(range(lo, hi + 86400, 86400)) AS b
             |  FROM (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi
             |        FROM e GROUP BY 1)),
             |u AS (
             |  SELECT user_id, b, 0 AS side, val_c FROM o
             |  UNION ALL
             |  SELECT user_id, b, 1 AS side, NULL AS val_c FROM g),
             |f AS (
             |  SELECT user_id, b, side,
             |    LAST_VALUE(val_c IGNORE NULLS) OVER (
             |      PARTITION BY user_id ORDER BY b, side
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
             |  FROM u)
             |SELECT user_id, b AS bucket_start_s, fv AS val_c
             |FROM f WHERE side = 1""".stripMargin)),

    // Cohort retention matrix (weekly) in long form.
    QueryDef("q_retention",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        Temporal.cohortRetention(ev, Seq("user_id"), "ts",
          bucketSec = 7L * 86400L)
      },
      Some("""WITH c AS (
             |  SELECT user_id,
             |    (CAST(epoch(MIN(ts)) AS BIGINT) // 604800) * 604800 AS cs
             |  FROM events GROUP BY 1),
             |a AS (
             |  SELECT DISTINCT user_id,
             |    (CAST(epoch(ts) AS BIGINT) // 604800) * 604800 AS b
             |  FROM events)
             |SELECT c.cs AS cohort_start_s,
             |  CAST((a.b - c.cs) // 604800 AS BIGINT) AS bucket_offset,
             |  COUNT(DISTINCT a.user_id) AS n_active
             |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin)),

    // Tumbling-window aggregate in batch (the same window() expression
    // Structured Streaming runs), oracled against DuckDB time_bucket.
    QueryDef("q_tumbling_agg",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("val_cents"))
          .select(col("window.start").as("bucket"), col("event_type"),
            col("n"), col("val_cents"))
      },
      Some("""SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket, event_type,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS val_cents
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Hopping (sliding) windows: each event lands in size/slide windows;
    // the oracle replays the window set with a shifted time_bucket union.
    QueryDef("q_hopping_agg",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("bucket"), col("event_type"), col("n"))
      },
      Some("""WITH h AS (
             |  SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket, event_type FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL 1 DAY, ts) - INTERVAL 1 DAY AS bucket,
             |    event_type FROM events)
             |SELECT bucket, event_type, COUNT(*) AS n
             |FROM h GROUP BY 1, 2""".stripMargin)),

    // Interval-overlap join: click-session spans × view-session spans of
    // the same user — bucketed equi-join with the canonical-bucket pair
    // assignment (no dedup pass), oracled against the plain non-equi join.
    QueryDef("q_interval_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        def spans(t: String, p: String) = Temporal.sessionStats(
            Temporal.sessionize(
              ev.filter(col("event_type") === t)
                .select(col("event_id"), col("user_id"), col("ts")),
              Seq("user_id"), "ts", GapSec, tiebreak = Seq("event_id")),
            Seq("user_id"), "ts")
          .select(col("user_id").as(s"${p}_user"),
            col("session_id").cast("long").as(s"${p}_sid"),
            col("session_start").as(s"${p}_st"),
            col("session_end").as(s"${p}_en"))
        Temporal.intervalJoin(spans("click", "a"), spans("view", "b"),
            "a_user", "b_user", "a_st", "a_en", "b_st", "b_en",
            bucketSec = 86400L)
          .select(col("a_user").as("user_id"), col("a_sid"), col("b_sid"))
      },
      Some(s"""WITH ca AS (
              |  SELECT event_id, user_id, ts,
              |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              |  FROM events WHERE event_type = 'click'),
              |sa AS (
              |  SELECT user_id, ts,
              |    SUM(CASE WHEN prev IS NULL
              |        OR date_diff('microsecond', prev, ts) > $GapUs
              |        THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY user_id ORDER BY ts, event_id
              |            ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM ca),
              |aa AS (SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
              |       FROM sa GROUP BY 1, 2),
              |cb AS (
              |  SELECT event_id, user_id, ts,
              |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              |  FROM events WHERE event_type = 'view'),
              |sb AS (
              |  SELECT user_id, ts,
              |    SUM(CASE WHEN prev IS NULL
              |        OR date_diff('microsecond', prev, ts) > $GapUs
              |        THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY user_id ORDER BY ts, event_id
              |            ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM cb),
              |bb AS (SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
              |       FROM sb GROUP BY 1, 2)
              |SELECT a.user_id, CAST(a.sid AS BIGINT) AS a_sid,
              |  CAST(b.sid AS BIGINT) AS b_sid
              |FROM aa a JOIN bb b ON a.user_id = b.user_id
              |  AND a.st <= b.en AND b.st <= a.en""".stripMargin)),

    // SCD-2 history: per-user event_type regimes with half-open validity
    // intervals; consecutive same-type events collapse to one regime row.
    QueryDef("q_scd2",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        Temporal.scd2(ev, Seq("user_id"), "ts", tiebreak = Seq("event_id"),
            attrCols = Seq("event_type"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("valid_from"), col("valid_to"))
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    LAG(event_type) OVER (PARTITION BY user_id
             |                          ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |c AS (
             |  SELECT user_id, event_id, ts, event_type FROM o
             |  WHERE prev_type IS NULL OR event_type <> prev_type)
             |SELECT user_id, event_id, event_type, ts AS valid_from,
             |  LEAD(ts) OVER (PARTITION BY user_id
             |                 ORDER BY ts, event_id) AS valid_to
             |FROM c""".stripMargin)),

    // Point-in-time slice of the SCD-2 history: each user's regime mid-month.
    QueryDef("q_scd2_pit",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        val hist = Temporal.scd2(ev, Seq("user_id"), "ts",
          tiebreak = Seq("event_id"), attrCols = Seq("event_type"))
        Temporal.pointInTime(hist, to_timestamp(lit("2024-01-15 00:00:00")))
          .select(col("user_id"), col("event_type"), col("valid_from"))
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    LAG(event_type) OVER (PARTITION BY user_id
             |                          ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |c AS (
             |  SELECT user_id, event_id, ts, event_type FROM o
             |  WHERE prev_type IS NULL OR event_type <> prev_type),
             |h AS (
             |  SELECT user_id, event_type, ts AS valid_from,
             |    LEAD(ts) OVER (PARTITION BY user_id
             |                   ORDER BY ts, event_id) AS valid_to
             |  FROM c)
             |SELECT user_id, event_type, valid_from FROM h
             |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
             |  AND (valid_to IS NULL
             |       OR valid_to > TIMESTAMP '2024-01-15 00:00:00')"""
        .stripMargin)),

    // Holt–Winters additive seasonal smoothing per user (period 4,
    // window 12): level + trend + next-step season + forecast, folded
    // in identical IEEE order on both engines. Non-dyadic alpha/gamma/
    // delta (0.3/0.2/0.3, the q_holt_smooth precedent) keep folded
    // values OFF exact decimal .5e-6 boundaries, where Spark's
    // decimal-string ROUND and DuckDB's binary*1e6 ROUND disagree —
    // dyadic params on 2-decimal inputs land there constantly.
    QueryDef("q_holt_winters",
      (s, dir) => Temporal.holtWinters(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        period = 4, alpha = 0.3, gamma = 0.2, delta = 0.3, window = 12,
        tiebreak = Seq("event_id"), idCols = Seq("event_id")),
      Some(s"""WITH $holtWintersCte
              |SELECT user_id, event_id, ROUND(l, 6) AS level,
              |  ROUND(b, 6) AS trend,
              |  ROUND(CASE len(xs) % 4 WHEN 0 THEN s1 WHEN 1 THEN s2
              |        WHEN 2 THEN s3 ELSE s4 END, 6) AS season,
              |  ROUND(l + b + CASE len(xs) % 4 WHEN 0 THEN s1 WHEN 1 THEN s2
              |        WHEN 2 THEN s3 ELSE s4 END, 6) AS forecast
              |FROM hw12""".stripMargin)),

    // Mann–Kendall trend test + Sen's slope per user over the last 10
    // observations: the distribution-free "is this series trending"
    // verdict (S statistic, tie-corrected variance, continuity-corrected
    // z) plus the robust median-of-pairwise-slopes rate. All pair work
    // is row-local over the bounded window on both engines.
    QueryDef("q_mann_kendall",
      (s, dir) => Temporal.mannKendall(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        window = 10, tiebreak = Seq("event_id")),
      Some("""WITH o AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |                       ORDER BY ts DESC, event_id DESC) AS rk
             |  FROM events WHERE value IS NOT NULL),
             |w AS (SELECT user_id, list(v ORDER BY rk DESC) AS xs
             |  FROM o WHERE rk <= 10 GROUP BY user_id),
             |c AS (SELECT user_id, len(xs) AS n,
             |    CASE WHEN len(xs) >= 2 THEN
             |      list_sum(list_transform(generate_series(2, len(xs)), j ->
             |        list_sum(list_transform(generate_series(1, j-1), i ->
             |          CASE WHEN xs[j] > xs[i] THEN 1
             |               WHEN xs[j] < xs[i] THEN -1 ELSE 0 END)))) END AS s,
             |    list_sum(list_transform(xs, v0 ->
             |      (len(list_filter(xs, u -> u = v0)) - 1) *
             |      (2 * len(list_filter(xs, u -> u = v0)) + 5))) AS tie,
             |    CASE WHEN len(xs) >= 2 THEN
             |      list_sort(flatten(list_transform(generate_series(2, len(xs)), j ->
             |        list_transform(generate_series(1, j-1), i ->
             |          (xs[j]-xs[i]) / CAST(j-i AS DOUBLE))))) END AS sl
             |  FROM w),
             |f AS (SELECT user_id, n, s, sl, len(sl) AS m,
             |    CASE WHEN n >= 2
             |      THEN (CAST(n AS BIGINT)*(n-1)*(2*n+5) - tie) / 18.0 END AS var_s
             |  FROM c)
             |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
             |  ROUND(var_s, 6) AS var_s,
             |  ROUND(CASE WHEN var_s > 0 THEN
             |    CASE WHEN s > 0 THEN (s-1)/sqrt(var_s)
             |         WHEN s < 0 THEN (s+1)/sqrt(var_s) ELSE 0.0 END END, 6) AS z,
             |  ROUND(CASE WHEN m >= 1 THEN
             |    CASE WHEN m % 2 = 1 THEN sl[(m+1)//2]
             |         ELSE (sl[m//2] + sl[m//2+1])/2.0 END END, 6) AS sen_slope
             |FROM f""".stripMargin)),

    // Ljung–Box portmanteau per user over the first 3 ACFs — "is this
    // series white noise" as ONE χ²-style number; replayable from the
    // published 6-dp ACFs by construction.
    QueryDef("q_ljung_box",
      (s, dir) => Temporal.ljungBox(
        Tables.load(s, dir, "events").filter(col("value").isNotNull),
        Seq("user_id"), "ts", "value", maxLag = 3,
        tiebreak = Seq("event_id")),
      Some("""WITH e0 AS (SELECT user_id, ts, event_id, value
             |  FROM events WHERE value IS NOT NULL),
             |d AS (SELECT user_id, ts, event_id,
             |    value - AVG(value) OVER (PARTITION BY user_id) AS dv
             |  FROM e0),
             |l AS (SELECT user_id, dv,
             |    LEAD(dv, 1) OVER w AS l1, LEAD(dv, 2) OVER w AS l2,
             |    LEAD(dv, 3) OVER w AS l3
             |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |a AS (SELECT user_id, SUM(dv*dv) AS ss,
             |    SUM(dv*l1) AS s1, COUNT(l1) AS p1,
             |    SUM(dv*l2) AS s2, COUNT(l2) AS p2,
             |    SUM(dv*l3) AS s3, COUNT(l3) AS p3
             |  FROM l GROUP BY 1),
             |r AS (SELECT user_id, CAST(1 AS BIGINT) AS lag,
             |    CAST(p1 AS BIGINT) AS n_pairs,
             |    CASE WHEN ss > 0 THEN ROUND(s1/ss, 6) END AS acf FROM a
             |  UNION ALL SELECT user_id, 2, p2,
             |    CASE WHEN ss > 0 THEN ROUND(s2/ss, 6) END FROM a
             |  UNION ALL SELECT user_id, 3, p3,
             |    CASE WHEN ss > 0 THEN ROUND(s3/ss, 6) END FROM a),
             |g AS (SELECT user_id,
             |    CAST(MAX(n_pairs + lag) AS BIGINT) AS n,
             |    CAST(COUNT(*) AS BIGINT) AS lags,
             |    SUM(CASE WHEN acf IS NOT NULL AND n_pairs > 0
             |      THEN acf * acf / n_pairs END) AS s,
             |    CAST(COALESCE(SUM(CASE WHEN acf IS NULL OR n_pairs <= 0
             |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad
             |  FROM r GROUP BY 1)
             |SELECT user_id, n, lags,
             |  ROUND(CASE WHEN bad = 0 AND n > 0
             |    THEN CAST(n AS DOUBLE) * (n + 2) * s END, 6) AS q
             |FROM g""".stripMargin)),

    // Wald–Wolfowitz runs test per user: does the above/below-median
    // sign sequence clump or alternate beyond chance; exact per-key
    // median split, run-count z from the classical moments.
    QueryDef("q_runs_test",
      (s, dir) => Temporal.runsTest(Tables.load(s, dir, "events")
          .withColumn("cents", round(col("value") * 100).cast("long")),
        Seq("user_id"), "ts", "cents", tiebreak = Seq("event_id")),
      Some("""WITH b AS (SELECT user_id, ts, event_id,
             |    CAST(ROUND(value * 100) AS BIGINT) AS x
             |  FROM events WHERE value IS NOT NULL),
             |md AS (SELECT user_id, median(x) AS med FROM b GROUP BY 1),
             |s AS (SELECT b.user_id, b.ts, b.event_id,
             |    (CAST(x AS DOUBLE) > med) AS up
             |  FROM b JOIN md ON b.user_id = md.user_id
             |  WHERE CAST(x AS DOUBLE) <> med),
             |f AS (SELECT user_id, up,
             |    CASE WHEN LAG(up) OVER w IS NULL OR LAG(up) OVER w <> up
             |      THEN 1 ELSE 0 END AS flip
             |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (SELECT user_id,
             |    CAST(COALESCE(SUM(CASE WHEN up THEN 1 ELSE 0 END), 0)
             |      AS BIGINT) AS n_above,
             |    CAST(COALESCE(SUM(CASE WHEN NOT up THEN 1 ELSE 0 END), 0)
             |      AS BIGINT) AS n_below,
             |    CAST(COALESCE(SUM(flip), 0) AS BIGINT) AS runs
             |  FROM f GROUP BY 1),
             |h AS (SELECT user_id, n_above, n_below, runs,
             |    CAST(n_above AS DOUBLE) + n_below AS nd FROM g),
             |h2 AS (SELECT *,
             |    2.0 * n_above * n_below * (2.0 * n_above * n_below - nd) /
             |      (nd * nd * (nd - 1)) AS vr FROM h)
             |SELECT user_id, n_above, n_below, runs,
             |  ROUND(CASE WHEN n_above > 0 AND n_below > 0 AND vr > 0
             |    THEN (runs - (1.0 + 2.0 * n_above * n_below / nd)) / SQRT(vr)
             |  END, 6) AS z
             |FROM h2""".stripMargin)),

    // Durbin–Watson serial-correlation statistic per user over the full
    // cents series: successive differences cancel the mean exactly
    // (integer numerator), denominator is the clamped quadratic form —
    // one double division per key.
    QueryDef("q_durbin_watson",
      (s, dir) => Temporal.durbinWatson(Tables.load(s, dir, "events")
          .withColumn("cents", round(col("value") * 100).cast("long")),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "cents",
        tiebreak = Seq("event_id"), minN = 8),
      Some("""WITH g AS (SELECT user_id,
             |    CAST(ROUND(value * 100) AS BIGINT) AS x,
             |    LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events WHERE value IS NOT NULL),
             |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS s,
             |    SUM(CAST(x AS HUGEINT) * x) AS ss,
             |    SUM(CAST(x - prev AS HUGEINT) * (x - prev)) AS num
             |  FROM g GROUP BY 1),
             |b AS (SELECT user_id, n, num,
             |    GREATEST(CAST(ss AS DOUBLE)
             |      - CAST(s AS DOUBLE) * s / n, 0.0) AS den
             |  FROM a)
             |SELECT user_id, n,
             |  ROUND(CASE WHEN n >= 8 AND den > 0
             |    THEN CAST(num AS DOUBLE) / den END, 6) AS dw
             |FROM b""".stripMargin)),

    // Bounded-window EWMA per user (alpha and 1-alpha chosen dyadic so the
    // fold literals are bit-identical across engines).
    QueryDef("q_ewma",
      (s, dir) => Temporal.ewma(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        alpha = 0.25, window = 10, tiebreak = Seq("event_id"),
        idCols = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
             |  FROM events)
             |SELECT user_id, event_id,
             |  list_reduce(xs, (acc, v) -> 0.25 * v + 0.75 * acc) AS ewma
             |FROM x""".stripMargin)),

    // Theta-method forecast (the M3 winner, in its SES-with-halved-drift
    // closed form, Hyndman & Billah 2003) per user at horizon 3: SES
    // level fold + OLS window slope from single-scalar list folds
    // (dyadic alpha = 0.25), closed-form position sums. level/slope are
    // emitted RAW (bit-identical folds; the dyadic level LANDS on 6-dp
    // midpoints where engine rounding modes disagree — observed on this
    // fixture); only the pow-bearing forecast rounds at 6 dp.
    QueryDef("q_theta_forecast", (s, dir) =>
      Temporal.thetaForecast(
        Tables.load(s, dir, "events").filter(col("value").isNotNull),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        alpha = 0.25, window = 10, h = 3, tiebreak = Seq("event_id"),
        idCols = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_id,
             |    list(CAST(value AS DOUBLE))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
             |  FROM events WHERE value IS NOT NULL),
             |f AS (SELECT user_id, event_id,
             |    list_reduce(xs, (a, v) -> 0.25 * v + 0.75 * a) AS lv,
             |    list_reduce(xs, (a, v) -> a + v) AS sx,
             |    list_reduce(list_transform(range(1, len(xs) + 1),
             |      i -> xs[i] * i), (a, v) -> a + v) AS sxy,
             |    CAST(len(xs) AS DOUBLE) AS nd
             |  FROM x),
             |g AS (SELECT user_id, event_id, lv, nd, sx, sxy,
             |    nd * (nd + 1.0) / 2.0 AS si,
             |    nd * (nd + 1.0) * (2.0 * nd + 1.0) / 6.0 AS sii
             |  FROM f),
             |bb AS (SELECT user_id, event_id, lv, nd,
             |    CASE WHEN nd >= 2
             |      THEN (nd * sxy - si * sx) / (nd * sii - si * si) END AS b
             |  FROM g)
             |SELECT user_id, event_id,
             |  lv AS level, b AS slope,
             |  ROUND(lv + COALESCE((b / 2.0) *
             |    (2.0 + (1.0 - pow(0.75, nd)) / 0.25), 0.0), 6) AS forecast
             |FROM bb""".stripMargin)),

    // Croston intermittent-demand forecast on per-user daily PURCHASE
    // counts over the January calendar grid (explicit zeros -- the
    // zeros ARE the signal): SES on nonzero sizes and on inter-demand
    // intervals, forecast = z/p. Both recursions are single-scalar
    // list folds with a dyadic alpha, so the DuckDB replay is
    // bit-identical (and the q_holt_smooth struct-lambda caveat never
    // arises).
    QueryDef("q_croston", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val users = ev.select(col("user_id")).distinct()
      val days = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-01")), to_date(lit("2024-01-31")))).as("day"))
      val dem = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("demand"))
      val grid = users.crossJoin(days)
        .join(dem, Seq("user_id", "day"), "left")
        .withColumn("demand", coalesce(col("demand"), lit(0.0)))
      Temporal.croston(grid, Seq("user_id"), "day", "demand",
        alpha = 0.25, window = 31, idCols = Seq("day"))
    },
      Some("""WITH days AS (SELECT unnest(generate_series(
             |      DATE '2024-01-01', DATE '2024-01-31',
             |      INTERVAL 1 DAY))::DATE AS day),
             |u AS (SELECT DISTINCT user_id FROM events),
             |d AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS DOUBLE) AS dem
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |g AS (SELECT u.user_id, days.day, COALESCE(d.dem, 0.0) AS dem
             |  FROM u CROSS JOIN days
             |  LEFT JOIN d ON d.user_id = u.user_id AND d.day = days.day),
             |x AS (SELECT user_id, day,
             |    list(dem) OVER (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN 30 PRECEDING AND CURRENT ROW) AS xs
             |  FROM g),
             |y AS (SELECT user_id, day, xs,
             |    list_filter(range(1, len(xs) + 1), i -> xs[i] > 0) AS pos
             |  FROM x),
             |z AS (SELECT user_id, day, pos,
             |    CASE WHEN len(pos) > 0 THEN list_reduce(
             |      list_transform(pos, i -> xs[i]),
             |      (a, v) -> 0.25 * v + 0.75 * a) END AS zh,
             |    CASE WHEN len(pos) > 0 THEN list_reduce(
             |      list_transform(range(1, len(pos) + 1),
             |        k -> CASE WHEN k = 1 THEN CAST(pos[1] AS DOUBLE)
             |             ELSE CAST(pos[k] - pos[k-1] AS DOUBLE) END),
             |      (a, v) -> 0.25 * v + 0.75 * a) END AS ph
             |  FROM y)
             |SELECT user_id, day, CAST(len(pos) AS BIGINT) AS n_demands,
             |  ROUND(zh, 6) AS z_hat, ROUND(ph, 6) AS p_hat,
             |  ROUND(zh / ph, 6) AS forecast
             |FROM z""".stripMargin)),

    // Syntetos-Boylan approximation twin of q_croston: Croston's z/p
    // is biased high (Jensen); SBA multiplies the forecast by
    // (1 - alpha/2) = 0.875 — the correction production
    // intermittent-demand systems ship. Same fixture, same folds;
    // only the forecast column scales ((c * z) / p in that exact op
    // order on both engines; 0.875 is dyadic, so no new FP surface).
    QueryDef("q_croston_sba", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val users = ev.select(col("user_id")).distinct()
      val days = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-01")), to_date(lit("2024-01-31")))).as("day"))
      val dem = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("demand"))
      val grid = users.crossJoin(days)
        .join(dem, Seq("user_id", "day"), "left")
        .withColumn("demand", coalesce(col("demand"), lit(0.0)))
      Temporal.croston(grid, Seq("user_id"), "day", "demand",
        alpha = 0.25, window = 31, idCols = Seq("day"), sba = true)
    },
      Some("""WITH days AS (SELECT unnest(generate_series(
             |      DATE '2024-01-01', DATE '2024-01-31',
             |      INTERVAL 1 DAY))::DATE AS day),
             |u AS (SELECT DISTINCT user_id FROM events),
             |d AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS DOUBLE) AS dem
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |g AS (SELECT u.user_id, days.day, COALESCE(d.dem, 0.0) AS dem
             |  FROM u CROSS JOIN days
             |  LEFT JOIN d ON d.user_id = u.user_id AND d.day = days.day),
             |x AS (SELECT user_id, day,
             |    list(dem) OVER (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN 30 PRECEDING AND CURRENT ROW) AS xs
             |  FROM g),
             |y AS (SELECT user_id, day, xs,
             |    list_filter(range(1, len(xs) + 1), i -> xs[i] > 0) AS pos
             |  FROM x),
             |z AS (SELECT user_id, day, pos,
             |    CASE WHEN len(pos) > 0 THEN list_reduce(
             |      list_transform(pos, i -> xs[i]),
             |      (a, v) -> 0.25 * v + 0.75 * a) END AS zh,
             |    CASE WHEN len(pos) > 0 THEN list_reduce(
             |      list_transform(range(1, len(pos) + 1),
             |        k -> CASE WHEN k = 1 THEN CAST(pos[1] AS DOUBLE)
             |             ELSE CAST(pos[k] - pos[k-1] AS DOUBLE) END),
             |      (a, v) -> 0.25 * v + 0.75 * a) END AS ph
             |  FROM y)
             |SELECT user_id, day, CAST(len(pos) AS BIGINT) AS n_demands,
             |  ROUND(zh, 6) AS z_hat, ROUND(ph, 6) AS p_hat,
             |  ROUND((CAST(0.875 AS DOUBLE) * zh) / ph, 6) AS forecast
             |FROM z""".stripMargin)),

    // Rolling median per user over a bounded 11-row trailing frame — the
    // robust twin of q_rolling_zscore; sort + middle-pick is bit-exact in
    // both engines, so no rounding.
    QueryDef("q_rolling_median",
      (s, dir) => Temporal.rollingMedian(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        window = 11, tiebreak = Seq("event_id"), idCols = Seq("event_id")),
      Some("""WITH x AS (SELECT user_id, event_id,
             |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS xs
             |  FROM events)
             |SELECT user_id, event_id,
             |  CASE WHEN len(xs) % 2 = 1 THEN xs[(len(xs) + 1) // 2]
             |       ELSE (xs[len(xs) // 2] + xs[len(xs) // 2 + 1]) / 2.0 END AS rolling_median
             |FROM x""".stripMargin)),

    // Holt double-exponential smoothing (trend-aware EWMA) per user over
    // a bounded 8-row trailing frame: level/trend recurrences folded
    // sequentially on both engines (bit-identical order), one-step
    // forecast = level + trend. The oracle UNROLLS the 8-step fold as
    // chained CTEs instead of a list_reduce struct lambda: DuckDB
    // v1.0.0 evaluates the lambda's struct fields in place, so a field
    // reading acc.l after the l field wrote it sees the NEW level —
    // silently wrong trends (verified against a scalar reference).
    QueryDef("q_holt_smooth",
      (s, dir) => Temporal.holtSmooth(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        alpha = 0.3, gamma = 0.2, window = 8,
        tiebreak = Seq("event_id"), idCols = Seq("event_id")),
      Some(s"""WITH $holtCte
              |SELECT user_id, event_id, ROUND(l, 6) AS level,
              |  ROUND(b, 6) AS trend, ROUND(l + b, 6) AS forecast
              |FROM s8""".stripMargin)),

    // Split-conformal interval around the Holt one-step forecast: the
    // k-th-smallest calibration residual (k = ceil((n+1)(1-alpha)),
    // alpha = 0.2) is a radius with distribution-free >= 80% coverage;
    // held-out coverage reported next to it. Calibration split =
    // event_id parity (deterministic, never random).
    QueryDef("q_conformal_holt",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val holt = Temporal.holtSmooth(ev, Seq("user_id"), "ts", "value",
          alpha = 0.3, gamma = 0.2, window = 8,
          tiebreak = Seq("event_id"), idCols = Seq("event_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val nxt = ev.select(col("user_id"), col("event_id"),
          lead(col("value"), 1).over(w).as("next_value"))
        val pairs = holt.join(nxt, Seq("user_id", "event_id"))
          .filter(col("next_value").isNotNull)
          .select(col("forecast").as("pred"),
            col("next_value").as("actual"),
            (col("event_id") % 2 === 0).as("cal"))
        graft.ops.Calibrate.splitConformal(pairs, "pred", "actual", "cal",
          alpha = 0.2)
      },
      Some(s"""WITH $holtCte,
              |h AS (SELECT user_id, event_id, ROUND(l + b, 6) AS forecast FROM s8),
              |nx AS (SELECT user_id, event_id,
              |    LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
              |  FROM events),
              |pr AS (SELECT ABS(CAST(nx.next_value AS DOUBLE) - h.forecast) AS nc,
              |    (h.event_id % 2 = 0) AS cal
              |  FROM h JOIN nx USING(user_id, event_id)
              |  WHERE nx.next_value IS NOT NULL),
              |counts AS (SELECT CAST(SUM(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT) AS n_calib,
              |    CAST(SUM(CASE WHEN cal THEN 0 ELSE 1 END) AS BIGINT) AS n_test FROM pr),
              |c AS (SELECT nc, ROW_NUMBER() OVER (ORDER BY nc) AS rn FROM pr WHERE cal),
              |q AS (SELECT MAX(nc) AS qhat FROM c CROSS JOIN counts
              |  WHERE rn = CAST(ceil((n_calib + 1) * 0.8) AS BIGINT)),
              |cov AS (SELECT SUM(CASE WHEN nc <= q.qhat THEN 1 ELSE 0 END) AS covered
              |  FROM pr CROSS JOIN q WHERE NOT cal)
              |SELECT counts.n_calib, counts.n_test,
              |  CAST(0.8 AS DOUBLE) AS target_coverage,
              |  ROUND(q.qhat, 6) AS qhat,
              |  CASE WHEN counts.n_test > 0 AND q.qhat IS NOT NULL
              |    THEN ROUND(COALESCE(cov.covered, 0) * 1.0 / counts.n_test, 6) END AS coverage
              |FROM counts CROSS JOIN q CROSS JOIN cov""".stripMargin)),

    // Kaplan-Meier time-to-first-purchase: per user the days from first
    // event to first purchase (censored at last activity when none),
    // cohorts = user_id % 3 — the right-censored retention curve naive
    // conversion ratios get wrong. Sequential factor fold on both sides.
    QueryDef("q_kaplan_meier",
      (s, dir) => {
        val subj = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t0"), max(col("ts")).as("tmax"),
            min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
          .select((col("user_id") % 3).as("cohort"),
            floor((unix_micros(coalesce(col("tp"), col("tmax"))) -
              unix_micros(col("t0"))) / lit(86400000000L))
              .cast("long").as("t"),
            col("tp").isNotNull.as("ev"))
        Temporal.kaplanMeier(subj, Seq("cohort"), "t", "ev")
      },
      Some("""WITH subj AS (SELECT user_id % 3 AS cohort,
             |    CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
             |         THEN date_diff('microsecond', MIN(ts),
             |              MIN(CASE WHEN event_type = 'purchase' THEN ts END)) // 86400000000
             |         ELSE date_diff('microsecond', MIN(ts), MAX(ts)) // 86400000000 END AS t,
             |    (MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL) AS ev
             |  FROM events GROUP BY user_id),
             |g AS (SELECT cohort, t,
             |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
             |    CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
             |  FROM subj GROUP BY 1, 2),
             |r AS (SELECT cohort, t, n_events, n_censored,
             |    CAST(SUM(n_events + n_censored) OVER (PARTITION BY cohort)
             |      - COALESCE(SUM(n_events + n_censored) OVER (PARTITION BY cohort
             |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS n_risk
             |  FROM g),
             |f AS (SELECT cohort, t, n_risk, n_events, n_censored,
             |    list(1.0 - n_events * 1.0 / n_risk) OVER (PARTITION BY cohort
             |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
             |  FROM r)
             |SELECT cohort, t, n_risk, n_events, n_censored,
             |  ROUND(list_reduce(fs, (a, b) -> a * b), 6) AS survival
             |FROM f""".stripMargin)),

    // Restricted mean survival time at tau = 20 days over the same
    // cohort curves: the area under the KM step function — "expected
    // days retained in the first 20" — integrating the 6-dp-rounded
    // survival heights both engines already agree on; segment lengths
    // are exact integer day differences.
    QueryDef("q_rmst",
      (s, dir) => {
        val subj = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t0"), max(col("ts")).as("tmax"),
            min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
          .select((col("user_id") % 3).as("cohort"),
            floor((unix_micros(coalesce(col("tp"), col("tmax"))) -
              unix_micros(col("t0"))) / lit(86400000000L))
              .cast("long").as("t"),
            col("tp").isNotNull.as("ev"))
        Temporal.rmst(subj, Seq("cohort"), "t", "ev", tau = 20.0)
      },
      Some("""WITH subj AS (SELECT user_id % 3 AS cohort,
             |    CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
             |         THEN date_diff('microsecond', MIN(ts),
             |              MIN(CASE WHEN event_type = 'purchase' THEN ts END)) // 86400000000
             |         ELSE date_diff('microsecond', MIN(ts), MAX(ts)) // 86400000000 END AS t,
             |    (MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL) AS ev
             |  FROM events GROUP BY user_id),
             |g AS (SELECT cohort, t,
             |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
             |    CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
             |  FROM subj GROUP BY 1, 2),
             |r AS (SELECT cohort, t, n_events, n_censored,
             |    CAST(SUM(n_events + n_censored) OVER (PARTITION BY cohort)
             |      - COALESCE(SUM(n_events + n_censored) OVER (PARTITION BY cohort
             |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS n_risk
             |  FROM g),
             |f AS (SELECT cohort, t, n_risk,
             |    list(1.0 - n_events * 1.0 / n_risk) OVER (PARTITION BY cohort
             |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
             |  FROM r),
             |km AS (SELECT cohort, t, n_risk,
             |    ROUND(list_reduce(fs, (a, b) -> a * b), 6) AS survival
             |  FROM f),
             |seg AS (SELECT cohort, t, n_risk, survival,
             |    COALESCE(LAG(survival) OVER (PARTITION BY cohort ORDER BY t),
             |      1.0) AS sp,
             |    COALESCE(LAG(CAST(t AS DOUBLE)) OVER (PARTITION BY cohort
             |      ORDER BY t), 0.0) AS tp
             |  FROM km)
             |SELECT cohort, CAST(20.0 AS DOUBLE) AS tau,
             |  CAST(MAX(n_risk) AS BIGINT) AS n_subjects,
             |  ROUND(SUM(sp * (LEAST(CAST(t AS DOUBLE), 20.0) - LEAST(tp, 20.0)))
             |    + max_by(survival, t) *
             |      (20.0 - LEAST(MAX(CAST(t AS DOUBLE)), 20.0)), 6) AS rmst
             |FROM seg GROUP BY cohort""".stripMargin)),

    // Log-rank test between the even/odd-user cohorts' time-to-first-
    // purchase curves: chi-squared(1) statistic from per-event-time
    // hypergeometric O-E/V sums — the significance test behind the
    // q_kaplan_meier plot (expected near-null on this random split).
    QueryDef("q_log_rank",
      (s, dir) => {
        val subj = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t0"), max(col("ts")).as("tmax"),
            min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
          .select((col("user_id") % 2 === 0).cast("string").as("cohort"),
            floor((unix_micros(coalesce(col("tp"), col("tmax"))) -
              unix_micros(col("t0"))) / lit(86400000000L))
              .cast("long").as("t"),
            col("tp").isNotNull.as("ev"))
        Temporal.logRank(subj, "cohort", "true", "false", "t", "ev")
      },
      Some("""WITH subj AS (SELECT (user_id % 2 = 0) AS isa,
             |    CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
             |         THEN date_diff('microsecond', MIN(ts),
             |              MIN(CASE WHEN event_type = 'purchase' THEN ts END)) // 86400000000
             |         ELSE date_diff('microsecond', MIN(ts), MAX(ts)) // 86400000000 END AS t,
             |    (MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL) AS ev
             |  FROM events GROUP BY user_id),
             |g AS (SELECT t,
             |    SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS d,
             |    SUM(CASE WHEN ev AND isa THEN 1 ELSE 0 END) AS d_a,
             |    COUNT(*) AS leave,
             |    SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS leave_a
             |  FROM subj GROUP BY t),
             |r0 AS (SELECT *,
             |    CAST(SUM(leave) OVER () - COALESCE(SUM(leave) OVER w, 0) AS DOUBLE) AS n,
             |    CAST(SUM(leave_a) OVER () - COALESCE(SUM(leave_a) OVER w, 0) AS DOUBLE) AS n_at
             |  FROM g WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |r AS (SELECT d_a, d * n_at / n AS e_t,
             |    CASE WHEN n > 1 THEN d * (n_at / n) * (1.0 - n_at / n) * (n - d) / (n - 1)
             |         ELSE 0.0 END AS v_t
             |  FROM r0 WHERE d >= 1),
             |sums AS (SELECT CAST(COALESCE(SUM(d_a), 0) AS BIGINT) AS observed_a,
             |    COALESCE(SUM(e_t), 0.0) AS e, COALESCE(SUM(v_t), 0.0) AS v FROM r),
             |counts AS (SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n_b FROM subj)
             |SELECT n_a, n_b, observed_a, ROUND(e, 6) AS expected_a,
             |  ROUND(v, 6) AS variance,
             |  CASE WHEN v > 0 THEN ROUND((observed_a - e) * (observed_a - e) / v, 6) END AS chi2
             |FROM counts CROSS JOIN sums""".stripMargin)),

    // Two-sided CUSUM drift detector per user (target 50, slack 10,
    // decision interval 150): the clamped recurrence rewritten as prefix
    // sum minus running min, so unbounded history costs two running
    // windows — both engines evaluate them sequentially in the same
    // (ts, event_id) order.
    QueryDef("q_cusum",
      (s, dir) => Temporal.cusum(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        target = 50.0, slack = 10.0, h = 150.0,
        tiebreak = Seq("event_id"), idCols = Seq("event_id")),
      Some("""WITH p AS (SELECT user_id, event_id, ts,
             |    SUM(CAST(value AS DOUBLE) - 50.0 - 10.0) OVER w AS ph,
             |    SUM(50.0 - 10.0 - CAST(value AS DOUBLE)) OVER w AS pl
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |s AS (SELECT user_id, event_id,
             |    ROUND(ph - LEAST(0.0, MIN(ph) OVER w2), 6) AS cusum_hi,
             |    ROUND(pl - LEAST(0.0, MIN(pl) OVER w2), 6) AS cusum_lo
             |  FROM p
             |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id, cusum_hi, cusum_lo,
             |  (cusum_hi > 150.0 OR cusum_lo > 150.0) AS alarm
             |FROM s""".stripMargin)),

    // Page-Hinkley drift test: self-baselined (running mean), so unlike
    // CUSUM no reference target — m_t = sum(v - delta) - sum(running
    // mean) against its running minimum. Three running windows on one
    // shuffle. run_mean is projected OUT of the oracle check: it is an
    // integer-grid sum over n, which lands exactly on the half-micro
    // rounding grid (the q_seasonal_naive finding) — ph_stat's mean-sum
    // denominators are lcm(1..n)-sized, safely off the grid.
    QueryDef("q_page_hinkley",
      (s, dir) => Temporal.pageHinkley(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        delta = 2.0, lambda = 400.0,
        tiebreak = Seq("event_id"), idCols = Seq("event_id"))
        .drop("run_mean"),
      Some("""WITH b AS (SELECT user_id, event_id, ts,
             |    CAST(value AS DOUBLE) AS v
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT user_id, event_id, ts, v,
             |    SUM(v) OVER w / COUNT(v) OVER w AS mean
             |  FROM b
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |m AS (SELECT user_id, event_id, ts, mean,
             |    SUM(v - 2.0) OVER w2 - SUM(mean) OVER w2 AS m
             |  FROM r
             |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |p AS (SELECT user_id, event_id,
             |    m - MIN(m) OVER w3 AS ph
             |  FROM m
             |  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id,
             |  ROUND(ph, 6) AS ph_stat, ROUND(ph, 6) > 400.0 AS alarm
             |FROM p""".stripMargin)),

    // Lagged cross-correlation: does click intensity lead purchase
    // intensity by k days, pooled over users? Integer count sums keep
    // every corr input exact on both engines.
    QueryDef("q_cross_correlation", (s, dir) =>
      Temporal.crossCorrelation(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", typeCol = "event_type",
        typeA = "click", typeB = "purchase", maxLag = 5), {
      val branches = (0 to 5).map(k =>
        s"""SELECT $k AS lag, a, LEAD(b, $k) OVER
           |    (PARTITION BY user_id ORDER BY d) AS bk FROM s"""
          .stripMargin).mkString("\n              |  UNION ALL ")
      Some(s"""WITH s AS (SELECT user_id, date_trunc('day', ts) AS d,
              |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS a,
              |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS b
              |  FROM events WHERE event_type IN ('click', 'purchase')
              |  GROUP BY 1, 2),
              |l AS (
              |  $branches),
              |g AS (SELECT lag, COUNT(*) AS n,
              |    CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(bk) AS DOUBLE) AS sb,
              |    CAST(SUM(a * a) AS DOUBLE) AS saa,
              |    CAST(SUM(bk * bk) AS DOUBLE) AS sbb,
              |    CAST(SUM(a * bk) AS DOUBLE) AS sab
              |  FROM l WHERE bk IS NOT NULL GROUP BY 1)
              |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
              |  ROUND(CASE WHEN (n * saa - sa * sa) > 0
              |              AND (n * sbb - sb * sb) > 0
              |    THEN (n * sab - sa * sb) /
              |      sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) END, 6)
              |    AS ccf
              |FROM g""".stripMargin)
    }),

    // Exact Shapley channel attribution over the 4 touch channels (2^4
    // subset lattice + factorial weights are JVM-built plan literals,
    // injected into the oracle as VALUES rows): average marginal
    // contribution of each channel to pre-purchase journeys.
    QueryDef("q_shapley_attribution", (s, dir) =>
      Temporal.shapleyAttribution(Tables.load(s, dir, "events"),
        userCol = "user_id", tsCol = "ts", typeCol = "event_type",
        channels = Seq("click", "view", "signup", "error"),
        convType = "purchase"), {
      val chans = Seq("click", "view", "signup", "error")
      val nCh = chans.size
      def fact(k: Int): Double = (1 to k).foldLeft(1.0)(_ * _)
      val pairRows = (for {
        (c, i) <- chans.zipWithIndex
        sub <- 0 until (1 << nCh) if (sub & (1 << i)) == 0
      } yield {
        val size = Integer.bitCount(sub)
        val w = fact(size) * fact(nCh - 1 - size) / fact(nCh)
        s"('$c', $sub, ${sub | (1 << i)}, CAST(${f"$w%.17g"} AS DOUBLE))"
      }).mkString(",\n              |    ")
      val bitCase = chans.zipWithIndex.map { case (c, i) =>
        s"WHEN '$c' THEN ${1L << i}"
      }.mkString(" ")
      val chanBits = chans.zipWithIndex.map { case (c, i) =>
        s"('$c', ${1L << i})"
      }.mkString(", ")
      Some(s"""WITH conv AS (SELECT user_id AS u, MIN(ts) AS cts
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |tch AS (SELECT DISTINCT e.user_id AS u,
              |    CASE e.event_type $bitCase END AS bit
              |  FROM events e JOIN conv ON conv.u = e.user_id
              |  WHERE e.ts < conv.cts
              |    AND e.event_type IN (${chans.map("'" + _ + "'").mkString(", ")})),
              |mk AS (SELECT u, CAST(SUM(bit) AS BIGINT) AS mask
              |  FROM tch GROUP BY 1),
              |sc AS (SELECT mask, COUNT(*) AS c FROM mk GROUP BY 1),
              |lat AS (SELECT unnest(range(0, ${1 << nCh})) AS s),
              |v AS (SELECT lat.s,
              |    CAST(COALESCE(SUM(sc.c), 0) AS DOUBLE) AS v
              |  FROM lat LEFT JOIN sc ON (sc.mask & lat.s) = sc.mask
              |  GROUP BY 1),
              |pairs(channel, s, si, w) AS (VALUES
              |    $pairRows),
              |phi AS (SELECT channel, SUM(w * (vi.v - vs.v)) AS phi
              |  FROM pairs JOIN v vs ON vs.s = pairs.s
              |  JOIN v vi ON vi.s = pairs.si GROUP BY 1),
              |tc AS (SELECT ch.channel,
              |    CAST(COALESCE(SUM(sc.c), 0) AS BIGINT)
              |      AS touched_conversions
              |  FROM (VALUES $chanBits) ch(channel, bit)
              |  LEFT JOIN sc ON (sc.mask & ch.bit) <> 0 GROUP BY 1)
              |SELECT phi.channel, tc.touched_conversions,
              |  ROUND(phi.phi, 6) AS shapley,
              |  ROUND(CASE WHEN t.tot > 0 THEN phi.phi / t.tot END, 6)
              |    AS share
              |FROM phi JOIN tc ON tc.channel = phi.channel
              |CROSS JOIN (SELECT SUM(phi) AS tot FROM phi) t"""
        .stripMargin)
    }),

    // Permutation-sampling Shapley (the >12-channel path): 60 seeded
    // Fisher-Yates permutations, each journey crediting its pi-last
    // channel -- integer counts / m, so the oracle replays the EXACT
    // same sample from an injected literal permutation table.
    QueryDef("q_shapley_sampled", (s, dir) =>
      Temporal.shapleySampled(Tables.load(s, dir, "events"),
        userCol = "user_id", tsCol = "ts", typeCol = "event_type",
        channels = Seq("click", "view", "signup", "error"),
        convType = "purchase", nPerms = 60, seed = 7L), {
      val chans = Seq("click", "view", "signup", "error")
      val nCh = chans.size
      val perms = Temporal.sampledPermutations(nCh, 60, 7L)
      val permRows = perms.zipWithIndex.flatMap { case (pos, id) =>
        pos.zipWithIndex.map { case (p, j) => s"($id, $j, $p)" }
      }.mkString(",\n              |    ")
      val bitCase = chans.zipWithIndex.map { case (c, i) =>
        s"WHEN '$c' THEN ${1L << i}"
      }.mkString(" ")
      val chanRows = chans.zipWithIndex.map { case (c, i) =>
        s"('$c', $i, ${1L << i})"
      }.mkString(", ")
      Some(s"""WITH conv AS (SELECT user_id AS u, MIN(ts) AS cts
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |tch AS (SELECT DISTINCT e.user_id AS u,
              |    CASE e.event_type $bitCase END AS bit
              |  FROM events e JOIN conv ON conv.u = e.user_id
              |  WHERE e.ts < conv.cts
              |    AND e.event_type IN (${chans.map("'" + _ + "'").mkString(", ")})),
              |mk AS (SELECT u, CAST(SUM(bit) AS BIGINT) AS mask
              |  FROM tch GROUP BY 1),
              |sc AS (SELECT mask, COUNT(*) AS c FROM mk GROUP BY 1),
              |perms(perm_id, idx, pos) AS (VALUES
              |    $permRows),
              |w AS (SELECT sc.mask, sc.c, p.perm_id, p.idx,
              |    ROW_NUMBER() OVER (PARTITION BY sc.mask, p.perm_id
              |      ORDER BY p.pos DESC) AS r
              |  FROM sc JOIN perms p ON ((sc.mask >> p.idx) & 1) = 1),
              |contrib AS (SELECT idx, CAST(SUM(c) AS BIGINT) AS s
              |  FROM w WHERE r = 1 GROUP BY 1),
              |ch(channel, idx, bit) AS (VALUES $chanRows),
              |phi AS (SELECT ch.channel, COALESCE(contrib.s, 0) AS s
              |  FROM ch LEFT JOIN contrib USING (idx)),
              |tc AS (SELECT ch.channel,
              |    CAST(COALESCE(SUM(sc.c), 0) AS BIGINT)
              |      AS touched_conversions
              |  FROM ch LEFT JOIN sc ON (sc.mask & ch.bit) <> 0 GROUP BY 1)
              |SELECT phi.channel, tc.touched_conversions,
              |  ROUND(CAST(phi.s AS DOUBLE) / 60, 6) AS shapley,
              |  ROUND(CASE WHEN t.tot > 0
              |    THEN CAST(phi.s AS DOUBLE) / t.tot END, 6) AS share
              |FROM phi JOIN tc ON tc.channel = phi.channel
              |CROSS JOIN (SELECT CAST(SUM(s) AS DOUBLE) AS tot FROM phi) t"""
        .stripMargin)
    }),

    // Journey-anomaly scoring: every second-half handoff scored against
    // the first-half transition model -- unseen transitions flag, seen
    // ones flag when the model's 6-dp probability is under 2%.
    QueryDef("q_markov_score",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        Temporal.markovScoreHandoffs(ev.filter(col("ts") >= cut),
          keys = Seq("user_id"), tsCol = "ts", stateCol = "event_type",
          model = Temporal.markovTransitions(ev.filter(col("ts") < cut),
            Seq("user_id"), "ts", "event_type", Seq("event_id")),
          minP = 0.02, tiebreak = Seq("event_id"))
      },
      Some("""WITH ft AS (SELECT event_type AS a,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS b
             |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
             |md AS (SELECT a, b, COUNT(*) AS n FROM ft
             |  WHERE b IS NOT NULL GROUP BY 1, 2),
             |pm AS (SELECT a, b,
             |    ROUND(CAST(n AS DOUBLE) /
             |      SUM(n) OVER (PARTITION BY a), 6) AS p FROM md),
             |sc AS (SELECT user_id, ts, event_id,
             |    event_type AS from_state,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_state
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
             |SELECT sc.user_id, sc.event_id, sc.ts,
             |  sc.from_state, sc.to_state, pm.p,
             |  COALESCE(pm.p < 0.02, TRUE) AS is_improbable
             |FROM sc LEFT JOIN pm
             |  ON pm.a = sc.from_state AND pm.b = sc.to_state
             |WHERE sc.to_state IS NOT NULL""".stripMargin)),

    // Markov next-event backtest: fit the transition matrix on the first
    // half of January, score top-1 accuracy on the second half. Argmax
    // ties break on the exact count then min successor.
    QueryDef("q_markov_backtest",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        Temporal.markovBacktest(
          ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
          keys = Seq("user_id"), tsCol = "ts", stateCol = "event_type",
          tiebreak = Seq("event_id"))
      },
      Some("""WITH ft AS (SELECT event_type AS a,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS b
             |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
             |c AS (SELECT a, b, COUNT(*) AS n FROM ft
             |  WHERE b IS NOT NULL GROUP BY 1, 2),
             |pr AS (SELECT a, b FROM (SELECT a, b, ROW_NUMBER() OVER (
             |    PARTITION BY a ORDER BY n DESC, b ASC) AS r FROM c)
             |  WHERE r = 1),
             |st AS (SELECT event_type AS a,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS b
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
             |h AS (SELECT a, b FROM st WHERE b IS NOT NULL)
             |SELECT h.a AS from_state, ANY_VALUE(pr.b) AS predicted,
             |  COUNT(*) AS n_scored,
             |  CAST(SUM(CASE WHEN h.b = pr.b THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_hits,
             |  CAST((SUM(CASE WHEN h.b = pr.b THEN 1 ELSE 0 END) * 2000000
             |        + COUNT(*)) // (COUNT(*) * 2) AS DOUBLE) / 1e6
             |    AS accuracy
             |FROM h LEFT JOIN pr ON pr.a = h.a GROUP BY 1""".stripMargin)),

    // Classical additive decomposition (period 7): centered-MA trend,
    // re-centered per-phase seasonal means, remainder. The monitor
    // decomposition that removes a MOVING trend before scoring.
    QueryDef("q_decompose",
      (s, dir) => Temporal.decompose(Tables.load(s, dir, "events"),
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        period = 7, tiebreak = Seq("event_id"), idCols = Seq("event_id")),
      Some("""WITH b AS (SELECT user_id, event_id, ts,
             |    CAST(value AS DOUBLE) AS v FROM events),
             |o AS (SELECT user_id, event_id, v,
             |    (ROW_NUMBER() OVER w - 1) % 7 AS phase,
             |    CASE WHEN COUNT(v) OVER c = 7
             |         THEN SUM(v) OVER c / 7 END AS trend
             |  FROM b
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             |    c AS (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |d AS (SELECT user_id, event_id, v, phase, trend,
             |    v - trend AS det FROM o),
             |p AS (SELECT user_id, phase, AVG(det) AS pm
             |  FROM d GROUP BY 1, 2),
             |ps AS (SELECT user_id, phase,
             |    pm - AVG(pm) OVER (PARTITION BY user_id) AS season
             |  FROM p)
             |SELECT d.user_id, d.event_id, CAST(d.phase AS BIGINT) AS phase,
             |  ROUND(d.trend, 6) AS trend,
             |  ROUND(ps.season, 6) AS seasonal,
             |  ROUND(d.v - d.trend - ps.season, 6) AS remainder
             |FROM d JOIN ps ON d.user_id = ps.user_id AND d.phase = ps.phase"""
        .stripMargin)),

    // Schema-on-read over the JSON props blob: extract + aggregate without
    // ever inferring (from_json under an enforced schema, null on parse
    // failure — the splittable-scan shape that survives a 100 TB log table).
    QueryDef("q_json_extract",
      (s, dir) => Tables.load(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k")),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
             |  ROUND(AVG(CAST(props->>'k' AS INT)), 6) AS avg_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // JSON field-coverage report (schema-drift monitor): every 3rd event
    // gains a seeded "extra" field, every 97th becomes unparseable — the
    // report shows per-key row counts and coverage over ALL rows, so new
    // fields, dying fields and parse-failure spikes are all visible
    QueryDef("q_json_field_coverage",
      (s, dir) => graft.sources.CorpusIo.jsonFieldCoverage(
        Tables.load(s, dir, "events").withColumn("props2",
          when(col("event_id") % 97 === 0, lit("not json"))
            .when(col("event_id") % 3 === 0,
              replace(col("props"), lit("}"), lit(", \"extra\": 1}")))
            .otherwise(col("props"))),
        "props2"),
      Some("""WITH s AS (SELECT CASE WHEN event_id % 97 = 0 THEN 'not json'
             |    WHEN event_id % 3 = 0 THEN replace(props, '}', ', "extra": 1}')
             |    ELSE props END AS js FROM events),
             |tot AS (SELECT COUNT(*) AS t FROM s),
             |k AS (SELECT unnest(json_keys(js)) AS key FROM s WHERE json_valid(js))
             |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  ROUND(COUNT(*) * 1.0 / MIN(tot.t), 6) AS coverage
             |FROM k CROSS JOIN tot GROUP BY key""".stripMargin)),

    // CDC changelog apply (the lakehouse MERGE): snapshot = every user seen
    // before Jan 15 at balance -1; the second half of the month is the
    // changelog (error events delete, everything else upserts the event
    // value); latest change per user wins on (ts, event_id)
    QueryDef("q_cdc_apply",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cut = to_timestamp(lit("2024-01-15 00:00:00"))
        val snapshot = ev.filter(col("ts") < cut)
          .select(col("user_id")).distinct()
          .withColumn("balance", lit(-1.0))
        val changes = ev.filter(col("ts") >= cut)
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
            col("value").as("balance"))
        graft.ops.Temporal.applyChangelog(snapshot, changes,
          keys = Seq("user_id"), tsCol = "ts", opCol = "op",
          payloadCols = Seq("balance"), tiebreak = Seq("event_id"))
      },
      Some("""WITH sn AS (SELECT DISTINCT user_id, CAST(-1.0 AS DOUBLE) AS balance
             |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
             |ch AS (SELECT user_id, ts, event_id,
             |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             |    value AS balance
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
             |l AS (SELECT *, ROW_NUMBER() OVER (
             |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM ch),
             |lt AS (SELECT user_id, op, balance FROM l WHERE rn = 1)
             |SELECT COALESCE(sn.user_id, lt.user_id) AS user_id,
             |  CASE WHEN lt.user_id IS NOT NULL THEN lt.balance ELSE sn.balance END AS balance,
             |  CASE WHEN lt.user_id IS NULL THEN 'carried'
             |       WHEN sn.user_id IS NOT NULL THEN 'updated'
             |       ELSE 'inserted' END AS origin
             |FROM sn FULL OUTER JOIN lt ON sn.user_id = lt.user_id
             |WHERE lt.op IS NULL OR lt.op <> 'D'""".stripMargin))
  )
}
