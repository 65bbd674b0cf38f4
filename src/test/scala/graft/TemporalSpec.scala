package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Temporal

/** Invariant specs for the temporal operators (as-of join, sessionize,
  * bucketed range join) on tiny inline data with hand-computed answers. */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // user 1: events at 10:00, 10:30, 13:00; user 2: one event at 09:00.
  private lazy val left = Seq(
    (101L, 1L, ts("2024-01-01 10:00:00")),
    (102L, 1L, ts("2024-01-01 10:30:00")),
    (103L, 1L, ts("2024-01-01 13:00:00")),
    (201L, 2L, ts("2024-01-01 09:00:00"))
  ).toDF("event_id", "user_id", "ts")

  // user 1: states at 09:00 (A), 10:30 (B; two rows — tiebreak picks id 13),
  // 12:00 (C); user 3 only has state for an unmatched key.
  private lazy val right = Seq(
    (11L, 1L, ts("2024-01-01 09:00:00"), "A"),
    (12L, 1L, ts("2024-01-01 10:30:00"), "B_lo"),
    (13L, 1L, ts("2024-01-01 10:30:00"), "B_hi"),
    (14L, 1L, ts("2024-01-01 12:00:00"), "C"),
    (31L, 3L, ts("2024-01-01 00:00:00"), "Z")
  ).toDF("state_id", "user_id", "sts", "state")

  test("asof join: backward match, tie at equal ts matches, tiebreak max wins") {
    val out = Temporal.asofJoin(left, right, "user_id", "user_id", "ts", "sts",
        valueCols = Seq("state_id", "state"), rightTiebreak = Seq("state_id"))
      .select("event_id", "state_id", "state")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(101L) == (Some(11L), Some("A")))      // strictly-before match
    assert(out(102L) == (Some(13L), Some("B_hi")))   // equal-ts + tiebreak max
    assert(out(103L) == (Some(14L), Some("C")))      // latest of several
    assert(out(201L) == (None, None))                // no right row for key
  }

  test("asof join: tolerance nulls out stale matches but keeps left rows") {
    val out = Temporal.asofJoin(left, right, "user_id", "user_id", "ts", "sts",
        valueCols = Seq("state"), toleranceSec = Some(3600L),
        rightTiebreak = Seq("state_id"))
      .select("event_id", "state")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out.size == 4)                         // left-outer: no row lost
    assert(out(101L) == Some("A"))                // 60 min old == tolerance
    assert(out(102L) == Some("B_hi"))             // same-instant
    assert(out(103L) == Some("C"))                // 60 min old
    assert(out(201L) == None)
    val tight = Temporal.asofJoin(left, right, "user_id", "user_id", "ts", "sts",
        valueCols = Seq("state"), toleranceSec = Some(1800L),
        rightTiebreak = Seq("state_id"))
      .select("event_id", "state")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(tight(101L) == None)                   // 60 min > 30 min tolerance
    assert(tight(103L) == None)
    assert(tight(102L) == Some("B_hi"))
  }

  test("sessionize: gap strictly over threshold splits; stats cover spans") {
    // gaps for user 1: 30 min, 150 min — a 30-min gap threshold keeps the
    // first two together (gap == threshold stays in-session at exactly 1800s)
    val sess = Temporal.sessionize(left, Seq("user_id"), "ts", gapSec = 1800L,
        tiebreak = Seq("event_id"))
      .select("event_id", "session_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sess(101L) == 1L && sess(102L) == 1L)  // 1800s gap == threshold
    assert(sess(103L) == 2L)                      // 9000s gap > threshold
    assert(sess(201L) == 1L)
    val stats = Temporal.sessionStats(
        Temporal.sessionize(left, Seq("user_id"), "ts", 1800L, Seq("event_id")),
        Seq("user_id"), "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(stats((1L, 1L)) == (2L, 1800L * 1000000L))  // 2 events, 30-min span
    assert(stats((1L, 2L)) == (1L, 0L))
    assert(stats((2L, 1L)) == (1L, 0L))
  }

  test("range join: bucketed equi-join equals the naive non-equi join") {
    val spans = Seq(
      (1L, 10L, ts("2024-01-01 09:30:00"), ts("2024-01-01 11:00:00")),
      (1L, 11L, ts("2024-01-01 12:30:00"), ts("2024-01-01 14:00:00")),
      (2L, 20L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"))
    ).toDF("s_user", "span_id", "st", "en")
    val got = Temporal.rangeJoin(left, spans, "user_id", "s_user", "ts",
        "st", "en", bucketSec = 600L)
      .select("event_id", "span_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = left.join(spans,
        left("user_id") === spans("s_user") &&
          left("ts") >= spans("st") && left("ts") <= spans("en"))
      .select("event_id", "span_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got == Set((101L, 10L), (102L, 10L), (103L, 11L)))  // 201 outside
  }

  test("asofLookupJoin (packed-history) equals asofJoin, incl. ties + tolerance") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "asof_ts", "state_id", "state")
        .collect().map(r => (r.getLong(0), Option(r.get(1)),
          Option(r.get(2)), Option(r.get(3)))).toSet
    for (tol <- Seq(None, Some(3600L), Some(1800L))) {
      val a = rows(Temporal.asofJoin(left, right, "user_id", "user_id",
        "ts", "sts", Seq("state_id", "state"), toleranceSec = tol,
        rightTiebreak = Seq("state_id")))
      val b = rows(Temporal.asofLookupJoin(left, right, "user_id", "user_id",
        "ts", "sts", Seq("state_id", "state"), toleranceSec = tol,
        rightTiebreak = Seq("state_id")))
      assert(a == b, s"mismatch at tolerance $tol")
    }
    // plan shape: the left side is never exchanged (right packs + joins)
    val plan = Temporal.asofLookupJoin(left, right, "user_id", "user_id",
      "ts", "sts", Seq("state"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join"), "lookup variant must be a real join")
  }

  test("scd2: compaction collapses runs; intervals tile the key timeline") {
    // user 1 regimes: A (2 rows), B, A again — compacts to 3 interval rows
    val changes = Seq(
      (1L, 1L, ts("2024-01-01 09:00:00"), "A"),
      (2L, 1L, ts("2024-01-01 10:00:00"), "A"),
      (3L, 1L, ts("2024-01-01 11:00:00"), "B"),
      (4L, 1L, ts("2024-01-01 12:00:00"), "A"),
      (5L, 2L, ts("2024-01-01 08:00:00"), "X")
    ).toDF("change_id", "user_id", "ts", "state")
    val hist = Temporal.scd2(changes, Seq("user_id"), "ts",
        tiebreak = Seq("change_id"), attrCols = Seq("state"))
      .orderBy("user_id", "valid_from")
      .select("user_id", "state", "valid_from", "valid_to")
      .collect()
    val u1 = hist.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    // half-open tiling: each valid_to equals the next valid_from; last open
    assert(u1.init.zip(u1.tail).forall { case (a, b) => a.get(3) == b.get(2) })
    assert(u1.last.isNullAt(3) && hist.filter(_.getLong(0) == 2L).head.isNullAt(3))

    val pit = Temporal.pointInTime(
        Temporal.scd2(changes, Seq("user_id"), "ts", Seq("change_id"), Seq("state")),
        lit(ts("2024-01-01 11:30:00")))
      .select("user_id", "state")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pit == Map(1L -> "B", 2L -> "X"))           // exactly one row/key
  }

  test("interval join: equals the naive overlap join with NO duplicate pairs") {
    // long spans covering many buckets — the canonical-bucket assignment
    // must still emit each overlapping pair exactly once
    val a = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-05 00:00:00")),
      (1L, 11L, ts("2024-01-07 00:00:00"), ts("2024-01-08 00:00:00")),
      (2L, 20L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"))
    ).toDF("a_user", "a_id", "a_st", "a_en")
    val b = Seq(
      (1L, 100L, ts("2024-01-03 00:00:00"), ts("2024-01-09 00:00:00")), // hits both
      (1L, 101L, ts("2024-01-06 00:00:00"), ts("2024-01-06 12:00:00")), // hits none
      (2L, 200L, ts("2024-01-01 12:00:00"), ts("2024-01-03 00:00:00"))  // hits 20
    ).toDF("b_user", "b_id", "b_st", "b_en")
    val got = Temporal.intervalJoin(a, b, "a_user", "b_user",
        "a_st", "a_en", "b_st", "b_en", bucketSec = 21600L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length == got.distinct.length, s"duplicate pairs: $got")
    val want = a.join(b, a("a_user") === b("b_user") &&
        a("a_st") <= b("b_en") && b("b_st") <= a("a_en"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want)
    assert(want == Set((10L, 100L), (11L, 100L), (20L, 200L)))
  }

  test("funnel: nested-min chain with >= progression; stalls null the tail") {
    val ev = Seq(
      // user 1 completes out-of-order first (purchase before click) then in order
      (1L, 1L, ts("2024-01-01 09:00:00"), "signup"),
      (2L, 1L, ts("2024-01-01 09:30:00"), "purchase"), // before any click: ignored
      (3L, 1L, ts("2024-01-01 10:00:00"), "click"),
      (4L, 1L, ts("2024-01-01 11:00:00"), "purchase"),
      // user 2: same-instant signup+click counts (>=), never purchases
      (5L, 2L, ts("2024-01-01 08:00:00"), "signup"),
      (6L, 2L, ts("2024-01-01 08:00:00"), "click"),
      // user 3: clicks but never signs up -> 0 steps
      (7L, 3L, ts("2024-01-01 07:00:00"), "click")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Temporal.funnel(ev, Seq("user_id"), "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))).toMap
    assert(out(1L) == (Some(ts("2024-01-01 09:00:00")),
      Some(ts("2024-01-01 10:00:00")), Some(ts("2024-01-01 11:00:00")), 3L))
    assert(out(2L) == (Some(ts("2024-01-01 08:00:00")),
      Some(ts("2024-01-01 08:00:00")), None, 2L))
    assert(out(3L) == (None, None, None, 0L))
  }

  test("attribution: journey assignment, credit models, lookback, same-instant touch") {
    val ev = Seq(
      // user 1, journey 1: three touches then a purchase at 12:00
      (1L, 1L, ts("2024-01-01 09:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 10:00:00"), "click"),
      (3L, 1L, ts("2024-01-01 11:00:00"), "view"),
      (4L, 1L, ts("2024-01-01 12:00:00"), "purchase"),
      // user 1, journey 2: a same-instant touch AT the purchase counts
      // toward exactly that purchase
      (5L, 1L, ts("2024-01-01 14:00:00"), "purchase"),
      (6L, 1L, ts("2024-01-01 14:00:00"), "click"),
      // user 1: a touch after the last purchase earns nothing
      (7L, 1L, ts("2024-01-01 15:00:00"), "view"),
      // user 2: touches but no conversion at all -> no rows
      (8L, 2L, ts("2024-01-01 09:00:00"), "click"),
      // user 1: a null-typed event is neither a touch nor a conversion
      (9L, 1L, ts("2024-01-01 10:30:00"), null)
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Temporal.attribution(ev, Seq("user_id"), "ts", "event_type",
      "purchase", "event_type", "event_id")
    val rows = out.collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 6L)) // 7 post-conv, 8 no conv, 9 null
    // journey 1: ranks 1..3 of 3
    val j1 = Seq(1L, 2L, 3L).map(rows)
    assert(j1.map(_.getAs[Long]("touch_rank")) == Seq(1L, 2L, 3L))
    assert(j1.forall(_.getAs[Long]("n_touches") == 3L))
    assert(j1.map(_.getAs[Double]("credit_first")) == Seq(1.0, 0.0, 0.0))
    assert(j1.map(_.getAs[Double]("credit_last")) == Seq(0.0, 0.0, 1.0))
    assert(j1.forall(_.getAs[Double]("credit_linear") == 0.333333))
    assert(j1.map(_.getAs[Double]("credit_position")) == Seq(0.4, 0.2, 0.4))
    // every model's credits sum to 1 per journey (the invariant that
    // makes attribution a credit DISTRIBUTION)
    val sums = out.groupBy(col("user_id"), col("conv_ts"))
      .agg(sum(col("credit_first")).as("f"), sum(col("credit_last")).as("l"),
        sum(col("credit_linear")).as("n"), sum(col("credit_position")).as("p"))
      .collect()
    sums.foreach { r =>
      Seq("f", "l", "n", "p").foreach(c =>
        assert(math.abs(r.getAs[Double](c) - 1.0) < 1e-4, s"$c: $r"))
    }
    // same-instant touch joined the 14:00 journey as its only touch
    assert(rows(6L).getAs[java.sql.Timestamp]("conv_ts") == ts("2024-01-01 14:00:00"))
    assert(rows(6L).getAs[Double]("credit_position") == 1.0)
    // lookback 150 min: the 09:00 view (age 180 min at the 12:00
    // conversion) drops; the 10:00 click (120 min) stays
    val lb = Temporal.attribution(ev, Seq("user_id"), "ts", "event_type",
      "purchase", "event_type", "event_id", lookbackSec = Some(150L * 60))
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(lb == Set(2L, 3L, 6L))
    // two touches: position collapses to 0.5/0.5
    val two = Temporal.attribution(ev.filter(col("event_id").isin(2L, 3L, 4L)),
      Seq("user_id"), "ts", "event_type", "purchase", "event_type", "event_id")
      .collect().map(_.getAs[Double]("credit_position")).toSeq
    assert(two == Seq(0.5, 0.5))
  }

  test("attribution time-decay: half-life halves credit weight per hour of age") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 09:00:00"), "view"),   // age 3h -> w 0.125
      (2L, 1L, ts("2024-01-01 10:00:00"), "click"),  // age 2h -> w 0.25
      (3L, 1L, ts("2024-01-01 11:00:00"), "view"),   // age 1h -> w 0.5
      (4L, 1L, ts("2024-01-01 12:00:00"), "purchase"),
      (5L, 1L, ts("2024-01-01 14:00:00"), "purchase"),
      (6L, 1L, ts("2024-01-01 14:00:00"), "click")   // age 0 -> sole touch
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Temporal.attribution(ev, Seq("user_id"), "ts", "event_type",
      "purchase", "event_type", "event_id", halfLifeSec = Some(3600L))
    val rows = out.collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("credit_time_decay"))
      .toMap
    // weights 0.125/0.25/0.5 over sum 0.875, 6-dp rounded
    assert(rows(1L) == 0.142857 && rows(2L) == 0.285714 && rows(3L) == 0.571429)
    assert(rows(6L) == 1.0) // zero-age sole touch gets everything
    // still a distribution per journey (up to rounding)
    out.groupBy(col("user_id"), col("conv_ts"))
      .agg(sum(col("credit_time_decay")).as("d")).collect()
      .foreach(r => assert(math.abs(r.getAs[Double]("d") - 1.0) < 1e-4))
    // recency strictly wins within a journey
    assert(rows(3L) > rows(2L) && rows(2L) > rows(1L))
  }

  test("markov transitions + event n-grams: hand-computed handoffs") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 09:00:00"), "A"),
      (2L, 1L, ts("2024-01-01 10:00:00"), "B"),
      (3L, 1L, ts("2024-01-01 11:00:00"), "A"),
      (4L, 1L, ts("2024-01-01 12:00:00"), "B"),
      (5L, 2L, ts("2024-01-01 09:00:00"), "A"),
      (6L, 2L, ts("2024-01-01 10:00:00"), "A"),
      (7L, 2L, ts("2024-01-01 11:00:00"), "C")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val m = Temporal.markovTransitions(ev, Seq("user_id"), "ts",
        "event_type", Seq("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    assert(m == Map(("A", "B") -> (2L, 0.5), ("B", "A") -> (1L, 1.0),
      ("A", "A") -> (1L, 0.25), ("A", "C") -> (1L, 0.25)))
    // n=2 n-grams recover the markov counts; n=3 runs hand-checked
    val g2 = Temporal.eventNgrams(ev, Seq("user_id"), "ts", "event_type", 2,
      Seq("event_id")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g2 == Map("A -> B" -> 2L, "B -> A" -> 1L, "A -> A" -> 1L,
      "A -> C" -> 1L))
    val g3 = Temporal.eventNgrams(ev, Seq("user_id"), "ts", "event_type", 3,
      Seq("event_id")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g3 == Map("A -> B -> A" -> 1L, "B -> A -> B" -> 1L,
      "A -> A -> C" -> 1L))
    // minCount prunes inside the aggregation
    assert(Temporal.eventNgrams(ev, Seq("user_id"), "ts", "event_type", 2,
      Seq("event_id"), minCount = 2L).count() == 1)
  }

  test("autocorrelation: hand-computed lags, zero-variance null, short series") {
    val ev = (1 to 4).map(i =>
      (i.toLong, 1L, ts(f"2024-01-01 0$i:00:00"), i.toDouble)) ++ Seq(
      // key 2: constant -> ss = 0 -> null acf
      (5L, 2L, ts("2024-01-01 01:00:00"), 7.0),
      (6L, 2L, ts("2024-01-01 02:00:00"), 7.0))
    val df = ev.toDF("event_id", "user_id", "ts", "value")
    val out = Temporal.autocorrelation(df, Seq("user_id"), "ts", "value",
        maxLag = 3, tiebreak = Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("lag")) ->
        (r.getAs[Long]("n_pairs"), Option(r.getAs[java.lang.Double]("acf"))
          .map(_.toDouble))).toMap
    // series 1,2,3,4: dev -1.5,-0.5,.5,1.5, ss=5; lag sums 1.25,-1.5,-2.25
    assert(out((1L, 1L)) == (3L, Some(0.25)))
    assert(out((1L, 2L)) == (2L, Some(-0.3)))
    assert(out((1L, 3L)) == (1L, Some(-0.45)))
    // constant series: pairs exist but acf is null (no variance)
    assert(out((2L, 1L)) == (1L, None))
    // lag beyond the series: zero pairs, null acf
    assert(out((2L, 3L)) == (0L, None))
  }

  test("mean-shift changepoints: full-window gating, score, flat shift") {
    val ev = Seq(
      // key 1: two constant levels -> flat shift at the boundary
      (1L, 1L, 1.0), (2L, 1L, 1.0), (3L, 1L, 5.0), (4L, 1L, 5.0),
      // key 2: ramp -> scored shift 2/sqrt(0.5)
      (5L, 2L, 1.0), (6L, 2L, 2.0), (7L, 2L, 3.0), (8L, 2L, 4.0)
    ).map { case (id, u, v) =>
      (id, u, ts(f"2024-01-01 ${(id - 1) % 4 + 1}%02d:00:00"), v)
    }.toDF("event_id", "user_id", "ts", "value")
    val out = Temporal.meanShiftChangepoints(ev, Seq("user_id"), "ts",
        "value", w = 2, threshold = 1.0, tiebreak = Seq("event_id"))
      .collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    // only the both-windows-full boundary rows survive
    assert(out.keySet == Set(3L, 7L))
    val flat = out(3L)
    assert(flat.getAs[Double]("mean_before") == 1.0 &&
      flat.getAs[Double]("mean_after") == 5.0)
    assert(flat.getAs[java.lang.Double]("score") == null &&
      flat.getAs[Boolean]("flat_shift") && flat.getAs[Boolean]("is_changepoint"))
    val ramp = out(7L)
    assert(ramp.getAs[Double]("score") == 2.828427) // 2 / sqrt(0.5)
    assert(!ramp.getAs[Boolean]("flat_shift") &&
      ramp.getAs[Boolean]("is_changepoint"))
  }

  test("gapReport: only above-tolerance gaps, per key, first event exempt") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00")),
      (2L, 1L, ts("2024-01-01 01:00:00")),  // 1h gap: fine
      (3L, 1L, ts("2024-01-01 05:00:00")),  // 4h gap: violation
      (4L, 2L, ts("2024-01-02 00:00:00"))   // other key's first event
    ).toDF("event_id", "user_id", "ts")
    val out = Temporal.gapReport(ev, Seq("user_id"), "ts",
      toleranceSec = 7200L, tiebreak = Seq("event_id")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("user_id") == 1L &&
      out.head.getAs[Long]("gap_sec") == 14400L &&
      out.head.getAs[java.sql.Timestamp]("prev_ts") == ts("2024-01-01 01:00:00"))
  }

  test("seasonalNaiveBacktest: equi-join survives holes; hand-computed errors") {
    // key 1 daily series with a HOLE at day 8: day 7+t forecast by day t
    val rows = Seq(
      (1L, 0L, 10.0), (1L, 1L, 20.0), (1L, 2L, 30.0),
      (1L, 7L, 12.0),               // vs 10 -> err 2
      (1L, 9L, 27.0),               // vs 30 wait: 9-7=2 -> vs 30 -> err -3
      (1L, 8L, 100.0),              // 8-7=1 -> vs 20 -> err 80
      // key 2: zero actual excluded from MAPE only
      (2L, 0L, 5.0), (2L, 7L, 0.0)
    ).toDF("user_id", "day", "v")
    val out = Temporal.seasonalNaiveBacktest(rows, Seq("user_id"), "day",
        "v", period = 7L)
      .collect().map(r => r.getLong(0) -> r).toMap
    val k1 = out(1L)
    assert(k1.getAs[Long]("n_scored") == 3L)
    // errors 2, 80, 3 -> mae (2+80+3)/3; rmse sqrt((4+6400+9)/3)
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    assert(k1.getAs[Double]("mae") == r6(85.0 / 3))
    assert(k1.getAs[Double]("rmse") == r6(math.sqrt(6413.0 / 3)))
    assert(k1.getAs[Long]("n_mape") == 3L)
    val k2 = out(2L)
    assert(k2.getAs[Long]("n_scored") == 1L && k2.getAs[Long]("n_mape") == 0L)
    assert(k2.getAs[java.lang.Double]("mape") == null) // zero actual only
    assert(k2.getAs[Double]("mae") == 5.0)
  }

  test("downsample keeps exactly the last event per key-bucket") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 09:10:00"), 1.0),
      (2L, 1L, ts("2024-01-01 09:50:00"), 2.0),  // survives bucket 09:00
      (3L, 1L, ts("2024-01-01 10:05:00"), 3.0),  // survives bucket 10:00
      (4L, 2L, ts("2024-01-01 09:59:00"), 4.0)   // survives (other key)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Temporal.downsample(ev, Seq("user_id"), "ts", bucketSec = 3600L,
        tiebreak = Seq("event_id"))
      .select("event_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L, 4L))
  }

  test("asof join plan: no join operator, exactly one exchange") {
    val out = Temporal.asofJoin(left, right, "user_id", "user_id", "ts", "sts",
      valueCols = Seq("state"), rightTiebreak = Seq("state_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof join must not plan a join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }
  test("applyChangelog: upsert, delete, carry, insert, ts+tiebreak ordering") {
    import spark.implicits._
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val ch = Seq(
      (1L, 5L, 1L, "U", 11.0),  // update key 1
      (1L, 5L, 2L, "U", 12.0),  // same ts, higher tiebreak wins
      (2L, 6L, 3L, "D", 0.0),   // delete key 2
      (2L, 5L, 4L, "U", 99.0),  // earlier change, overridden by the delete
      (4L, 7L, 5L, "I", 40.0)   // insert new key 4
    ).toDF("k", "ts", "event_id", "op", "v")
    val out = Temporal.applyChangelog(snap, ch, Seq("k"), "ts", "op",
        Seq("v"), tiebreak = Seq("event_id"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(out == Map(
      1L -> ((12.0, "updated")),
      3L -> ((30.0, "carried")),
      4L -> ((40.0, "inserted"))))
  }

  test("holtSmooth: hand-computed level/trend/forecast, window truncation") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 12.0), (1L, 3L, 14.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", col("event_id").cast("timestamp"))
    val out = Temporal.holtSmooth(df, Seq("user_id"), "ts", "value",
        alpha = 0.5, gamma = 0.5, window = 10,
        tiebreak = Seq("event_id"), idCols = Seq("event_id"))
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // row 1: l=x1, b=0; row 2: l=.5*12+.5*10=11, b=.5*(11-10)=0.5;
    // row 3: l=.5*14+.5*11.5=12.75, b=.5*1.75+.25=1.125
    assert(out(1L) == ((10.0, 0.0, 10.0)))
    assert(out(2L) == ((11.0, 0.5, 11.5)))
    assert(out(3L) == ((12.75, 1.125, 13.875)))
    // window=2 drops x1 from row 3's fold: init l=12,b=0 -> l=13, b=0.5
    val w2 = Temporal.holtSmooth(df, Seq("user_id"), "ts", "value",
        alpha = 0.5, gamma = 0.5, window = 2,
        tiebreak = Seq("event_id"), idCols = Seq("event_id"))
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(w2(3L) == ((13.0, 0.5, 13.5)))
  }

  test("holtSmooth plan: one exchange, no join") {
    val df = Tables.load(spark, sf, "events")
    val out = Temporal.holtSmooth(df, Seq("user_id"), "ts", "value",
      alpha = 0.3, gamma = 0.2, window = 8,
      tiebreak = Seq("event_id"), idCols = Seq("event_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"holtSmooth must not join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("cusum: prefix-sum form equals the direct clamped recurrence") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 3.0, 10.0, 10.0, 10.0, 0.0, 0.0)
    val df = xs.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", col("event_id").cast("timestamp"))
    val (target, slack, h) = (3.0, 1.0, 5.0)
    // direct recurrence reference
    val ref = xs.scanLeft((0.0, 0.0)) { case ((sh, sl), x) =>
      (math.max(0.0, sh + (x - target - slack)),
        math.max(0.0, sl + (target - slack - x)))
    }.tail
    val out = Temporal.cusum(df, Seq("user_id"), "ts", "value",
        target, slack, h, tiebreak = Seq("event_id"),
        idCols = Seq("event_id"))
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    ref.zipWithIndex.foreach { case ((sh, sl), i) =>
      val (gh, gl, alarm) = out(i.toLong)
      assert(math.abs(gh - sh) < 1e-9 && math.abs(gl - sl) < 1e-9,
        s"row $i: got ($gh,$gl) want ($sh,$sl)")
      assert(alarm == (sh > h || sl > h), s"row $i alarm")
    }
    // both sides clamp at zero; the drift rows 3..5 trip the hi side
    assert(out.values.forall { case (gh, gl, _) => gh >= 0 && gl >= 0 })
    assert(out(3L)._3 && out(5L)._3 && !out(0L)._3)
  }

  test("kaplanMeier: textbook curve with censoring; steps only at event times") {
    import spark.implicits._
    // durations 1e, 2c, 3e, 3e, 4c, 5e -> S: 5/6, 5/6, 5/12, 5/12, 0
    val subj = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (4L, false), (5L, true))
      .toDF("t", "ev").withColumn("cohort", lit("all"))
    val out = Temporal.kaplanMeier(subj, Seq("cohort"), "t", "ev")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) == ((6L, 1L, 0L, 0.833333)))
    assert(out(2L) == ((5L, 0L, 1L, 0.833333)))  // censor: no step
    assert(out(3L) == ((4L, 2L, 0L, 0.416667)))  // tied events at t=3
    assert(out(4L) == ((2L, 0L, 1L, 0.416667)))
    assert(out(5L) == ((1L, 1L, 0L, 0.0)))
    // no censoring at all: survival equals the empirical tail fraction
    val pure = Seq((1L, true), (2L, true), (3L, true), (4L, true))
      .toDF("t", "ev").withColumn("cohort", lit("all"))
    val p = Temporal.kaplanMeier(pure, Seq("cohort"), "t", "ev")
      .collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap
    assert(p == Map(1L -> 0.75, 2L -> 0.5, 3L -> 0.25, 4L -> 0.0))
  }

  test("rmst: exact area under the KM step function, truncated and extended horizons") {
    import spark.implicits._
    // durations 2e, 4c, 6e, 10c -> S: 0.75 at 2, 0.75 at 4 (censor),
    // 0.375 at 6, 0.375 at 10. Integral pieces: [0,2)=2, [2,6)=3,
    // [6,tau)=0.375 each
    val subj = Seq((2L, true), (4L, false), (6L, true), (10L, false))
      .toDF("t", "ev").withColumn("cohort", lit("all"))
    val at8 = Temporal.rmst(subj, Seq("cohort"), "t", "ev", tau = 8.0)
      .collect().head
    assert(at8.getAs[Long]("n_subjects") == 4 &&
      at8.getAs[Double]("tau") == 8.0)
    assert(at8.getAs[Double]("rmst") == 5.75, s"tau inside the curve: $at8")
    // horizon past the last observed time: the tail extends at S(t_last)
    val at15 = Temporal.rmst(subj, Seq("cohort"), "t", "ev", tau = 15.0)
      .collect().head
    assert(at15.getAs[Double]("rmst") == 8.375, s"extended tail: $at15")
    // no events at all: survival stays 1, rmst = tau
    val none = Seq((3L, false), (9L, false))
      .toDF("t", "ev").withColumn("cohort", lit("all"))
    assert(Temporal.rmst(none, Seq("cohort"), "t", "ev", tau = 5.0)
      .collect().head.getAs[Double]("rmst") == 5.0)
  }

  test("logRank: hand-computed O/E/V; identical curves score ~0") {
    import spark.implicits._
    // A: events at 1, 2; B: event at 1, censored at 3
    // t=1: n=4, n_a=2, d=2, d_a=1 -> e=1, v=1/3
    // t=2: n=2, n_a=1, d=1, d_a=1 -> e=1/2, v=1/4
    val subj = Seq(("a", 1L, true), ("a", 2L, true),
      ("b", 1L, true), ("b", 3L, false)).toDF("g", "t", "ev")
    val r = Temporal.logRank(subj, "g", "a", "b", "t", "ev").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 1.5 && r.getDouble(4) == 0.583333)
    assert(r.getDouble(5) == 0.428571)  // (2-1.5)^2 / (7/12)
    // two identical cohorts: O = E exactly, chi2 = 0
    val same = Seq(("a", 1L, true), ("a", 2L, true),
      ("b", 1L, true), ("b", 2L, true)).toDF("g", "t", "ev")
    assert(Temporal.logRank(same, "g", "a", "b", "t", "ev")
      .head().getDouble(5) == 0.0)
    // no events at all: variance 0 -> chi2 undefined (null)
    val cen = Seq(("a", 1L, false), ("b", 2L, false)).toDF("g", "t", "ev")
    assert(Temporal.logRank(cen, "g", "a", "b", "t", "ev").head().isNullAt(5))
  }

  test("crossCorrelation: a planted 2-day lead peaks at lag 2; constant series null") {
    import org.apache.spark.sql.functions._
    // per day t: a_t = 1 + (t % 4) A-events; b_t = a_{t-2} B-events
    def day(t: Int) = java.sql.Timestamp.valueOf(f"2024-01-$t%02d 00:00:00")
    def aOf(t: Int) = 1 + (t % 4)
    val rows = (1 to 24).flatMap { t =>
      Seq.fill(aOf(t))(("u", day(t), "A")) ++
        (if (t >= 3) Seq.fill(aOf(t - 2))(("u", day(t), "B")) else Nil)
    }
    val df = rows.toDF("u", "ts", "typ")
    val out = graft.ops.Temporal.crossCorrelation(df, Seq("u"), "ts", "typ",
      "A", "B", maxLag = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getAs[Double]("ccf") == 1.0) // exact planted lead
    assert(out(0L).getAs[Double]("ccf") < 0.5)  // phase-shifted sawtooth
    assert(out(2L).getAs[Long]("n_pairs") == 22)
    // a constant B series has zero variance: ccf null at every lag
    val const = (1 to 10).flatMap(t =>
      Seq.fill(aOf(t))(("u", day(t), "A")) :+ (("u", day(t), "B")))
      .toDF("u", "ts", "typ")
    val cOut = graft.ops.Temporal.crossCorrelation(const, Seq("u"), "ts",
      "typ", "A", "B", maxLag = 2).collect()
    assert(cOut.forall(_.isNullAt(2)))
  }

  test("shapleyAttribution: hand values, efficiency axiom, null player, post-conversion ignored") {
    // journeys: u1 {A} -> conv, u2 {A} -> conv, u3 {A,B} -> conv,
    // u4 {B} -> conv; u5 never converts; u6 touches AFTER converting.
    // v(A)=2, v(B)=1, v(AB)=4 => phi_A = 2.5, phi_B = 1.5; C untouched.
    val ev = Seq(
      (1, 1L, "A"), (1, 2L, "P"),
      (2, 1L, "A"), (2, 2L, "P"),
      (3, 1L, "A"), (3, 2L, "B"), (3, 3L, "P"),
      (4, 1L, "B"), (4, 2L, "P"),
      (5, 1L, "A"),
      (6, 1L, "P"), (6, 2L, "A")).toDF("u", "t", "typ")
    val out = graft.ops.Temporal.shapleyAttribution(ev, "u", "t", "typ",
      channels = Seq("A", "B", "C"), convType = "P")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("A").getAs[Double]("shapley") - 2.5) < 1e-9)
    assert(math.abs(out("B").getAs[Double]("shapley") - 1.5) < 1e-9)
    assert(out("C").getAs[Double]("shapley") == 0.0) // null player
    // efficiency: shares sum to 1 over the attributable total v(full)=4
    assert(math.abs(out("A").getAs[Double]("share") - 0.625) < 1e-9)
    assert(math.abs(out("B").getAs[Double]("share") - 0.375) < 1e-9)
    assert(out("A").getAs[Long]("touched_conversions") == 3)
    assert(out("B").getAs[Long]("touched_conversions") == 2)
    assert(out("C").getAs[Long]("touched_conversions") == 0)
  }

  test("shapleySampled: full permutation set equals exact; seeded sample is deterministic and efficient") {
    val ev = Seq(
      (1, 1L, "A"), (1, 2L, "P"),
      (2, 1L, "A"), (2, 2L, "P"),
      (3, 1L, "A"), (3, 2L, "B"), (3, 3L, "P"),
      (4, 1L, "B"), (4, 2L, "P"),
      (5, 1L, "A"),
      (6, 1L, "P"), (6, 2L, "A")).toDF("u", "t", "typ")
    val chans = Seq("A", "B", "C")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("touched_conversions"),
        r.getAs[Double]("shapley"), r.getAs[Double]("share")))).toMap
    // with ALL n! permutations the estimator IS the exact Shapley value
    val allPerms = chans.indices.permutations.map { p =>
      val pos = new Array[Int](chans.size)
      p.zipWithIndex.foreach { case (ch, k) => pos(ch) = k }
      pos.toSeq
    }.toSeq
    val full = rows(graft.ops.Temporal.shapleySampled(ev, "u", "t", "typ",
      chans, "P", permsOverride = Some(allPerms)))
    val exact = rows(graft.ops.Temporal.shapleyAttribution(ev, "u", "t",
      "typ", chans, "P"))
    chans.foreach { c =>
      assert(full(c)._1 == exact(c)._1)
      assert(math.abs(full(c)._2 - exact(c)._2) < 1e-9, s"$c: $full vs $exact")
      assert(math.abs(full(c)._3 - exact(c)._3) < 1e-9)
    }
    // seeded sample: deterministic across runs, efficiency axiom holds
    // EXACTLY (each journey credits exactly one channel per permutation)
    val s1 = rows(graft.ops.Temporal.shapleySampled(ev, "u", "t", "typ",
      chans, "P", nPerms = 40, seed = 11L))
    val s2 = rows(graft.ops.Temporal.shapleySampled(ev, "u", "t", "typ",
      chans, "P", nPerms = 40, seed = 11L))
    assert(s1 == s2)
    assert(math.abs(chans.map(s1(_)._2).sum - 4.0) < 1e-6) // v(full)-v(empty)=4
    assert(s1("C")._2 == 0.0) // null player stays null under sampling
    // sampling converges: 400 perms land within 0.15 of exact
    val big = rows(graft.ops.Temporal.shapleySampled(ev, "u", "t", "typ",
      chans, "P", nPerms = 400, seed = 3L))
    chans.foreach(c => assert(math.abs(big(c)._2 - exact(c)._2) < 0.15,
      s"$c: ${big(c)._2} vs ${exact(c)._2}"))
  }

  test("croston: hand SES on sizes and intervals; zero-demand windows emit null") {
    // key k: demands at buckets 2 (size 2) and 5 (size 3); alpha 0.5
    val rows = Seq(("k", 1, 0.0), ("k", 2, 2.0), ("k", 3, 0.0),
      ("k", 4, 0.0), ("k", 5, 3.0), ("k", 6, 0.0),
      ("z", 1, 0.0), ("z", 2, 0.0),
      ("y", 1, 0.0), ("y", 2, 5.0))
    val out = graft.ops.Temporal.croston(rows.toDF("k", "b", "d"),
      Seq("k"), "b", "d", alpha = 0.5, window = 6, idCols = Seq("b"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    // bucket 2: one demand -> z=2, p=2 (first interval = position), f=1
    val b2 = out(("k", 2))
    assert(b2.getAs[Long]("n_demands") == 1)
    assert(b2.getAs[Double]("z_hat") == 2.0)
    assert(b2.getAs[Double]("p_hat") == 2.0)
    assert(b2.getAs[Double]("forecast") == 1.0)
    // key y: one demand of 5 at bucket 2 -> z=5, p=2, forecast 2.5
    assert(out(("y", 2)).getAs[Double]("forecast") == 2.5)
    // bucket 6 (full window): ds=[2,3] -> z = .5*3+.5*2 = 2.5;
    // intervals=[2,3] -> p = 2.5; forecast = 1.0
    val b6 = out(("k", 6))
    assert(b6.getAs[Long]("n_demands") == 2)
    assert(b6.getAs[Double]("z_hat") == 2.5)
    assert(b6.getAs[Double]("p_hat") == 2.5)
    assert(b6.getAs[Double]("forecast") == 1.0)
    // bucket 1 and the all-zero key: no demand in window -> nulls
    assert(out(("k", 1)).isNullAt(out(("k", 1)).fieldIndex("z_hat")))
    assert(out(("z", 2)).getAs[Long]("n_demands") == 0)
    assert(out(("z", 2)).isNullAt(out(("z", 2)).fieldIndex("forecast")))
    // Syntetos–Boylan correction: z_hat/p_hat unchanged, forecast
    // scales by (1 − α/2) = 0.75; the zero-demand null propagates
    val sba = graft.ops.Temporal.croston(rows.toDF("k", "b", "d"),
      Seq("k"), "b", "d", alpha = 0.5, window = 6, idCols = Seq("b"),
      sba = true)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val s6 = sba(("k", 6))
    assert(s6.getAs[Double]("z_hat") == 2.5 &&
      s6.getAs[Double]("p_hat") == 2.5)
    assert(s6.getAs[Double]("forecast") == 0.75) // 0.75 * 2.5 / 2.5
    assert(sba(("k", 2)).getAs[Double]("forecast") == 0.75)
    assert(sba(("z", 2)).isNullAt(s6.fieldIndex("forecast")))
  }

  test("markovScoreHandoffs: seen handoffs score the model p, unseen flag, threshold splits") {
    import org.apache.spark.sql.functions._
    // fit handoffs: a->b x5 (3 on k + 1 each on k2/k3), a->c x1
    // => p(a,b) = 5/6, p(a,c) = 1/6; b->a always => 1.0
    val fit = Seq(("k", 1, "a"), ("k", 2, "b"), ("k", 3, "a"), ("k", 4, "b"),
      ("k", 5, "a"), ("k", 6, "c"), ("k", 7, "a"), ("k", 8, "b"),
      ("k2", 1, "b"), ("k2", 2, "a"), ("k2", 3, "b"), ("k2", 4, "a"),
      ("k3", 1, "b"), ("k3", 2, "a"), ("k3", 3, "b"), ("k3", 4, "a"))
      .toDF("k", "t", "s")
    val model = graft.ops.Temporal.markovTransitions(fit, Seq("k"), "t", "s")
    // score handoffs: a->c (rare, .166667 < minP), c->a (1.0, fine),
    // a->b (.833333, fine), b->c (UNSEEN from b -> flags)
    val score = Seq(("u", 1, "a"), ("u", 2, "c"), ("u", 3, "a"),
      ("u", 4, "b"), ("u", 5, "c"))
      .toDF("k", "t", "s")
    val out = graft.ops.Temporal.markovScoreHandoffs(score, Seq("k"), "t",
        "s", model, minP = 0.3).collect()
      .map(r => (r.getAs[String]("from_state"), r.getAs[String]("to_state"))
        -> ((Option(r.getAs[java.lang.Double]("p")).map(_.toDouble),
          r.getAs[Boolean]("is_improbable")))).toMap
    assert(out(("a", "b")) == ((Some(0.833333), false)))
    assert(out(("a", "c")) == ((Some(0.166667), true))) // below minP 0.3
    assert(out(("b", "c")) == ((None, true)))           // unseen transition
    assert(out(("c", "a")) == ((Some(1.0), false)))
    assert(out.size == 4)
    // a null state occupies its handoff slot: a->null and null->b emit
    // nothing, b->a still does
    val nulls = Seq(("w", 1, Some("a")), ("w", 2, None), ("w", 3, Some("b")),
      ("w", 4, Some("a"))).toDF("k", "t", "s")
    val nullOut = graft.ops.Temporal.markovScoreHandoffs(nulls, Seq("k"), "t",
        "s", model, minP = 0.3).collect()
      .map(r => (r.getAs[String]("from_state"), r.getAs[String]("to_state")))
    assert(nullOut.toSeq == Seq(("b", "a")))
  }

  test("markovBacktest: argmax on counts, out-of-sample accuracy, unseen states") {
    import org.apache.spark.sql.functions._
    // fit: a->b twice, a->c once => predicted(a)=b; b->a always
    val fit = Seq(("k", 1, "a"), ("k", 2, "b"), ("k", 3, "a"), ("k", 4, "b"),
      ("k", 5, "a"), ("k", 6, "c")).toDF("k", "t", "s")
    // score: a->b, a->c, b->a; also a state z the fit never saw: z->a
    val score = Seq(("k", 1, "a"), ("k", 2, "b"), ("k", 3, "a"), ("k", 4, "c"),
      ("k2", 1, "z"), ("k2", 2, "a"))
      .toDF("k", "t", "s")
    val out = graft.ops.Temporal.markovBacktest(fit, score, Seq("k"), "t", "s")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[String]("predicted") == "b")
    // a's handoffs in score: a->b (hit), a->c (miss), a->z? no: k2 a is last
    assert(out("a").getAs[Long]("n_scored") == 2)
    assert(out("a").getAs[Long]("n_hits") == 1)
    assert(out("a").getAs[Double]("accuracy") == 0.5)
    // unseen state z: no prediction, zero hits, accuracy 0
    assert(out("z").isNullAt(out("z").fieldIndex("predicted")))
    assert(out("z").getAs[Long]("n_hits") == 0)
  }

  test("pageHinkley: self-baselined drift fires on the shifted arm only") {
    import org.apache.spark.sql.functions._
    // flat series never alarms; a level shift after 20 points does
    val flat = (1 to 40).map(i => ("flat", i.toLong, 10.0))
    val shift = (1 to 40).map(i => ("up", i.toLong, if (i <= 20) 10.0 else 30.0))
    val df = (flat ++ shift).toDF("k", "t", "v")
    val out = Temporal.pageHinkley(df, Seq("k"), "t", "v",
      delta = 0.5, lambda = 30.0, idCols = Seq("t"))
    // columns: k, t, run_mean, ph_stat, alarm
    val byKey = out.collect().groupBy(_.getString(0))
    assert(byKey("flat").forall(!_.getBoolean(4)))
    assert(byKey("up").exists(_.getBoolean(4)))
    // ph is a distance above a running min: nonneg everywhere, 0 at t=1
    assert(out.collect().forall(_.getDouble(3) >= 0.0))
    assert(byKey("up").minBy(_.getLong(1)).getDouble(3) == 0.0)
  }

  test("decompose: additivity, zero-sum seasonal, edge-null trend") {
    import org.apache.spark.sql.functions._
    // period-5 sawtooth on a linear trend, 40 points, one key
    val df = (1 to 40).map(i => ("k", i.toLong, i * 0.5 + (i % 5) * 2.0))
      .toDF("k", "t", "v")
    val out = Temporal.decompose(df, Seq("k"), "t", "v", period = 5,
      idCols = Seq("t")).collect()
    val byT = out.map(r => r.getLong(1) -> r).toMap
    // trend null exactly on the first/last (p-1)/2 rows
    assert(Seq(1L, 2L, 39L, 40L).forall(t => byT(t).isNullAt(3)))
    assert((3L to 38L).forall(t => !byT(t).isNullAt(3)))
    // seasonal sums to ~0 over the 5 phases
    val sByPhase = out.map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(sByPhase.size == 5 && math.abs(sByPhase.values.sum) < 1e-5)
    // additivity where trend exists: v = trend + seasonal + remainder
    (3L to 38L).foreach { t =>
      val r = byT(t)
      val v = t * 0.5 + (t % 5) * 2.0
      assert(math.abs(r.getDouble(3) + r.getDouble(4) + r.getDouble(5) - v)
        < 2e-6, s"t=$t")
    }
    // the sawtooth is period-5 on a LINEAR trend: centered MA recovers the
    // trend up to the constant seasonal mean, so remainder ~ 0 everywhere
    (3L to 38L).foreach(t => assert(math.abs(byT(t).getDouble(5)) < 1e-5))
  }

  test("cusum plan: one exchange, no join, unbounded history") {
    val df = Tables.load(spark, sf, "events")
    val out = Temporal.cusum(df, Seq("user_id"), "ts", "value",
      target = 50.0, slack = 10.0, h = 150.0,
      tiebreak = Seq("event_id"), idCols = Seq("event_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"cusum must not join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("durbinWatson: hand-computed DW; short and constant series null") {
    import spark.implicits._
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")
    // u1: 1,3,2,5,4,6,5,7 -> num = 24, den = 165 - 33^2/8 = 28.875
    val u1 = Seq(1L, 3L, 2L, 5L, 4L, 6L, 5L, 7L).zipWithIndex
      .map { case (v, i) => (1L, ts(i + 1), (i + 1).toLong, v) }
    // u2: 7 points only -> below minN
    val u2 = (1 to 7).map(i => (2L, ts(i), (100 + i).toLong, i.toLong))
    // u3: constant 8 points -> zero variance
    val u3 = (1 to 8).map(i => (3L, ts(i), (200 + i).toLong, 5L))
    val df = (u1 ++ u2 ++ u3).toDF("user_id", "ts", "event_id", "cents")
    val out = Temporal.durbinWatson(df, Seq("user_id"), "ts", "cents",
        tiebreak = Seq("event_id"), minN = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.get(2)))).toMap
    assert(out(1L)._1 == 8L)
    assert(out(1L)._2 == r6(24.0 / 28.875))
    assert(out(2L) == ((7L, null)))
    assert(out(3L) == ((8L, null)))
    // momentum series sits well below 2; a strict alternation sits above
    assert(out(1L)._2.asInstanceOf[Double] < 2.0)
    val alt = (1 to 8).map(i =>
      (9L, ts(i), i.toLong, if (i % 2 == 0) 10L else 0L))
      .toDF("user_id", "ts", "event_id", "cents")
    val a = Temporal.durbinWatson(alt, Seq("user_id"), "ts", "cents",
      tiebreak = Seq("event_id"), minN = 8).head()
    assert(a.getDouble(2) > 2.0)
  }

  test("ljungBox: equals the fold over published ACFs; momentum beats noise; degenerate nulls") {
    import spark.implicits._
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")
    val trend = (1 to 12).map(i => (1L, ts(i), i.toLong, i * 10.0))
    val zig = (1 to 12).map(i =>
      (2L, ts(i), (100 + i).toLong, if (i % 2 == 0) 10.0 else 20.0))
    val const = (1 to 12).map(i => (3L, ts(i), (200 + i).toLong, 5.0))
    val short = (1 to 3).map(i => (4L, ts(i), (300 + i).toLong, i * 1.0))
    val df = (trend ++ zig ++ const ++ short)
      .toDF("user_id", "ts", "event_id", "value")
    val lb = Temporal.ljungBox(df, Seq("user_id"), "ts", "value",
        maxLag = 3, tiebreak = Seq("event_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
    // consistency: Q re-folds from the autocorrelation op's own rows
    val ac = Temporal.autocorrelation(df.filter(col("user_id") === 1L),
        Seq("user_id"), "ts", "value", maxLag = 3,
        tiebreak = Seq("event_id")).collect()
    val n = ac.map(r => r.getLong(2) + r.getLong(1)).max.toDouble
    val s = ac.map(r => r.getDouble(3) * r.getDouble(3) / r.getLong(2)).sum
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    assert(lb(1L)._1 == 12L && lb(1L)._2 == 3L)
    assert(lb(1L)._3 == r6(n * (n + 2) * s))
    // a monotone trend is far less white than an alternation of equal
    // magnitude is... both reject, but trend's lag-2/3 ACFs keep it high
    assert(lb(1L)._3.asInstanceOf[Double] > 0)
    assert(lb(2L)._3.asInstanceOf[Double] > 0)
    // constant series: undefined ACFs -> null
    assert(lb(3L)._3 == null)
    // series shorter than maxLag + 1: an unpopulated lag -> null
    assert(lb(4L)._3 == null)
  }

  test("runsTest: alternation and clumping z-scores; at-median drop; degenerate keys absent") {
    import spark.implicits._
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    // u1 alternates around the median: runs = 6, E = 4, Var = 1.2
    val u1 = Seq(1L, 9L, 2L, 8L, 3L, 7L).zipWithIndex
      .map { case (v, i) => (1L, ts(i + 1), (i + 1).toLong, v) }
    // u2 clumps (all below, then all above) with an at-median 5 kept
    // out of the sequence: runs = 2
    val u2 = Seq(1L, 2L, 3L, 5L, 7L, 8L, 9L).zipWithIndex
      .map { case (v, i) => (2L, ts(i + 1), (100 + i).toLong, v) }
    // u3 constant: every value at the median -> no surviving rows
    val u3 = (1 to 5).map(i => (3L, ts(i), (200 + i).toLong, 4L))
    val df = (u1 ++ u2 ++ u3).toDF("user_id", "ts", "event_id", "cents")
    val out = Temporal.runsTest(df, Seq("user_id"), "ts", "cents",
        tiebreak = Seq("event_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.get(4)))).toMap
    val z0 = 2.0 / math.sqrt(1.2)
    assert(out(1L)._1 == 3L && out(1L)._2 == 3L && out(1L)._3 == 6L)
    assert(out(1L)._4 == r6(z0))
    assert(out(2L)._3 == 2L && out(2L)._4 == r6(-z0))
    assert(!out.contains(3L), "all-at-median key has no sequence to test")
  }
}
