package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal relational operators the reference's event pipelines imply but
 * never name as reusable primitives: as-of join, gap sessionization, and a
 * bucketed range join. (The reference keeps per-entity event history as
 * sorted sequences — e.g. spark/preprocess.py's rank/pad pipeline — and any
 * "latest state at time t" lookup is done by re-sorting inside pandas; these
 * operators express the same lookups as single-shuffle Spark plans.)
 *
 * All three are pure DataFrame composition — no UDFs, no custom physical
 * operators — and each shuffles exactly once, keyed on the entity:
 *
 *  - [[asofJoin]] is the union-then-carry-forward formulation: instead of a
 *    range join (which Spark would execute as a per-key cartesian + filter),
 *    both sides are tagged and unioned, sorted once per key by time, and the
 *    most recent right-side payload is carried forward with
 *    `last(_, ignoreNulls)` over a running window. One exchange on the key,
 *    linear in |L|+|R|, no row explosion — this is the shape that survives a
 *    100 TB event table where per-key order-matching would blow up.
 *  - [[sessionize]] is two window functions over one sort (lag + running
 *    sum), the standard gaps-and-islands formulation.
 *  - [[rangeJoin]] buckets time so interval containment becomes an equi-join
 *    on (key, bucket) + an exact residual filter — no BroadcastNestedLoop.
 */
object Temporal {

  /**
   * As-of join: for every left row, attach the single most recent right row
   * of the same key with `right.ts <= left.ts` (ties at equal timestamps DO
   * match, like DuckDB/pandas `merge_asof` backward direction). Left rows
   * with no prior right row (or none inside `toleranceSec`) keep null
   * payload columns — left-outer semantics, the left side never loses rows.
   *
   * When several right rows share the winning (key, ts), the one with the
   * greatest `rightTiebreak` tuple wins — pass a tiebreak that makes the
   * right side totally ordered per (key, ts) for deterministic output.
   *
   * Scale shape: both sides are projected to (key, ts, payload), unioned,
   * and sorted ONCE per key inside a single window exchange. No join
   * operator at all, so there is nothing to skew-explode: a hot key costs
   * one sorted partition scan, not |L_key|×|R_key| candidate pairs. The
   * right payload travels as one struct column, so the shuffle carries each
   * right row once.
   *
   * @param valueCols    right columns to attach (original names preserved)
   * @param matchedTsCol output column holding the matched right timestamp
   * @param toleranceSec max allowed left.ts - right.ts age, in seconds;
   *                     older matches are nulled out (the left row stays)
   */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      valueCols: Seq[String],
      matchedTsCol: String = "asof_ts",
      toleranceSec: Option[Long] = None,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    require(!left.columns.contains(matchedTsCol),
      s"left side already has a '$matchedTsCol' column")

    val tbExpr: Column =
      if (rightTiebreak.isEmpty) lit(0L)
      else struct(rightTiebreak.map(col): _*)
    val rTagged = right.select(
      col(rightKey).as("_k"), col(rightTs).as("_t"),
      lit(0).as("_side"), tbExpr.as("_tb"),
      struct(col(rightTs).as(matchedTsCol) +: valueCols.map(col): _*).as("_r"))
    val lTagged = left.select(
      col(leftKey).as("_k"), col(leftTs).as("_t"),
      lit(1).as("_side"),
      lit(null).cast(rTagged.schema("_tb").dataType).as("_tb"),
      lit(null).cast(rTagged.schema("_r").dataType).as("_r"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("_l"))
    val unioned = lTagged.unionByName(
      rTagged.withColumn("_l", lit(null).cast(lTagged.schema("_l").dataType)))

    // Right rows sort before left rows at equal ts (side 0 < 1), so a
    // same-instant right row is visible to the left row; among right rows at
    // one instant the greatest tiebreak lands last and wins the carry.
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_side").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)

    val inTol: Column = toleranceSec match {
      case Some(tol) =>
        when(col("_m").isNotNull &&
          unix_micros(col("_t")) - unix_micros(col("_m").getField(matchedTsCol))
            <= tol * 1000000L, col("_m"))
          .otherwise(lit(null).cast(rTagged.schema("_r").dataType))
      case None => col("_m")
    }
    carried.withColumn("_m", inTol)
      .select(col("_l.*") +:
        (matchedTsCol +: valueCols).map(c => col("_m").getField(c).as(c)): _*)
  }

  /**
   * As-of join against a PACKED dimension history: the right side is
   * collapsed to one row per key holding its time-sorted (ts, payload)
   * array, and each left row picks the last entry at-or-before its
   * timestamp with pure array expressions (`filter` + `element_at`).
   * Same match semantics as [[asofJoin]] (backward, ties match, greatest
   * tiebreak wins, left-outer, optional tolerance) — spec-pinned equal.
   *
   * Different scale shape, complementary to [[asofJoin]]: the left side
   * is NEVER shuffled or sorted — one equi-join (broadcastable when the
   * packed dimension is small) and a narrow projection. The cost is the
   * packed array: per-key history must fit in a row, so this is the shape
   * for dimension histories (SCD-2 tables, config/state changelogs), not
   * for joining two event logs. Because no window functions are involved,
   * it is also the STREAMING as-of: a stream-static equi-join plus array
   * expressions is fully supported by Structured Streaming, where the
   * union+window formulation is not.
   */
  def asofLookupJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      valueCols: Seq[String],
      matchedTsCol: String = "asof_ts",
      toleranceSec: Option[Long] = None,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    require(!left.columns.contains(matchedTsCol),
      s"left side already has a '$matchedTsCol' column")
    val tbExpr: Column =
      if (rightTiebreak.isEmpty) lit(0L)
      else struct(rightTiebreak.map(col): _*)
    // sort key = (ts, tiebreak) so array order reproduces the window
    // order of asofJoin; payload rides along outside the comparison
    val packed = right.groupBy(col(rightKey).as("_k"))
      .agg(sort_array(collect_list(struct(
        col(rightTs).as("_t"), tbExpr.as("_tb"),
        struct(col(rightTs).as(matchedTsCol) +: valueCols.map(col): _*)
          .as("_v")))).as("_hist"))
    val eligible = filter(col("_hist"),
      x => x.getField("_t") <= col(leftTs))
    val m = when(size(eligible) > 0, element_at(eligible, -1).getField("_v"))
    val inTol: Column = toleranceSec match {
      case Some(tol) =>
        when(m.isNotNull &&
          unix_micros(col(leftTs)) - unix_micros(m.getField(matchedTsCol))
            <= tol * 1000000L, m)
      case None => m
    }
    left.join(packed, col(leftKey) === col("_k"), "left")
      .withColumn("_m", inTol)
      .select(left.columns.map(col).toSeq ++
        (matchedTsCol +: valueCols).map(c => col("_m").getField(c).as(c)): _*)
  }

  /**
   * Gap sessionization: assign each row a per-key `session_id` (1-based,
   * increasing with time) where a new session starts whenever the gap to the
   * previous row of the same key exceeds `gapSec` (strictly; a gap of
   * exactly `gapSec` stays in-session). Classic gaps-and-islands: one lag +
   * one running sum over the same (key, ts, tiebreak) sort — a single
   * exchange keyed on the entity, reusable by any downstream per-key op.
   *
   * `tiebreak` makes the order total when timestamps collide (required for
   * deterministic output; same convention as [[graft.prep.Windows.ranks]]).
   */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String,
      gapSec: Long, tiebreak: Seq[String] = Nil,
      sessionCol: String = "session_id"): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(gapSec > 0, "gapSec must be positive")
    val ord = col(tsCol).asc +: tiebreak.map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = prev.isNull ||
      (unix_micros(col(tsCol)) - unix_micros(prev)) > gapSec * 1000000L
    df.withColumn("_sess_new", isNew.cast("long"))
      .withColumn(sessionCol, sum(col("_sess_new")).over(run))
      .drop("_sess_new")
  }

  /**
   * Per-session aggregates over a [[sessionize]] result: event count, span
   * start/end and duration. Groups on (keys, session) — same key prefix as
   * the sessionize exchange, so AQE/EnsureRequirements keeps it to the one
   * existing shuffle plus a partial agg.
   */
  def sessionStats(sessions: DataFrame, keys: Seq[String], tsCol: String,
      sessionCol: String = "session_id"): DataFrame =
    sessions.groupBy((keys :+ sessionCol).map(col): _*).agg(
      count(lit(1)).as("n_events"),
      min(col(tsCol)).as("session_start"),
      max(col(tsCol)).as("session_end"),
      (unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
        .as("duration_us"))

  /**
   * Funnel analysis: per key, the earliest completion chain through
   * `steps` — `stepN_ts` is the minimum event time of step N's type
   * at-or-after step N-1's match (the standard nested-min funnel; `>=`
   * makes same-instant progressions count and the result independent of
   * any tie order). One pass per step over the type-filtered slice
   * (predicate pushes to the scan), every aggregation and join keyed on
   * the SAME entity columns — one hash partitioning reused down the
   * chain, no global state. Output: keys, `stepN_ts` per step (null once
   * the chain stalls) and `n_steps_completed`.
   */
  def funnel(df: DataFrame, keys: Seq[String], tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val kc = keys.map(col)
    var acc = df.select(kc: _*).distinct()
    var prev: Option[String] = None
    steps.zipWithIndex.foreach { case (st, i) =>
      val name = s"step${i + 1}_ts"
      val cand = df.filter(col(typeCol) === st)
        .select(kc :+ col(tsCol).as("_ts"): _*)
      val gated = prev match {
        case None => cand
        case Some(p) =>
          cand.join(acc.select(kc :+ col(p).as("_prev"): _*), keys)
            .filter(col("_prev").isNotNull && col("_ts") >= col("_prev"))
      }
      acc = acc.join(gated.groupBy(kc: _*).agg(min(col("_ts")).as(name)),
        keys, "left")
      prev = Some(name)
    }
    // chain prefix property: a stalled step nulls everything after it,
    // so completed = count of non-null step times
    acc.withColumn("n_steps_completed",
      steps.indices.map(i =>
        when(col(s"step${i + 1}_ts").isNotNull, 1).otherwise(0))
        .reduce(_ + _).cast("long"))
  }

  /**
   * Multi-touch attribution: credit every touch event to the EARLIEST
   * conversion at-or-after it for the same key (conversions partition
   * each key's timeline into journeys; touches after the last conversion
   * earn nothing), under the four standard models at once —
   * `credit_first` / `credit_last` (winner-take-all endpoints),
   * `credit_linear` (1/n each) and `credit_position` (the U-shape:
   * 40/20/40, collapsing to 1.0 for a single touch and 0.5/0.5 for two).
   * Emitting all four per touch row beats four runs: the expensive part
   * is the journey assignment, the models are arithmetic on (rank, n).
   *
   * Journey assignment is the [[asofJoin]] union+carry trick run
   * FORWARD (descending scan): no join operator, so a hot user costs one
   * sorted partition scan, never |touches|×|conversions| pairs. The
   * rank/count pass reuses the same key partitioning plus the journey ts
   * — two window passes over one exchange-compatible layout. Ties in
   * touch order break on `tiebreakCol` for engine-stable ranks; a touch
   * exactly at the conversion instant belongs to that conversion.
   * `lookbackSec` drops touches older than the window (age >
   * lookbackSec) instead of crediting them.
   *
   * Output: keys, `conv_ts`, `channelCol`, `touch_ts`, tiebreakCol,
   * `touch_rank`, `n_touches`, the four credit columns (6-dp rounded).
   * With `halfLifeSec` set, a fifth model `credit_time_decay` is
   * appended: weights 0.5^(age/halfLife) normalized per journey — recent
   * touches earn more, still summing to 1.
   */
  def attribution(df: DataFrame, keys: Seq[String], tsCol: String,
      typeCol: String, conversionType: String, channelCol: String,
      tiebreakCol: String, lookbackSec: Option[Long] = None,
      halfLifeSec: Option[Long] = None): DataFrame = {
    val kc = keys.map(col)
    val conv = df.filter(col(typeCol) === conversionType)
      .select(kc :+ col(tsCol).as("_t") :+ lit(0).as("_side")
        :+ lit(null).cast("string").as("_ch")
        :+ lit(null).cast(df.schema(tiebreakCol).dataType).as("_tb"): _*)
    val touch = df.filter(col(typeCol) =!= conversionType)
      .select(kc :+ col(tsCol).as("_t") :+ lit(1).as("_side")
        :+ col(channelCol).cast("string").as("_ch")
        :+ col(tiebreakCol).as("_tb"): _*)
    // descending scan: at equal ts the conversion (side 0) is seen first,
    // so a same-instant touch credits it
    val w = Window.partitionBy(kc: _*)
      .orderBy(col("_t").desc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assigned = conv.unionByName(touch)
      .withColumn("conv_ts",
        last(when(col("_side") === 0, col("_t")), ignoreNulls = true).over(w))
      .where(col("_side") === 1 && col("conv_ts").isNotNull)
    val inWindow = lookbackSec match {
      case Some(lb) => assigned.where(
        unix_micros(col("conv_ts")) - unix_micros(col("_t")) <= lb * 1000000L)
      case None => assigned
    }
    val journey = Window.partitionBy(kc :+ col("conv_ts"): _*)
    val order = journey.orderBy(col("_t").asc, col("_tb").asc)
    val n = col("n_touches").cast("double")
    val rk = col("touch_rank")
    val positional =
      when(col("n_touches") === 1, 1.0)
        .when(col("n_touches") === 2, 0.5)
        .when(rk === 1 || rk === col("n_touches"), 0.4)
        .otherwise(lit(0.2) / (n - 2))
    val base = inWindow
      .withColumn("touch_rank", row_number().over(order).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(journey))
      .select(kc ++ Seq(col("conv_ts"), col("_ch").as(channelCol),
        col("_t").as("touch_ts"), col("_tb").as(tiebreakCol),
        col("touch_rank"), col("n_touches"),
        when(rk === 1, 1.0).otherwise(0.0).as("credit_first"),
        when(rk === col("n_touches"), 1.0).otherwise(0.0).as("credit_last"),
        round(lit(1.0) / n, 6).as("credit_linear"),
        round(positional, 6).as("credit_position")): _*)
    halfLifeSec match {
      case None => base
      case Some(hl) =>
        require(hl >= 1, "halfLifeSec must be >= 1")
        val journey2 = Window.partitionBy(kc :+ col("conv_ts"): _*)
        val w = pow(lit(0.5),
          (unix_micros(col("conv_ts")) - unix_micros(col("touch_ts")))
            .cast("double") / 1000000.0 / hl)
        base.withColumn("credit_time_decay",
          round(w / sum(w).over(journey2), 6))
    }
  }

  /**
   * Resample to a regular per-key time grid with forward fill: one row
   * per (key, bucket) from the key's first to last event bucket, carrying
   * the last observed value at-or-before each bucket end (telemetry
   * regularization / feature-grid building). Grid generation is a
   * `sequence` + explode on the per-key [min, max] span (rows ∝ output
   * grid, never a cross join); the fill is the same union + carry-forward
   * trick as [[asofJoin]] — grid points and observations sort ONCE per
   * key, `last(value, ignoreNulls)` carries state, one exchange total.
   * Emits `bucket_start_s` (epoch seconds) and the filled `valueCol`.
   */
  def resampleFfill(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, bucketSec: Long,
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    require(keys.nonEmpty, "keys must be non-empty")
    val kc = keys.map(col)
    def bucket(c: Column): Column =
      floor(unix_micros(c) / (bucketSec * 1000000L)) * bucketSec
    // observations: last value per occupied (key, bucket) — ordered carry
    // needs each instant once, so collapse to bucket grain first
    val obs = df
      .withColumn("_b", bucket(col(tsCol)))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(kc :+ col("_b"): _*)
          .orderBy(col(tsCol).desc +: tiebreak.map(col(_).desc): _*)))
      .filter(col("_rn") === 1)
      .select(kc ++ Seq(col("_b"), lit(0).as("_side"),
        col(valueCol).as("_v")): _*)
    val grid = df.groupBy(kc: _*)
      .agg(bucket(min(col(tsCol))).as("_lo"), bucket(max(col(tsCol))).as("_hi"))
      .select(kc :+ explode(sequence(col("_lo"), col("_hi"),
        lit(bucketSec))).as("_b"): _*)
      .select(kc ++ Seq(col("_b"), lit(1).as("_side"),
        lit(null).cast(df.schema(valueCol).dataType).as("_v")): _*)
    val w = Window.partitionBy(kc: _*)
      .orderBy(col("_b").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.unionByName(grid)
      .withColumn("_f", last(col("_v"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(kc ++ Seq(col("_b").as("bucket_start_s"),
        col("_f").as(valueCol)): _*)
  }

  /**
   * Cohort retention: bucket each key's FIRST event into its cohort,
   * then count distinct keys active per (cohort, bucket offset) — the
   * standard retention matrix in long form. Buckets are epoch-floored
   * (engine-replayable integer arithmetic, no calendar-origin
   * surprises), emitted as epoch seconds. Two key-partitioned
   * aggregations + one co-keyed join; the final (cohort, offset) grain
   * is tiny.
   */
  def cohortRetention(df: DataFrame, keys: Seq[String], tsCol: String,
      bucketSec: Long): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    require(keys.nonEmpty, "keys must be non-empty")
    def bucket(c: Column): Column =
      floor(unix_micros(c) / (bucketSec * 1000000L)) * bucketSec
    val kc = keys.map(col)
    val cohorts = df.groupBy(kc: _*).agg(bucket(min(col(tsCol))).as("_cs"))
    val active = df.select(kc :+ bucket(col(tsCol)).as("_b"): _*).distinct()
    active.join(cohorts, keys)
      .groupBy(col("_cs").as("cohort_start_s"),
        ((col("_b") - col("_cs")) / lit(bucketSec)).cast("long")
          .as("bucket_offset"))
      .agg(count_distinct(kc.head, kc.tail: _*).as("n_active"))
  }

  /**
   * Event-time downsampling: keep the LAST event per (key, bucket) —
   * telemetry thinning that preserves end-of-bucket state. One
   * window-ranked pass on the (key, bucket) grain; emits the surviving
   * rows unchanged plus the bucket start.
   */
  def downsample(df: DataFrame, keys: Seq[String], tsCol: String,
      bucketSec: Long, tiebreak: Seq[String] = Nil): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    val bucket = timestamp_seconds(
      floor(unix_micros(col(tsCol)) / (bucketSec * 1000000L)) * bucketSec)
    val ord = col(tsCol).desc +: tiebreak.map(col(_).desc)
    df.withColumn("bucket_start", bucket)
      .withColumn("_rn", row_number().over(
        Window.partitionBy((keys.map(col) :+ col("bucket_start")): _*)
          .orderBy(ord: _*)))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /**
   * Interval-overlap join: left intervals × right intervals of the same
   * key where `[lStart,lEnd]` and `[rStart,rEnd]` intersect (inclusive).
   * Same bucketing idea as [[rangeJoin]], plus the canonical-bucket trick
   * to keep the equi-join duplicate-free WITHOUT a dedup pass: a pair of
   * overlapping intervals co-occurs in every bucket their spans share,
   * so the match is emitted only in the bucket containing the overlap's
   * START (`max(lStart, rStart)`) — exactly one bucket per overlapping
   * pair, no `distinct` over the blown-up candidate set.
   */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      bucketSec: Long): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    val us = bucketSec * 1000000L
    def buckets(s: String, e: String) =
      explode(sequence(floor(unix_micros(col(s)) / us),
        floor(unix_micros(col(e)) / us)))
    val lB = left.withColumn("_b", buckets(lStart, lEnd))
    val rB = right.withColumn("_b", buckets(rStart, rEnd))
    val overlapStartBucket =
      floor(greatest(unix_micros(lB(lStart)), unix_micros(rB(rStart))) / us)
    lB.join(rB,
        lB("_b") === rB("_b") && lB(leftKey) === rB(rightKey) &&
          lB(lStart) <= rB(rEnd) && rB(rStart) <= lB(lEnd) &&
          lB("_b") === overlapStartBucket,
        "inner")
      .drop("_b")
  }

  /**
   * CDC changelog apply (the lakehouse MERGE): fold a batch of change
   * events (key, ts, op ∈ {I,U,D}, payload) onto a snapshot — the LATEST
   * change per key wins (ts order, tiebreak column for equal timestamps):
   * a final D deletes the key, I/U upserts its payload, keys with no
   * change carry the snapshot row. `payloadCols` are the columns both
   * frames share beyond the keys.
   *
   * Output: keys ++ payloadCols ++ origin ∈ {carried, updated, inserted}.
   *
   * Scale shape: one window pass keyed on the change keys reduces the
   * changelog to one row per touched key (changelog-sized, usually ≪
   * snapshot), then ONE key-equi full-outer join applies it; with both
   * sides bucketed on the key ([[graft.sources.Bucketed]]) the recurring
   * daily apply plans with zero exchanges on the snapshot.
   */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
      keys: Seq[String], tsCol: String, opCol: String,
      payloadCols: Seq[String], tiebreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty && payloadCols.nonEmpty)
    val ord = (col(tsCol).desc +: tiebreak.map(col(_).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val latest = changes
      .select((keys ++ Seq(tsCol, opCol) ++ payloadCols ++ tiebreak)
        .distinct.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(keys.map(col) ++ Seq(col(opCol).as("__op")) ++
        payloadCols.map(c => col(c).as(s"__c_$c")): _*)
    val snap = snapshot.select(keys.map(col) ++
      Seq(lit(true).as("__in_snap")) ++
      payloadCols.map(c => col(c).as(s"__s_$c")): _*)
    snap.join(latest, keys, "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(keys.map(col) ++
        payloadCols.map(c =>
          when(col("__op").isNotNull, col(s"__c_$c"))
            .otherwise(col(s"__s_$c")).as(c)) :+
        when(col("__op").isNull, lit("carried"))
          .when(col("__in_snap").isNotNull, lit("updated"))
          .otherwise(lit("inserted")).as("origin"): _*)
  }

  /**
   * SCD type-2 history build: turn a change-event stream (key, ts, tracked
   * attributes) into validity intervals — half-open `[valid_from, valid_to)`
   * per key, `valid_to` null for the current row. When `attrCols` is
   * non-empty, consecutive rows whose tracked attributes are unchanged are
   * collapsed first (classic SCD-2 compaction), so each output row is one
   * attribute regime. Two window passes over the SAME (key, ts, tiebreak)
   * sort — one exchange total — and the output composes directly with
   * [[asofJoin]] / [[pointInTime]] for "state as of t" lookups.
   */
  def scd2(df: DataFrame, keys: Seq[String], tsCol: String,
      tiebreak: Seq[String] = Nil, attrCols: Seq[String] = Nil,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val ord = col(tsCol).asc +: tiebreak.map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val compacted =
      if (attrCols.isEmpty) df
      else {
        val attrs = struct(attrCols.map(col): _*)
        df.withColumn("_prev_attrs", lag(attrs, 1).over(w))
          .filter(col("_prev_attrs").isNull || !(attrs <=> col("_prev_attrs")))
          .drop("_prev_attrs")
      }
    compacted
      .withColumn(validFromCol, col(tsCol))
      .withColumn(validToCol, lead(col(tsCol), 1).over(w))
  }

  /** Point-in-time slice of an [[scd2]] history: the one row per key whose
    * validity interval contains `at` (`valid_from <= at < valid_to`, open
    * current rows included). A narrow filter — partition-prunable when the
    * history is stored partitioned on a `valid_from` bucket. */
  def pointInTime(history: DataFrame, at: Column,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame =
    history.filter(col(validFromCol) <= at &&
      (col(validToCol).isNull || col(validToCol) > at))

  /**
   * Bucketed range join: left rows (point events) against right rows
   * (intervals `[rightStart, rightEnd]`, inclusive both ends), equi-keyed on
   * an entity and matched on containment. Spark's native answer to a
   * non-equi conjunct is a per-key nested loop; instead, time is cut into
   * `bucketSec` buckets, each interval is exploded to the buckets it covers,
   * and the match becomes an equi-join on (key, bucket) followed by the
   * exact containment filter. A point lives in exactly one bucket, and an
   * interval emits each covered bucket once, so no post-join dedup is
   * needed.
   *
   * Choose `bucketSec` near the typical interval length: cost is
   * |R| × (span/bucketSec + 1) exploded rows vs. per-bucket candidate
   * density. Degenerate long intervals fan out linearly — cap span upstream
   * if the interval table is untrusted.
   */
  def rangeJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightStart: String, rightEnd: String,
      bucketSec: Long): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    val us = bucketSec * 1000000L
    val lB = left.withColumn("_b", floor(unix_micros(col(leftTs)) / us))
    val rB = right.withColumn("_b",
      explode(sequence(floor(unix_micros(col(rightStart)) / us),
        floor(unix_micros(col(rightEnd)) / us))))
    lB.join(rB,
        lB("_b") === rB("_b") && lB(leftKey) === rB(rightKey) &&
          lB(leftTs) >= rB(rightStart) && lB(leftTs) <= rB(rightEnd),
        "inner")
      .drop("_b")
  }

  /**
   * Bounded-memory exponentially weighted moving average per key: the
   * pandas `ewm(alpha).mean()` adjust=False recursion
   * `e_t = alpha*v_t + (1-alpha)*e_{t-1}` restarted from the oldest row of
   * a `window`-row trailing frame. Truncating the recursion at `window`
   * rows bounds per-row state at scale (the dropped tail carries weight
   * `(1-alpha)^window` — pick the window to make it negligible for your
   * alpha) and makes the value a pure function of the frame, so the same
   * fold replays in any engine.
   *
   * Shape: ONE exchange on the key + one sort; the frame materializes at
   * most `window` doubles per row (`collect_list` over a bounded frame)
   * and the fold is a codegen'd `aggregate` HOF seeded with the frame's
   * first element — left-to-right, bit-reproducible. Output: the input
   * row's `idCols` plus the raw `ewma` double (deliberately unrounded:
   * with a dyadic alpha the fold is bit-identical in any IEEE engine,
   * while rounding would create knife-edge half-way cases — fold results
   * are exact dyadic multiples that LAND on decimal .5 boundaries).
   */
  /**
   * Rolling median over a bounded `window`-row trailing frame per key —
   * the robust-statistics companion of the rolling z-score (a single
   * outlier saturates a mean but barely moves the median). Odd frames
   * take the middle element, even frames the mean of the two middle
   * elements (numpy/pandas convention). Deterministic bit-for-bit across
   * engines: sorting doubles and averaging two of them has no
   * summation-order freedom, so the output needs no rounding.
   *
   * Shape: identical to [[ewma]] — one key exchange + one sort, a
   * bounded `collect_list` frame, and a codegen'd `array_sort` +
   * `element_at` pick; O(window log window) per row, constant memory.
   */
  def rollingMedian(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, window: Int = 11,
      tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val xs = array_sort(collect_list(col(valueCol).cast("double")).over(w))
    val n = size(col("_xs"))
    val h = ((n + lit(1)) / lit(2)).cast("int")  // Spark `/` is double division
    val h2 = (n / lit(2)).cast("int")
    val med = when(n % 2 === 1, element_at(col("_xs"), h))
      .otherwise((element_at(col("_xs"), h2) +
        element_at(col("_xs"), h2 + lit(1))) / lit(2.0))
    val keep = (keys ++ idCols).distinct.map(col)
    df.withColumn("_xs", xs)
      .select(keep :+ med.as("rolling_median"): _*)
  }

  def ewma(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, alpha: Double, window: Int = 10,
      tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(window >= 1, "window must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val xs = collect_list(col(valueCol).cast("double")).over(w)
    val folded = aggregate(
      expr(s"slice(_xs, 2, $window)"),
      element_at(col("_xs"), 1),
      (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc)
    val keep = (keys ++ idCols).distinct.map(col)
    df.withColumn("_xs", xs)
      .select(keep :+ folded.as("ewma"): _*)
  }

  /**
   * First-order Markov transition matrix over an event-type sequence:
   * per entity, each event hands off to its successor (ordered by
   * `tsCol` + tiebreak), and the (from, to) handoffs aggregate to
   * counts and row-normalized probabilities — the next-event model
   * behind journey Sankeys, anomaly scoring (improbable transitions)
   * and synthetic-session generators.
   *
   * Output: `from_state, to_state, n, p` (p = n / Σ n per from_state,
   * 6 dp). Scale shape: ONE shuffle by `keys` for the lead window, then
   * a hash agg to (from, to) grain — S² rows for S states, so the
   * normalizing window runs on a table the size of the state-space
   * square, not the event log.
   */
  def markovTransitions(df: DataFrame, keys: Seq[String], tsCol: String,
      stateCol: String, tiebreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val counts = df
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull && col(stateCol).isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("from_state"))
    counts.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(tot), 6))
  }

  /**
   * Score each observed handoff against a [[markovTransitions]] model —
   * the journey ANOMALY detector ([[markovBacktest]] asks "is the
   * model good"; this asks "is the TRAFFIC normal"): a session taking
   * transitions the model rates improbable is bot traffic, a broken
   * funnel, or an instrumentation bug. A handoff whose (from, to) the
   * model never saw scores null p and is flagged (the strictest
   * reading: unseen IS improbable).
   *
   * Output: keys ++ tiebreak, `tsCol`, `from_state`, `to_state`, `p`
   * (the model's 6-dp row), `is_improbable` (p < minP OR unseen).
   * Scale shape: ONE key shuffle for the lead window; the state²-grain
   * model broadcasts onto the handoff stream (the [[markovBacktest]]
   * plan).
   */
  def markovScoreHandoffs(df: DataFrame, keys: Seq[String], tsCol: String,
      stateCol: String, model: DataFrame, minP: Double,
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(minP > 0 && minP < 1, "minP in (0,1)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val handoffs = df
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull && col(stateCol).isNotNull)
      .select((keys ++ tiebreak).map(col) ++ Seq(col(tsCol),
        col(stateCol).as("from_state"), col("__next").as("to_state")): _*)
    handoffs.join(broadcast(model.select(col("from_state"),
        col("to_state"), col("p"))), Seq("from_state", "to_state"), "left")
      .select((keys ++ tiebreak).map(col) ++ Seq(col(tsCol),
        col("from_state"), col("to_state"), col("p"),
        coalesce(col("p") < minP, lit(true)).as("is_improbable")): _*)
  }

  /**
   * Lagged cross-correlation between two event-type intensities — the
   * lead/lag probe "does A lead B by k buckets" ([[autocorrelation]]'s
   * two-series sibling; the readout behind 'clicks lead purchases by
   * 2 days', which sets attribution windows and forecast features).
   * Per key the two series are the per-bucket counts of `typeA` and
   * `typeB` (day grain); ccf(k) = Pearson corr(a_t, b_{t+k}) pooled
   * over all keys, with the lag taken over each key's OBSERVED bucket
   * sequence in order (gap buckets are absent rows, not zeros — the
   * sessionized-activity convention; densify upstream if calendar lags
   * are wanted).
   *
   * Determinism: both series are integer counts, every corr enters
   * through exact long sums (Σa, Σb, Σab, Σa², Σb² per lag), and the
   * only division is the final closed form — bit-identical across
   * engines before the 6-dp round.
   *
   * Output: one row per lag 0..maxLag — `lag`, `n_pairs`, `ccf` (6 dp;
   * null when either pooled series is constant). Scale shape: ONE
   * aggregate to (key, bucket) grain, one key-ordered window for the
   * ≤ maxLag+1 leads, an in-row lag unpivot, and a lag-grain aggregate
   * — nothing event-grain crosses a second shuffle.
   */
  def crossCorrelation(df: DataFrame, keys: Seq[String], tsCol: String,
      typeCol: String, typeA: String, typeB: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 60, "maxLag in [0, 60]")
    val day = date_trunc("DAY", col(tsCol).cast("timestamp"))
    val series = df.filter(col(typeCol).isin(typeA, typeB))
      .groupBy((keys.map(col) :+ day.as("__d")): _*)
      .agg(sum(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("__a"),
        sum(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("__b"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__d").asc)
    val withLeads = (0 to maxLag).foldLeft(series) { (acc, k) =>
      acc.withColumn(s"__b$k", lead(col("__b"), k).over(w))
    }
    val lagStructs = array((0 to maxLag).map(k =>
      struct(lit(k.toLong).as("lag"), col(s"__b$k").as("bk"))): _*)
    withLeads
      .select(col("__a"), explode(lagStructs).as("__l"))
      .select(col("__l.lag").as("lag"), col("__a"), col("__l.bk").as("__bk"))
      .filter(col("__bk").isNotNull)
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__a")).as("__sa"), sum(col("__bk")).as("__sb"),
        sum(col("__a") * col("__a")).as("__saa"),
        sum(col("__bk") * col("__bk")).as("__sbb"),
        sum(col("__a") * col("__bk")).as("__sab"))
      .select(col("lag"), col("n_pairs"), {
        val n = col("n_pairs").cast("double")
        val num = n * col("__sab") - col("__sa") * col("__sb")
        val da = n * col("__saa") - col("__sa") * col("__sa")
        val db = n * col("__sbb") - col("__sb") * col("__sb")
        round(when(da > 0 && db > 0, num / sqrt(da * db)), 6).as("ccf")
      })
  }

  /**
   * Exact Shapley-value channel attribution (Shapley 1953; the
   * data-driven attribution standard — position rules like
   * [[attribution]]'s first/last/linear/decay answer "who touched",
   * Shapley answers "who CAUSED", crediting each channel its average
   * marginal contribution over every coalition order). The
   * characteristic function is the standard journey-subset form:
   * v(S) = number of conversions whose pre-conversion touched-channel
   * set ⊆ S, so φᵢ = Σ_{S ∌ i} |S|!(n−1−|S|)!/n! · (v(S∪{i}) − v(S)).
   *
   * EXACT, not sampled — and still cheap, because the 2ⁿ enumeration
   * happens over the CHANNEL universe (marketing channels are ≤ ~10),
   * not the data: journeys aggregate to at most 2ⁿ set-count rows, the
   * subset lattice and the factorial weights are built in the JVM and
   * enter the plan as literal tables, and everything after the one
   * event-grain aggregate is 2ⁿ-sized arithmetic. Conversions with no
   * prior touches add the same constant to every v(S), so the marginal
   * differences — and therefore every φᵢ — are unchanged whether they
   * are counted or (as here) dropped at the touch filter.
   *
   * Output: one row per channel — `channel`, `touched_conversions`
   * (conversions whose journey contains it), `shapley` (6 dp),
   * `share` (6 dp; of the total attributable v(full) − v(∅), by the
   * efficiency axiom = Σφ). Scale shape: one filtered distinct to
   * (user, channel), one aggregate to set-bitmask grain, then literal
   * joins on ≤ 2ⁿ rows. Nothing event-grain survives the first
   * aggregate.
   */
  def shapleyAttribution(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, channels: Seq[String], convType: String): DataFrame = {
    require(channels.nonEmpty && channels.size <= 12,
      "channels must be 1..12 (2^n subset lattice is a plan literal)")
    require(!channels.contains(convType),
      "the conversion type is not a touch channel")
    val n = channels.size
    val spark = df.sparkSession
    import spark.implicits._
    // first conversion instant per user
    val conv = df.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("__u"))
      .agg(min(col(tsCol)).as("__cts"))
    // touched-channel bitmask of each converting journey (distinct
    // channels strictly before the first conversion)
    val bitOf = channels.zipWithIndex.tail.foldLeft(
      when(col(typeCol) === channels.head, lit(1L))) {
      case (acc, (c, i)) => acc.when(col(typeCol) === c, lit(1L << i))
    }
    val masks = df.join(conv, col(userCol) === col("__u"))
      .filter(col(tsCol) < col("__cts") && col(typeCol).isin(channels: _*))
      .select(col("__u"), bitOf.as("__bit"))
      .distinct()
      .groupBy(col("__u")).agg(sum(col("__bit")).as("__mask"))
    val setCounts = masks.groupBy(col("__mask")).agg(count(lit(1)).as("__c"))
    // v(S) over the literal subset lattice: v = sum of counts of sets
    // T with T AND S = T
    val lattice = (0 until (1 << n)).map(_.toLong).toDF("__s")
    val v = lattice.join(setCounts, (col("__mask")
        .bitwiseAND(col("__s")) === col("__mask")), "left")
      .groupBy(col("__s")).agg(coalesce(sum(col("__c")), lit(0L)).as("__v"))
    // (channel, S, S∪{i}, weight) rows — factorial weights in the JVM
    def fact(k: Int): Double = (1 to k).foldLeft(1.0)(_ * _)
    val pairs = (for {
      (c, i) <- channels.zipWithIndex
      s <- 0 until (1 << n) if (s & (1 << i)) == 0
    } yield {
      val size = java.lang.Long.bitCount(s.toLong)
      (c, s.toLong, (s | (1 << i)).toLong,
        fact(size) * fact(n - 1 - size) / fact(n))
    }).toDF("channel", "__s", "__si", "__w")
    val phi = pairs
      .join(v.select(col("__s"), col("__v").as("__vs")), "__s")
      .join(v.select(col("__s").as("__si"), col("__v").as("__vsi")), "__si")
      .groupBy(col("channel"))
      .agg(sum(col("__w") * (col("__vsi") - col("__vs"))).as("__phi"))
    // per-channel touched counts + the efficiency-axiom total
    val touchCounts = channels.zipWithIndex
      .map { case (c, i) => (c, 1L << i) }.toDF("channel", "__cbit")
      .join(setCounts, col("__cbit").bitwiseAND(col("__mask")) =!= 0, "left")
      .groupBy(col("channel"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("touched_conversions"))
    val total = Window.partitionBy()
    phi.join(touchCounts, "channel")
      .withColumn("__tot", sum(col("__phi")).over(total))
      .select(col("channel"), col("touched_conversions"),
        round(col("__phi"), 6).as("shapley"),
        round(when(col("__tot") > 0, col("__phi") / col("__tot")), 6)
          .as("share"))
  }

  /** Seeded Fisher–Yates channel permutations for [[shapleySampled]];
    * element j of each row = the POSITION of channel j in that
    * permutation. Public so an oracle can inject the identical sample
    * as a literal table. */
  def sampledPermutations(n: Int, nPerms: Int,
      seed: Long): Seq[Seq[Int]] = {
    val rnd = new java.util.Random(seed)
    (0 until nPerms).map { _ =>
      val a = Array.range(0, n)
      var i = n - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      val pos = new Array[Int](n)
      a.zipWithIndex.foreach { case (ch, p) => pos(ch) = p }
      pos.toSeq
    }
  }

  /**
   * Permutation-sampling Shapley attribution (Castro, Gómez & Tejada
   * 2009, "Polynomial calculation of the Shapley value based on
   * sampling") — the >12-channel extension of [[shapleyAttribution]],
   * whose exact 2ⁿ lattice is require-capped. Real attribution setups
   * run 20–50 channels; the sampled estimator is unbiased with
   * O(1/√m) error and here stays fully deterministic AND
   * engine-checkable: the m permutations come from a seeded
   * Fisher–Yates ([[sampledPermutations]] — inject the same sample
   * into an oracle as a literal table), and the estimate reduces to
   * EXACT INTEGER counts divided by m.
   *
   * The key identity: under the journey-subset characteristic function
   * v(S) = #conversions with touched-set ⊆ S, a channel's marginal
   * contribution in a permutation π is v(Pᵢ ∪ {i}) − v(Pᵢ) =
   * #journeys T whose π-LAST channel is i. So each journey credits
   * exactly ONE channel per permutation — φ̂ᵢ = Σ_π (count of journeys
   * last-touching i in π) / m — and the efficiency axiom
   * Σφ̂ = v(full) − v(∅) holds EXACTLY, not just in expectation. With
   * the full n! permutation set the estimate IS the exact Shapley
   * value (spec-checked against [[shapleyAttribution]] via
   * `permsOverride`).
   *
   * Scale shape: identical event-grain prefix to the exact operator
   * (one filtered distinct, one aggregate to journey-set grain); then
   * set-counts × m broadcast permutation rows with an O(n) codegen'd
   * argmax per row — never 2ⁿ, never event-grain. Output matches the
   * exact operator: channel, touched_conversions, shapley (6 dp),
   * share (6 dp).
   */
  def shapleySampled(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, channels: Seq[String], convType: String,
      nPerms: Int = 200, seed: Long = 42L,
      permsOverride: Option[Seq[Seq[Int]]] = None): DataFrame = {
    require(channels.nonEmpty && channels.size <= 62,
      "channels must be 1..62 (journey sets pack into a long bitmask)")
    require(!channels.contains(convType),
      "the conversion type is not a touch channel")
    require(nPerms >= 1, "nPerms must be >= 1")
    val n = channels.size
    val spark = df.sparkSession
    import spark.implicits._
    val conv = df.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("__u"))
      .agg(min(col(tsCol)).as("__cts"))
    val bitOf = channels.zipWithIndex.tail.foldLeft(
      when(col(typeCol) === channels.head, lit(1L))) {
      case (acc, (c, i)) => acc.when(col(typeCol) === c, lit(1L << i))
    }
    val setCounts = df.join(conv, col(userCol) === col("__u"))
      .filter(col(tsCol) < col("__cts") && col(typeCol).isin(channels: _*))
      .select(col("__u"), bitOf.as("__bit"))
      .distinct()
      .groupBy(col("__u")).agg(sum(col("__bit")).as("__mask"))
      .groupBy(col("__mask")).agg(count(lit(1)).as("__c"))
    val perms = permsOverride.getOrElse(sampledPermutations(n, nPerms, seed))
    require(perms.nonEmpty && perms.forall(_.length == n),
      "each permutation must carry one position per channel")
    val m = perms.length
    val permDf = perms.zipWithIndex.map { case (p, id) => (id.toLong, p) }
      .toDF("__perm", "__pos")
    // π-last channel of each journey set: encode pos*64+idx so one
    // array_max both selects the max position and carries its index
    val winner = expr(
      s"array_max(transform(filter(sequence(0, ${n - 1}), " +
        "j -> ((__mask >> j) & 1) = 1), " +
        "j -> element_at(__pos, j + 1) * 64 + j))")
    val contrib = setCounts.crossJoin(broadcast(permDf))
      .withColumn("__ci", (winner % 64).cast("int"))
      .groupBy(col("__ci")).agg(sum(col("__c")).as("__s"))
    val chanDf = channels.zipWithIndex
      .map { case (c, i) => (c, i, 1L << i) }
      .toDF("channel", "__ci", "__cbit")
    val touchCounts = chanDf.select(col("channel"), col("__cbit"))
      .join(setCounts, col("__cbit").bitwiseAND(col("__mask")) =!= 0, "left")
      .groupBy(col("channel"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("touched_conversions"))
    val total = Window.partitionBy()
    chanDf.select(col("channel"), col("__ci"))
      .join(contrib, Seq("__ci"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(0L)))
      .withColumn("__tot", sum(col("__s")).over(total))
      .join(touchCounts, "channel")
      .select(col("channel"), col("touched_conversions"),
        round(col("__s").cast("double") / lit(m.toDouble), 6).as("shapley"),
        round(when(col("__tot") > 0,
          col("__s").cast("double") / col("__tot").cast("double")), 6)
          .as("share"))
  }

  /**
   * Backtest the first-order Markov next-event model: fit
   * [[markovTransitions]] on a FIT slice (typically the earlier
   * period), predict each state's most likely successor, and score
   * top-1 accuracy over the SCORE slice's actual handoffs — the
   * honesty check a journey model owes its users before its
   * probabilities drive anything ("does 'view→purchase is most likely'
   * actually hold out of sample"). The argmax breaks ties on the
   * exact COUNT (not the rounded probability) then min to_state, so
   * the predicted table is engine-stable.
   *
   * Output: one row per from_state seen in the score slice —
   * `from_state, predicted, n_scored, n_hits, accuracy` (6 dp;
   * predicted/hits null/0 for states absent from the fit slice).
   * Scale shape: two lead windows (one per slice, each ONE key
   * shuffle), the model is state²-grain and broadcasts back onto the
   * state-grain scored aggregate.
   */
  def markovBacktest(fit: DataFrame, score: DataFrame, keys: Seq[String],
      tsCol: String, stateCol: String,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val model = markovTransitions(fit, keys, tsCol, stateCol, tiebreak)
    val best = Window.partitionBy(col("from_state"))
      .orderBy(col("n").desc, col("to_state").asc)
    val predicted = model
      .withColumn("__r", row_number().over(best))
      .filter(col("__r") === 1)
      .select(col("from_state"), col("to_state").as("predicted"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val handoffs = score
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull && col(stateCol).isNotNull)
      .select(col(stateCol).as("from_state"), col("__next"))
    handoffs.join(broadcast(predicted), Seq("from_state"), "left")
      .groupBy(col("from_state"))
      .agg(first(col("predicted")).as("predicted"),
        count(lit(1)).as("n_scored"),
        sum(when(col("__next") === col("predicted"), 1L).otherwise(0L))
          .as("n_hits"))
      // hits/scored is an integer-grid ratio: quantize half-up in exact
      // integer arithmetic (the seasonalNaiveBacktest pattern) — a double
      // round hits the half-micro boundary with probability ~1/n
      .withColumn("accuracy",
        expr("(n_hits * 2000000 + n_scored) div (n_scored * 2)")
          .cast("double") / 1e6)
  }

  /**
   * Frequent event n-grams: every length-`n` run of consecutive states
   * per entity, counted corpus-wide — the sequence-mining complement of
   * [[markovTransitions]] (n = 2 recovers its counts). `minCount`
   * prunes the long tail before it leaves the aggregation.
   * Output: `ngram` (states joined with " -> "), `n`. Same ONE-shuffle
   * shape: lead window per key, hash agg on the ngram string.
   */
  def eventNgrams(df: DataFrame, keys: Seq[String], tsCol: String,
      stateCol: String, n: Int, tiebreak: Seq[String] = Nil,
      minCount: Long = 1L): DataFrame = {
    require(n >= 2, "n must be >= 2")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val steps = (1 until n).map(k => lead(col(stateCol), k).over(w))
    val parts = col(stateCol) +: steps
    df.withColumn("__g",
        when(parts.map(_.isNotNull).reduce(_ && _),
          concat_ws(" -> ", parts: _*)))
      .filter(col("__g").isNotNull)
      .groupBy(col("__g").as("ngram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /**
   * Per-key sample autocorrelation at lags 1..`maxLag` (the standard
   * biased estimator: Σ dev_t·dev_{t+k} / Σ dev_t², deviations from the
   * key's own mean) — the seasonality/periodicity probe run before
   * choosing resample grain or EWMA alpha.
   *
   * Output: keys, `lag`, `n_pairs`, `acf` (6 dp; null when the key's
   * series has zero variance or fewer than lag+1 points). Scale shape:
   * the full-partition mean, the ordered lead columns and the final
   * per-key aggregation all share ONE hash partitioning by `keys` —
   * a single exchange end-to-end; lags unpivot driver-free from the
   * aggregated (key-grain) row.
   */
  def autocorrelation(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, maxLag: Int, tiebreak: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val kc = keys.map(col)
    val ord = Window.partitionBy(kc: _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val all = Window.partitionBy(kc: _*)
    val dev = col(valueCol).cast("double") - avg(col(valueCol)).over(all)
    val withLags = (1 to maxLag).foldLeft(
        df.withColumn("__d", dev)) { (d, k) =>
      d.withColumn(s"__l$k", lead(col("__d"), k).over(ord))
    }
    val aggs = sum(col("__d") * col("__d")).as("__ss") +:
      (1 to maxLag).flatMap(k => Seq(
        sum(col("__d") * col(s"__l$k")).as(s"__num$k"),
        count(col(s"__l$k")).as(s"__np$k")))
    val agg = withLags.groupBy(kc: _*).agg(aggs.head, aggs.tail: _*)
    val rows = (1 to maxLag).map(k =>
      struct(lit(k).cast("long").as("lag"), col(s"__np$k").as("n_pairs"),
        round(when(col("__ss") > 0, col(s"__num$k") / col("__ss")), 6)
          .as("acf")))
    agg.select(kc :+ explode(array(rows: _*)).as("__r"): _*)
      .select(kc ++ Seq(col("__r.lag"), col("__r.n_pairs"), col("__r.acf")): _*)
  }

  /**
   * Ljung–Box portmanteau test (Ljung & Box 1978) per key:
   * Q = n(n+2)·Σ_{k=1..L} ρ̂ₖ²/(n−k) over the key's first L
   * autocorrelations — "is this series white noise", the joint test a
   * per-lag [[autocorrelation]] eyeball misses (many small ρ̂'s that
   * are jointly damning). Q ≈ χ²(L) under independence; the standard
   * residual-diagnostic after any [[ewma]]/[[holtSmooth]]/Theta fit.
   *
   * Rides directly on [[autocorrelation]]'s output — including its
   * 6-dp-rounded ρ̂ₖ (reproducibility-first: the statistic is exactly
   * replayable from the published ACFs; the rounding perturbs Q by
   * ~1e-5·n, far inside any decision margin). Q is null when ANY of
   * the L lags is undefined (zero-variance series) or unpopulated
   * (series shorter than L+1) — counted explicitly, since SUM would
   * silently skip the null terms.
   *
   * Output: one row per key — keys, `n`, `lags`, `q` (6 dp). `n` is
   * max(n_pairs + lag) — exactly the series length whenever every lag
   * is populated (the only case where q is non-null); on a shorter
   * series it is an upper bound and q is null anyway.
   * Scale shape: the autocorrelation shuffle + one key-grain
   * aggregate.
   */
  def ljungBox(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, maxLag: Int,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val ac = autocorrelation(df, keys, tsCol, valueCol, maxLag, tiebreak)
    val npS = when(col("n_pairs") > 0, col("n_pairs"))
    val term = col("acf") * col("acf") / npS
    val bad = when(col("acf").isNull || col("n_pairs") <= 0, 1L)
      .otherwise(0L)
    val g = ac.groupBy(keys.map(col): _*)
      .agg(max(col("n_pairs") + col("lag")).as("n"),
        count(lit(1)).as("lags"),
        sum(term).as("__s"),
        coalesce(sum(bad), lit(0L)).as("__bad"))
    val nD = col("n").cast("double")
    g.select(keys.map(col) ++ Seq(col("n"), col("lags"),
      round(when(col("__bad") === 0 && col("n") > 0,
        nD * (nD + 2) * col("__s")), 6).as("q")): _*)
  }

  /**
   * Wald–Wolfowitz runs test per key: is the sequence of
   * above/below-median signs RANDOM, or does it clump (momentum,
   * regime persistence) or alternate (negative feedback, over-
   * correction)? Counts the sign runs R over the key's time-ordered
   * series (values AT the median drop — the standard dichotomization),
   * then z-scores against the exact run-count moments
   *   E[R] = 1 + 2·n₁n₀/n,  Var[R] = 2n₁n₀(2n₁n₀ − n)/(n²(n − 1)).
   * The distribution-FREE cousin of [[durbinWatson]] (which measures
   * linear lag-1 correlation; runs see any sign-pattern deviation).
   *
   * The per-key median is the exact `percentile` (dyadic half-integer
   * on integral input — `valueCol` must be cents, the anovaF
   * contract), so the above/below split is deterministic cross-engine.
   * Output: one row per key — keys, `n_above`, `n_below`, `runs`, `z`
   * (6 dp) — z null when either side is empty or Var ≤ 0.
   *
   * Scale shape: one key-grain median aggregate joined back (key
   * grain), one per-key lag window, one aggregate — all on the same
   * key partitioning.
   */
  def runsTest(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, tiebreak: Seq[String] = Nil): DataFrame = {
    val kc = keys.map(col)
    val x = col(valueCol).cast("long")
    val base = df.filter(x.isNotNull).withColumn("__x", x)
    val meds = base.groupBy(kc: _*)
      .agg(expr(s"percentile(__x, 0.5)").as("__med"))
    val ord = Window.partitionBy(kc: _*)
      .orderBy(Seq(col(tsCol)) ++ tiebreak.map(col): _*)
    val signed = base.join(meds, keys)
      .filter(col("__x").cast("double") =!= col("__med"))
      .withColumn("__up", col("__x").cast("double") > col("__med"))
      .withColumn("__flip",
        when(lag(col("__up"), 1).over(ord).isNull ||
          lag(col("__up"), 1).over(ord) =!= col("__up"), 1L).otherwise(0L))
    val g = signed.groupBy(kc: _*)
      .agg(coalesce(sum(when(col("__up"), 1L).otherwise(0L)), lit(0L))
          .as("n_above"),
        coalesce(sum(when(!col("__up"), 1L).otherwise(0L)), lit(0L))
          .as("n_below"),
        coalesce(sum(col("__flip")), lit(0L)).as("runs"))
    val n1 = col("n_above").cast("double")
    val n0 = col("n_below").cast("double")
    val n = n1 + n0
    val nS = when(n > 0, n)
    val e = lit(1.0) + lit(2.0) * n1 * n0 / nS
    val varR = lit(2.0) * n1 * n0 * (lit(2.0) * n1 * n0 - n) /
      (n * n * when(n - 1 > 0, n - 1))
    g.select(kc ++ Seq(col("n_above"), col("n_below"), col("runs"),
      round(when(col("n_above") > 0 && col("n_below") > 0 && varR > 0,
        (col("runs") - e) / sqrt(varR)), 6).as("z")): _*)
  }

  /**
   * Mean-shift changepoint scan: at each boundary, compare the `w`
   * points immediately before against the `w` starting at the point;
   * score = |Δmean| / pooled sample std. Only boundaries with BOTH
   * windows full are scored (edges can't witness a shift), and a zero
   * pooled std (two locally-constant windows) yields a null score —
   * a level CHANGE between them is the textbook changepoint, but with
   * no variance there is no scale to grade it on, so it is flagged via
   * the `flat_shift` column instead of an infinite score.
   *
   * Output: keys, `tsCol`, tiebreak, `mean_before`, `mean_after`,
   * `score` (6 dp), `flat_shift`, `is_changepoint` (score > threshold
   * OR a nonzero flat shift). ONE shuffle: both frames ride the same
   * key partitioning.
   */
  /**
   * Cadence-gap detection: per key, every consecutive-event gap larger
   * than `toleranceSec` — the "did the feed go dark" audit a freshness
   * check ([[graft.ops.Expect.freshness]]) can't see (freshness grades
   * only the newest row; an outage in the MIDDLE of the window passes
   * it silently). Output: keys, `prev_ts`, `tsCol`, `gap_sec` — one row
   * per violation, empty when the cadence holds. ONE shuffle (the lag
   * window); the filter runs before anything leaves the window stage.
   */
  def gapReport(df: DataFrame, keys: Seq[String], tsCol: String,
      toleranceSec: Long, tiebreak: Seq[String] = Nil): DataFrame = {
    require(toleranceSec >= 1, "toleranceSec must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    df.withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("gap_sec",
        ((unix_micros(col(tsCol)) - unix_micros(col("prev_ts"))) / 1000000L)
          .cast("long"))
      .filter(col("gap_sec") > toleranceSec)
      .select(keys.map(col) ++ Seq(col("prev_ts"), col(tsCol),
        col("gap_sec")): _*)
  }

  /**
   * Seasonal-naive forecast backtest: predict each bucket's value as
   * the SAME key's value `period` buckets earlier, and grade the
   * forecast per key (MAE / RMSE / MAPE over matched buckets) — the
   * canonical "beat this before shipping a model" baseline, and the
   * cheapest drift alarm (a rising seasonal-naive error IS regime
   * change). Input is a regular (key, bucket, value) grid (run
   * [[resampleFfill]] / [[downsample]] first); holes are handled
   * correctly because the lookup is an equi-join on `bucket − period`,
   * not a row-offset lag. MAPE skips zero actuals (`n_mape` reports the
   * surviving count). Output per key: `n_scored`, `mae`, `rmse`,
   * `mape` (6 dp; null when nothing scored). Shape: self equi-join on
   * (key, bucket) — both sides hash the same key columns — then one
   * hash agg to key grain.
   *
   * Determinism: error terms are quantized BEFORE aggregation (errors
   * to integer micro-units for MAE, milli-units for RMSE, per-row
   * ratio to ppm for MAPE) so every sum is an exact integer, and the
   * MAE/MAPE means round half-up in INTEGER arithmetic
   * (`(2s + n) div 2n`) — a plain double `round(avg(...), 6)` hits
   * exact midpoints (an integer sum over n rows lands on the half-micro
   * grid with probability ~1/n), where Spark's BigDecimal HALF_UP and
   * other engines' double rounding disagree. Values are expected at
   * ≤ 6-dp grain and moderate magnitude (|err| ≲ 10⁶), the regime
   * where the quantization is exact.
   */
  def seasonalNaiveBacktest(df: DataFrame, keys: Seq[String],
      bucketCol: String, valueCol: String, period: Long): DataFrame = {
    require(period >= 1, "period must be >= 1")
    val kc = keys.map(col)
    val v = col(valueCol).cast("double")
    val actual = df.select(kc ++ Seq(col(bucketCol).cast("long").as("__t"),
      v.as("__y")): _*)
    val forecast = df.select(kc ++ Seq(
      (col(bucketCol).cast("long") + period).as("__t"),
      v.as("__f")): _*)
    val err = col("__y") - col("__f")
    val eUs = round(err * 1e6).cast("long")
    val eMs = round(err * 1e3).cast("long")
    val rPpm = when(col("__y") =!= 0,
      round(abs(err / col("__y")) * 1e6).cast("long"))
    val n = count(lit(1))
    actual.join(forecast, keys :+ "__t")
      .filter(col("__y").isNotNull && col("__f").isNotNull)
      .groupBy(kc: _*)
      .agg(n.as("n_scored"), sum(abs(eUs)).as("__se"),
        sum(eMs * eMs).as("__s2"), count(rPpm).as("n_mape"),
        sum(rPpm).as("__sp"))
      .select(kc ++ Seq(col("n_scored"),
        (expr("(__se * 2 + n_scored) div (n_scored * 2)")
          .cast("double") / 1e6).as("mae"),
        round(sqrt(col("__s2").cast("double") / col("n_scored")) / 1e3, 6)
          .as("rmse"),
        col("n_mape"),
        when(col("n_mape") > 0,
          expr("(__sp * 2 + n_mape) div (n_mape * 2)").cast("double") / 1e6)
          .as("mape")): _*)
  }

  /** Per-season (hour-of-day) observation profile — (season, n, mean,
    * std), UNROUNDED: the reference table [[seasonalAnomalies]] scores
    * against (compute it on a reference period, persist it, refresh
    * offline). One broadcast-sized aggregate: at most 24 rows. */
  def seasonalProfile(df: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val season = hour(col(tsCol).cast("timestamp")).cast("long")
    val v = col(valueCol).cast("double")
    df.select(season.as("season"), v.as("__v"))
      .groupBy("season")
      .agg(count(col("__v")).as("n"), avg(col("__v")).as("mean"),
        stddev_samp(col("__v")).as("std"))
  }

  /** Score rows against a [[seasonalProfile]] (z per row vs its season's
    * mean/std; |z| > threshold flags) — the core of
    * [[seasonalAnomalies]]: one broadcast join of a <=24-row profile + a
    * narrow projection, so it is append-mode legal on a stream with ZERO
    * state. Thin (n < minBucket) and zero-variance
    * seasons null their z and never flag. */
  def seasonalScore(df: DataFrame, tsCol: String, valueCol: String,
      profile: DataFrame, threshold: Double = 3.0, minBucket: Long = 2L,
      idCols: Seq[String] = Nil): DataFrame = {
    val season = hour(col(tsCol).cast("timestamp")).cast("long")
    val v = col(valueCol).cast("double")
    val prof = profile.select(col("season"), col("n").as("__n"),
      col("mean").as("__m"), col("std").as("__s"))
    val z = when(col("__s") > 0 && col("__n") >= minBucket,
      (v - col("__m")) / col("__s"))
    df.withColumn("season", season)
      .join(broadcast(prof), Seq("season"))
      .withColumn("season_mean", round(col("__m"), 6))
      .withColumn("season_std", round(col("__s"), 6))
      .withColumn("z", round(z, 6))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > threshold, lit(false)))
      .select((idCols ++ Seq(tsCol, valueCol)).map(col) ++ Seq(
        col("season"), col("season_mean"), col("season_std"),
        col("z"), col("is_anomaly")): _*)
  }

  /**
   * Seasonal-baseline anomaly scoring: each point is z-scored against
   * the mean/std of its own season bucket (hour-of-day by default) —
   * the "is 3am traffic normal FOR 3am" detector that a raw global
   * z-score gets wrong on any series with a daily cycle. Compare
   * [[meanShiftChangepoints]] (level shifts) vs this (point outliers
   * against a cyclic profile). [[seasonalProfile]] ∘ [[seasonalScore]]:
   * profile and scoring over the SAME slice.
   *
   * Output: idCols, `tsCol`, `valueCol`, `season`, `season_mean`,
   * `season_std` (6 dp), `z` (6 dp; null when the bucket has no
   * variance or fewer than `minBucket` points), `is_anomaly`
   * (|z| > threshold). Scale shape: the profile is a groupBy to
   * BUCKET grain (24 rows for hours — map-side combine does all the
   * work) broadcast back onto the stream of points; no row-grain
   * shuffle, no window — a 24-partition window would put 1/24th of
   * 100 TB in one task.
   */
  def seasonalAnomalies(df: DataFrame, tsCol: String, valueCol: String,
      threshold: Double = 3.0, minBucket: Long = 2L,
      idCols: Seq[String] = Nil): DataFrame =
    seasonalScore(df, tsCol, valueCol, seasonalProfile(df, tsCol, valueCol),
      threshold, minBucket, idCols)

  def meanShiftChangepoints(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, w: Int, threshold: Double,
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(w >= 2, "w must be >= 2 (sample variance needs 2 points)")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val before = ord.rowsBetween(-w, -1)
    val after = ord.rowsBetween(Window.currentRow, w - 1)
    val v = col(valueCol).cast("double")
    val pooled = sqrt((var_samp(v).over(before) + var_samp(v).over(after)) / 2)
    val delta = abs(avg(v).over(after) - avg(v).over(before))
    df.withColumn("__nb", count(v).over(before))
      .withColumn("__na", count(v).over(after))
      .withColumn("mean_before", round(avg(v).over(before), 6))
      .withColumn("mean_after", round(avg(v).over(after), 6))
      .withColumn("__sd", pooled)
      .withColumn("__delta", delta)
      .filter(col("__nb") === w && col("__na") === w)
      .withColumn("score",
        round(when(col("__sd") > 0, col("__delta") / col("__sd")), 6))
      .withColumn("flat_shift", col("__sd") === 0 && col("__delta") > 0)
      .withColumn("is_changepoint",
        coalesce(col("score") > threshold, lit(false)) || col("flat_shift"))
      .select((keys ++ Seq(tsCol) ++ tiebreak).map(col) ++ Seq(
        col("mean_before"), col("mean_after"), col("score"),
        col("flat_shift"), col("is_changepoint")): _*)
  }

  /**
   * Holt double-exponential smoothing over a bounded trailing window —
   * the trend-aware upgrade of [[ewma]]: per row, fold the last `window`
   * observations through the coupled level/trend recurrences
   * (l₁ = x₁, b₁ = 0; lᵢ = α·xᵢ + (1−α)(lᵢ₋₁+bᵢ₋₁);
   * bᵢ = γ(lᵢ−lᵢ₋₁) + (1−γ)bᵢ₋₁) and emit the smoothed `level`,
   * `trend`, and the one-step-ahead `forecast` = level + trend — the
   * volume-forecast baseline a pipeline monitor alarms against when a
   * source's ingest rate bends (where EWMA lags every ramp).
   *
   * Scale shape: identical to [[ewma]] — ONE shuffle on `keys` for the
   * ordered window, a bounded `window`-element array per row, and a
   * sequential `aggregate` fold (deterministic order, so both engines
   * compute bit-identical sums before the 6-dp round). Nothing grows
   * with history length.
   */
  def holtSmooth(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, alpha: Double, gamma: Double, window: Int = 10,
      tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(gamma > 0 && gamma <= 1, "gamma must be in (0, 1]")
    require(window >= 1, "window must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val xs = collect_list(col(valueCol).cast("double")).over(w)
    val folded = aggregate(
      expr(s"slice(_xs, 2, $window)"),
      struct(element_at(col("_xs"), 1).as("l"), lit(0.0).as("b")),
      (acc, x) => {
        val newL = lit(alpha) * x +
          lit(1.0 - alpha) * (acc.getField("l") + acc.getField("b"))
        struct(newL.as("l"),
          (lit(gamma) * (newL - acc.getField("l")) +
            lit(1.0 - gamma) * acc.getField("b")).as("b"))
      })
    val keep = (keys ++ idCols).distinct.map(col)
    df.withColumn("_xs", xs)
      .withColumn("_hw", folded)
      .select(keep ++ Seq(
        round(col("_hw.l"), 6).as("level"),
        round(col("_hw.b"), 6).as("trend"),
        round(col("_hw.l") + col("_hw.b"), 6).as("forecast")): _*)
  }

  /**
   * Theta-method forecast (Assimakopoulos & Nikolopoulos 2000; Hyndman
   * & Billah 2003 showed Theta(0,2) ≡ SES-with-drift) — the M3
   * forecasting-competition winner, in its closed equivalent form: over
   * the trailing `window` observations,
   *
   *   forecast_h = SES_level + (b̂/2)·((h−1) + (1 − (1−α)ⁿ)/α)
   *
   * where SES_level is the [[ewma]] recursion's final level and b̂ the
   * OLS slope of the window against positions 1..n — the "halved
   * linear-trend on top of SES" that beat every entrant on M3's 3003
   * series. Sits between [[ewma]] (no trend: lags every ramp) and
   * [[holtSmooth]] (full trend: overshoots at horizon): Theta damps the
   * trend by half, which is empirically where monthly/weekly business
   * series live.
   *
   * Determinism: the SES level and both OLS sums are SINGLE-SCALAR left
   * folds over the bounded frame (the [[croston]] convention — no
   * struct-lambda state). `level` and `slope` are emitted RAW (the
   * [[ewma]] convention: with a dyadic α the fold is bit-identical in
   * any IEEE engine, and its exact dyadic results LAND on decimal .5
   * boundaries where engines' rounding modes disagree — verified on
   * the fixture: 77.2034375 flipped the 6-dp hash); `forecast` carries
   * the one libm pow ((1−α)ⁿ), whose last-ulp engine spread the 6-dp
   * round absorbs (it is never dyadic when a slope exists, so no
   * midpoint lands on the grid). A window with one observation has no
   * slope (null; forecast falls back to the SES level, 2-decimal input
   * — midpoint-free).
   *
   * Output: keys ++ idCols, `level` (raw), `slope` (raw), `forecast`
   * (6 dp). Scale shape: identical to [[ewma]] — ONE key shuffle, an
   * O(window) array per row, codegen'd folds, no joins.
   */
  def thetaForecast(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, alpha: Double, window: Int = 10, h: Int = 1,
      tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(window >= 1 && h >= 1, "window and h must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val xs = collect_list(col(valueCol).cast("double")).over(w)
    def foldSum(c: Column) = aggregate(
      slice(c, 2, window), element_at(c, 1), (a, x) => a + x)
    val level = aggregate(
      expr(s"slice(_xs, 2, $window)"),
      element_at(col("_xs"), 1),
      (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc)
    val nd = size(col("_xs")).cast("double")
    val si = nd * (nd + lit(1.0)) / lit(2.0)
    val sii = nd * (nd + lit(1.0)) * (lit(2.0) * nd + lit(1.0)) / lit(6.0)
    val sx = foldSum(col("_xs"))
    val sxy = foldSum(zip_with(col("_xs"),
      sequence(lit(1), size(col("_xs"))), (x, i) => x * i))
    val b = when(size(col("_xs")) >= 2,
      (nd * sxy - si * sx) / (nd * sii - si * si))
    val drift = (col("_b") / lit(2.0)) * (lit(h - 1.0) +
      (lit(1.0) - pow(lit(1.0 - alpha), nd)) / lit(alpha))
    val keep = (keys ++ idCols).distinct.map(col)
    df.withColumn("_xs", xs)
      .withColumn("_lv", level)
      .withColumn("_b", b)
      .select(keep ++ Seq(
        col("_lv").as("level"),
        col("_b").as("slope"),
        round(col("_lv") + coalesce(drift, lit(0.0)), 6).as("forecast")): _*)
  }

  /**
   * Croston's method for INTERMITTENT demand (Croston 1972, "Forecasting
   * and stock control for intermittent demands") — the forecaster for
   * series that are mostly ZEROS with occasional spikes (per-SKU
   * purchases, rare event types, incident counts), where [[ewma]]/
   * [[holtSmooth]] systematically lag: smooth the nonzero demand SIZES
   * and the INTER-DEMAND INTERVALS separately (both plain SES), and
   * forecast their ratio ẑ/p̂ = expected demand per bucket.
   *
   * Input is a REGULAR (key, bucket, value) grid with explicit zeros
   * (run [[resampleFfill]]/[[downsample]] first — the zeros ARE the
   * signal here). Per row, the last `window` buckets fold; the first
   * interval is the position of the first demand in the window (the
   * classic initialization), ẑ₀ = the first demand. Rows whose window
   * holds no demand emit nulls. Engine-portable determinism: both
   * recursions are SINGLE-SCALAR left folds over derived lists (no
   * struct state — the q_holt_smooth DuckDB lambda caveat never
   * arises), so a dyadic `alpha` makes them bit-identical in SQL.
   *
   * `sba = true` applies the Syntetos–Boylan (2005, "The accuracy of
   * intermittent demand estimates") approximation: Croston's ẑ/p̂ is
   * biased HIGH (E[ẑ/p̂] > E[z]/E[p] by Jensen), and multiplying the
   * forecast by (1 − α/2) removes the first-order term — the
   * correction production intermittent-demand systems actually ship.
   * ẑ and p̂ themselves are unchanged; only `forecast` scales.
   *
   * Output: keys ++ idCols, `n_demands`, `z_hat`/`p_hat`/`forecast`
   * (6 dp; null when the window has no demand). Scale shape: ONE key
   * shuffle for the trailing window; the folds are O(window) codegen'd
   * higher-order functions per row, no joins, no state.
   */
  def croston(df: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String, alpha: Double, window: Int,
      idCols: Seq[String] = Nil, sba: Boolean = false): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(window >= 1, "window must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(bucketCol).asc)
      .rowsBetween(-(window - 1), Window.currentRow)
    val xs = collect_list(coalesce(col(valueCol).cast("double"), lit(0.0)))
      .over(w)
    def ses(arr: Column): Column = aggregate(
      slice(arr, 2, window), element_at(arr, 1),
      (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc)
    val pos = filter(sequence(lit(1), size(col("_xs"))),
      i => element_at(col("_xs"), i) > 0)
    val ds = transform(col("_pos"), i => element_at(col("_xs"), i))
    val ivs = transform(sequence(lit(1), size(col("_pos"))), k =>
      when(k === 1, element_at(col("_pos"), 1).cast("double"))
        .otherwise((element_at(col("_pos"), k) -
          element_at(col("_pos"), k - 1)).cast("double")))
    val keep = (keys ++ idCols).distinct.map(col)
    // sba multiplies the ratio by the JVM-literal (1 - alpha/2) BEFORE
    // the division ((c * z) / p), so the oracle replays the exact op
    // shape; the plain path keeps its original z / p expression
    val fc =
      if (sba) round((lit(1.0 - alpha / 2) * col("_z")) / col("_p"), 6)
      else round(col("_z") / col("_p"), 6)
    df.withColumn("_xs", xs)
      .withColumn("_pos", pos)
      .withColumn("_z", when(size(col("_pos")) > 0, ses(ds)))
      .withColumn("_p", when(size(col("_pos")) > 0, ses(ivs)))
      .select(keep ++ Seq(
        size(col("_pos")).cast("long").as("n_demands"),
        round(col("_z"), 6).as("z_hat"),
        round(col("_p"), 6).as("p_hat"),
        fc.as("forecast")): _*)
  }

  /**
   * Holt–Winters ADDITIVE seasonal smoothing over a bounded trailing
   * window — the seasonal completion of the forecasting trio
   * ([[ewma]] level, [[holtSmooth]] level+trend, this level+trend+
   * season): per row, fold the last `window` observations through
   *   lₜ = α(xₜ − s₍ₜ₋ₘ₎) + (1−α)(lₜ₋₁ + bₜ₋₁)
   *   bₜ = γ(lₜ − lₜ₋₁) + (1−γ)bₜ₋₁
   *   sₜ = δ(xₜ − lₜ) + (1−δ)s₍ₜ₋ₘ₎
   * with l₁ = x₁, b₁ = 0, seasons initialized to 0, and emit the
   * smoothed `level`, `trend`, the next step's seasonal term `season`,
   * and `forecast` = level + trend + season — the daily/weekly-cycle-
   * aware volume baseline [[graft.ops.Temporal.seasonalAnomalies]]'s
   * static profile can't give a TRENDING series.
   *
   * Season slots index by POSITION IN THE WINDOW mod `period` (the
   * bounded-window fold restarts per row) — resample the series to even
   * spacing first, exactly as for [[holtSmooth]]. The fold order is
   * fixed, so results are bit-identical across IEEE engines for ANY
   * params; for ORACLE fixtures prefer non-dyadic α/γ/δ — dyadic params
   * on low-precision inputs land folded values exactly on decimal
   * .5e-6 boundaries, where decimal-string rounding (Spark) and
   * binary-scaling rounding (DuckDB) disagree.
   *
   * Scale shape: identical to [[ewma]]/[[holtSmooth]] — ONE shuffle on
   * `keys`, then a row-local O(window · period) array fold; state per
   * row is (l, b, period doubles). Nothing grows with history.
   */
  def holtWinters(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, period: Int, alpha: Double = 0.5,
      gamma: Double = 0.25, delta: Double = 0.5, window: Int = 12,
      tiebreak: Seq[String] = Nil, idCols: Seq[String] = Nil): DataFrame = {
    require(period >= 2, "period must be >= 2")
    require(window >= period, "window must be >= period")
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(gamma > 0 && gamma <= 1, "gamma must be in (0, 1]")
    require(delta > 0 && delta <= 1, "delta must be in (0, 1]")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val xs = collect_list(col(valueCol).cast("double")).over(w)
    val n = size(col("_xs"))
    def x(k: Column) = element_at(col("_xs"), k.cast("int"))
    val init = struct(element_at(col("_xs"), 1).as("l"), lit(0.0).as("b"),
      array_repeat(lit(0.0), period).as("s"))
    // sequence(2, n) DESCENDS when n = 1 — guard the first row per key
    val folded = when(n === 1, init).otherwise(
      aggregate(sequence(lit(2), n), init, (acc, k) => {
        val sIdx = pmod(k - 1, lit(period)) + 1
        val sPrev = element_at(acc.getField("s"), sIdx.cast("int"))
        val lN = lit(alpha) * (x(k) - sPrev) +
          lit(1.0 - alpha) * (acc.getField("l") + acc.getField("b"))
        val bN = lit(gamma) * (lN - acc.getField("l")) +
          lit(1.0 - gamma) * acc.getField("b")
        val sN = lit(delta) * (x(k) - lN) + lit(1.0 - delta) * sPrev
        struct(lN.as("l"), bN.as("b"),
          transform(sequence(lit(1), lit(period)), j =>
            when(j === sIdx, sN)
              .otherwise(element_at(acc.getField("s"), j.cast("int"))))
            .as("s"))
      }))
    // the NEXT observation lands in window position n+1 -> slot n%m + 1
    val sNext = element_at(col("_hw.s"), (pmod(n, lit(period)) + 1).cast("int"))
    val keep = (keys ++ idCols).distinct.map(col)
    df.filter(col(valueCol).isNotNull)
      .withColumn("_xs", xs)
      .withColumn("_hw", folded)
      .select(keep ++ Seq(
        round(col("_hw.l"), 6).as("level"),
        round(col("_hw.b"), 6).as("trend"),
        round(sNext, 6).as("season"),
        round(col("_hw.l") + col("_hw.b") + sNext, 6).as("forecast")): _*)
  }

  /**
   * Mann–Kendall trend test + Sen's slope per key over each key's last
   * `window` observations (Mann 1945; Kendall 1975; Sen 1968) — the
   * standard distribution-free "is this series monotonically trending"
   * monitor, robust where a least-squares slope is wrecked by one
   * outlier. S = Σ_{i<j} sgn(xⱼ − xᵢ); Var(S) tie-corrected:
   * [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 over tie groups of size t;
   * z is the continuity-corrected normal score ((S∓1)/√Var, 0 at S=0).
   * `sen_slope` = median of the n(n−1)/2 pairwise slopes
   * (xⱼ − xᵢ)/(j − i) over observation INDEX (the evenly-spaced form;
   * resample first if the series isn't). Complements the monitor
   * family: [[ewma]]/[[holtSmooth]] track level, [[cusum]] accumulates
   * drift vs a target, this TESTS for trend with a significance score
   * and estimates its rate.
   *
   * Scale shape: one shuffle on `keys` (window row_number to take the
   * last `window` points + one collect_list aggregate), then ALL pair
   * work is row-local array HOFs over a <= `window`-length array —
   * O(window²) arithmetic per key, zero further exchanges; fine for the
   * monitor-sized windows this is for (the classic test is quadratic by
   * definition). Keys with fewer than 2 points report null statistics;
   * all-tied windows report Var 0 and null z.
   *
   * Output: keys, `n`, `s`, `var_s` (6 dp), `z` (6 dp), `sen_slope`
   * (6 dp) — one row per key.
   */
  def mannKendall(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, window: Int = 20,
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.desc): _*)
    // rk 1 = newest; sorting struct(-rk, v) ascending restores time order
    val g = df.filter(col(valueCol).isNotNull)
      .withColumn("__rk", row_number().over(ord))
      .filter(col("__rk") <= window)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct((-col("__rk")).as("k"),
        col(valueCol).cast("double").as("v")))).as("__a"))
      .withColumn("__xs", transform(col("__a"), e => e.getField("v")))
    val n = size(col("__xs"))
    def x(i: Column) = element_at(col("__xs"), i)
    // sequence(2, n) DESCENDS when n < 2 — guard the degenerate key
    val s = when(n >= 2, aggregate(sequence(lit(2), n), lit(0L), (acc, j) =>
      acc + aggregate(sequence(lit(1), j - 1), lit(0L), (a2, i) =>
        a2 + when(x(j) > x(i), 1L).when(x(j) < x(i), -1L).otherwise(0L))))
    // each member of a tie group of size t contributes (t-1)(2t+5), so
    // the group totals the textbook t(t-1)(2t+5) without a distinct pass
    val tieTerm = aggregate(col("__xs"), lit(0L), (acc, v0) => {
      val c = size(filter(col("__xs"), u => u === v0)).cast("long")
      acc + (c - 1L) * (lit(2L) * c + 5L)
    })
    val varS = when(n >= 2,
      (n.cast("long") * (n - 1) * (lit(2L) * n + 5) - tieTerm).cast("double")
        / 18.0)
    val z = when(varS > 0,
      when(col("__s") > 0, (col("__s") - 1) / sqrt(col("__var")))
        .when(col("__s") < 0, (col("__s") + 1) / sqrt(col("__var")))
        .otherwise(lit(0.0)))
    val slopes = when(n >= 2, array_sort(flatten(
      transform(sequence(lit(2), n), j =>
        transform(sequence(lit(1), j - 1), i =>
          (x(j) - x(i)) / (j - i).cast("double"))))))
    val m = size(col("__sl"))
    val sen = when(m >= 1,
      when(m % 2 === 1, element_at(col("__sl"), ((m + 1) / 2).cast("int")))
        .otherwise((element_at(col("__sl"), (m / 2).cast("int")) +
          element_at(col("__sl"), (m / 2).cast("int") + 1)) / 2.0))
    g.withColumn("__s", s).withColumn("__var", varS).withColumn("__sl", slopes)
      .select(keys.map(col) ++ Seq(
        n.cast("long").as("n"), col("__s").as("s"),
        round(col("__var"), 6).as("var_s"), round(z, 6).as("z"),
        round(sen, 6).as("sen_slope")): _*)
  }

  /**
   * Durbin–Watson statistic (Durbin & Watson 1950) per key:
   * DW = Σ(eₜ − eₜ₋₁)² / Σeₜ² over the key's time-ordered series,
   * with e the residuals from the intercept-only model (the demeaned
   * values — run it on regression residuals for the textbook form).
   * DW ≈ 2(1 − ρ₁): ≪ 2 flags positive serial correlation (the usual
   * "iid assumption broke" smoking gun behind overconfident
   * [[graft.stats.Planners.welchT]]-style inference on autocorrelated
   * series), ≫ 2 negative. Complements [[mannKendall]] (monotone
   * TREND) — DW sees oscillation and momentum trend alike.
   *
   * Exactness: `valueCol` must be integral (cents — the anovaF
   * contract). Successive differences cancel the mean exactly, so the
   * numerator Σ(Δx)² is an EXACT integer (HUGEINT); the denominator is
   * the clamped ΣX² − S²/n quadratic form over exact sums — DW is
   * scale-free, one double division per key.
   *
   * Scale shape: one shuffle on `keys` (the per-entity sequence window
   * for lag-1, the C-family convention), then one hash aggregate to
   * key grain — no global window, no join. Keys with fewer than
   * `minN` observations or zero variance report null. Output: one row
   * per key — keys, `n`, `dw` (6 dp).
   */
  def durbinWatson(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, tiebreak: Seq[String] = Nil,
      minN: Int = 8): DataFrame = {
    require(minN >= 2, "minN must be >= 2")
    val x = col(valueCol).cast("long")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(Seq(col(tsCol)) ++ tiebreak.map(col): _*)
    val lagged = df.filter(x.isNotNull)
      .withColumn("__x", x)
      .withColumn("__prev", lag(col("__x"), 1).over(ord))
    val d = col("__x") - col("__prev")
    val g = lagged.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__s"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__ss"),
        sum(d.cast("decimal(38,0)") * d).as("__num"))
    val nD = col("n").cast("double")
    val sD = col("__s").cast("double")
    val den = greatest(col("__ss").cast("double") - sD * sD / col("n"),
      lit(0.0))
    g.select(keys.map(col) ++ Seq(col("n"),
      round(when(col("n") >= minN && den > 0,
        col("__num").cast("double") / den), 6).as("dw")): _*)
  }

  /**
   * Kaplan–Meier survival estimator (Kaplan & Meier 1958) with right
   * censoring, per group: Ŝ(t) = Π_{tⱼ ≤ t} (1 − dⱼ/nⱼ) over the
   * group's distinct observed times, where dⱼ counts events at tⱼ and
   * nⱼ the subjects still at risk (duration ≥ tⱼ). THE retention/churn
   * curve: "what fraction of a cohort survives past day t", with
   * still-active subjects entering as censored instead of being thrown
   * away (the bias naive retention ratios carry). Input is one row per
   * subject: a numeric `durationCol` and boolean `eventCol` (true =
   * event observed, false = censored).
   *
   * Output: one row per (group, t) at every distinct observed time —
   * `n_risk`, `n_events`, `n_censored`, `survival` (6 dp). Censor-only
   * times carry factor 1 (the curve steps only at event times) but are
   * emitted so the at-risk trajectory is complete.
   *
   * Determinism: the running product folds the per-time factors
   * SEQUENTIALLY in time order on both engines (exp(Σln) would differ
   * in the last ulp between libm implementations). Scale shape: one
   * hash-aggregate to (group, t) grain, then windows over each group's
   * distinct TIMES — day-grain durations give ≤ a few thousand rows per
   * group no matter how many subjects; the fold array is bounded by
   * that, not by cohort size.
   */
  def kaplanMeier(df: DataFrame, groupCols: Seq[String],
      durationCol: String, eventCol: String): DataFrame = {
    val g = df
      .filter(col(durationCol).isNotNull)
      .groupBy((groupCols.map(col) :+ col(durationCol).as("t")): _*)
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("n_events"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("n_censored"))
    val grp = Window.partitionBy(groupCols.map(col): _*)
    val ord = grp.orderBy(col("t").asc)
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val leaving = col("n_events") + col("n_censored")
    val factors = collect_list(
      lit(1.0) - col("n_events") / col("n_risk")).over(upTo)
    g.withColumn("n_risk",
        sum(leaving).over(grp.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)) -
          coalesce(sum(leaving).over(prior), lit(0L)))
      .withColumn("_fs", factors)
      .withColumn("survival",
        round(aggregate(expr("slice(_fs, 2, size(_fs) - 1)"),
          element_at(col("_fs"), 1), (acc, x) => acc * x), 6))
      .select((groupCols.map(col) :+ col("t") :+ col("n_risk") :+
        col("n_events") :+ col("n_censored") :+ col("survival")): _*)
  }

  /**
   * Restricted mean survival time (Royston & Parmar 2013 made it the
   * standard reporting companion; Irwin 1949 for the origin) — the
   * AREA under the [[kaplanMeier]] curve up to a horizon τ: "expected
   * days retained within the first τ days", the single-number summary
   * of a survival curve that stays meaningful when hazards cross (a
   * log-rank or hazard ratio does not) and the natural KPI form of a
   * retention curve. Computed exactly on the step function: with
   * distinct times t₁ < t₂ < … and the left-continuous KM convention
   * (Ŝ = 1 on [0, t₁)), RMST(τ) = Σᵢ Ŝ(tᵢ₋₁)·(min(tᵢ,τ) − min(tᵢ₋₁,τ))
   * + Ŝ(t_last)·(τ − min(t_last, τ)).
   *
   * Parity: integrates the 6-dp-ROUNDED survival values the
   * [[kaplanMeier]] contract emits, so both engines integrate
   * identical step heights; segment lengths are exact integer time
   * differences. Output: one row per group — groupCols, `tau`,
   * `n_subjects`, `rmst` (6 dp). Scale shape: [[kaplanMeier]]'s
   * (aggregate to distinct-time grain) plus one lag window and one
   * aggregate over that statistic-sized table.
   */
  def rmst(df: DataFrame, groupCols: Seq[String], durationCol: String,
      eventCol: String, tau: Double): DataFrame = {
    require(tau > 0, "tau must be > 0")
    val km = kaplanMeier(df, groupCols, durationCol, eventCol)
    val ord = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("t").asc)
    val tD = col("t").cast("double")
    val seg = km
      .withColumn("__sp", coalesce(lag(col("survival"), 1).over(ord),
        lit(1.0)))
      .withColumn("__tp", coalesce(lag(tD, 1).over(ord), lit(0.0)))
      .withColumn("__c",
        col("__sp") * (least(tD, lit(tau)) - least(col("__tp"), lit(tau))))
    seg.groupBy(groupCols.map(col): _*)
      .agg(max(col("n_risk")).as("n_subjects"),
        round(sum(col("__c")) + max_by(col("survival"), col("t")) *
          (lit(tau) - least(max(tD), lit(tau))), 6).as("rmst"))
      .select(groupCols.map(col) ++ Seq(lit(tau).as("tau"),
        col("n_subjects"), col("rmst")): _*)
  }

  /**
   * Log-rank (Mantel–Cox) test between two right-censored survival
   * curves — "did cohort A churn differently from cohort B", the
   * significance test behind a [[kaplanMeier]] plot. At each distinct
   * EVENT time: Oₐ = events in A, Eₐ = d·nₐ/n under the null of equal
   * hazards, V the hypergeometric variance d·(nₐ/n)(1−nₐ/n)(n−d)/(n−1);
   * the statistic (ΣOₐ − ΣEₐ)²/ΣV is χ²₁ under the null. Same
   * reporting convention as [[graft.stats.Planners.welchT]]: the
   * statistic IS the portable result (no p-value tables in SQL
   * engines); χ²₁ critical values: 3.841 at 5%, 6.635 at 1%.
   *
   * Scale shape: one hash-aggregate to distinct-time grain, then
   * windows + sums over that statistic-sized table (same global-window
   * convention as [[graft.stats.Planners.mannWhitneyU]] — pre-quantize
   * durations to day grain if genuinely continuous). Output: one row
   * `(n_a, n_b, observed_a, expected_a, variance, chi2)` — chi2 null
   * when the variance is 0 (no comparable event times).
   */
  def logRank(df: DataFrame, groupCol: String, groupA: String,
      groupB: String, durationCol: String, eventCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(durationCol).isNotNull)
      .select((col(groupCol) === groupA).as("isa"),
        col(durationCol).as("t"), col(eventCol).cast("boolean").as("ev"))
    val g = base.groupBy(col("t")).agg(
      sum(when(col("ev"), 1L).otherwise(0L)).as("d"),
      sum(when(col("ev") && col("isa"), 1L).otherwise(0L)).as("d_a"),
      count(lit(1)).as("leave"),
      sum(when(col("isa"), 1L).otherwise(0L)).as("leave_a"))
    val ord = Window.partitionBy(lit(1)).orderBy(col("t").asc)
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val frac = col("n_at") / col("n")
    val r = g
      .withColumn("n",
        (sum(col("leave")).over(tot) -
          coalesce(sum(col("leave")).over(prior), lit(0L))).cast("double"))
      .withColumn("n_at",
        (sum(col("leave_a")).over(tot) -
          coalesce(sum(col("leave_a")).over(prior), lit(0L))).cast("double"))
      .filter(col("d") >= 1)
      .withColumn("e_t", col("d") * frac)
      .withColumn("v_t", when(col("n") > 1,
        col("d") * frac * (lit(1.0) - frac) *
          (col("n") - col("d")) / (col("n") - 1)).otherwise(lit(0.0)))
    val sums = r.agg(sum(col("d_a")).as("observed_a"),
      sum(col("e_t")).as("__e"), sum(col("v_t")).as("__v"))
    val counts = base.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("n_b"))
    counts.crossJoin(broadcast(sums))
      .select(col("n_a"), col("n_b"),
        coalesce(col("observed_a"), lit(0L)).as("observed_a"),
        round(coalesce(col("__e"), lit(0.0)), 6).as("expected_a"),
        round(coalesce(col("__v"), lit(0.0)), 6).as("variance"),
        when(col("__v") > 0,
          round((col("observed_a") - col("__e")) *
            (col("observed_a") - col("__e")) / col("__v"), 6)).as("chi2"))
  }

  /**
   * Two-sided CUSUM drift detector (Page 1954) per key: the sequential
   * complement of [[meanShiftChangepoints]] — a local-window test sees a
   * step, CUSUM accumulates a SLOW drift (a quality score sagging 0.1%
   * per day clears every window test yet trips CUSUM within weeks).
   * S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack)),
   * S⁻ᵢ = max(0, S⁻ᵢ₋₁ + (target − slack − xᵢ)); alarm when either
   * side crosses `h`. `target`/`slack`/`h` come from a reference period
   * (e.g. [[graft.ops.Profile]] stats on last month's corpus).
   *
   * Scale shape — the reason this is NOT a fold: the clamped recurrence
   * rewrites exactly as Sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) over the prefix
   * sums Pᵢ of the deviations, so the whole history-length series costs
   * TWO running window aggregates (sum + min) on one shuffle by `keys` —
   * no per-row array, no O(n²) re-fold, unbounded history for free.
   */
  def cusum(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, target: Double, slack: Double, h: Double,
      tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(slack >= 0, "slack must be >= 0")
    require(h > 0, "h must be > 0")
    val run = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol).cast("double")
    val pHi = sum(v - lit(target) - lit(slack)).over(run)
    val pLo = sum(lit(target) - lit(slack) - v).over(run)
    val keep = (keys ++ idCols).distinct.map(col)
    df.withColumn("__ph", pHi).withColumn("__pl", pLo)
      .withColumn("__sh", col("__ph") - least(lit(0.0), min(col("__ph")).over(run)))
      .withColumn("__sl", col("__pl") - least(lit(0.0), min(col("__pl")).over(run)))
      .select(keep ++ Seq(
        round(col("__sh"), 6).as("cusum_hi"),
        round(col("__sl"), 6).as("cusum_lo"),
        (round(col("__sh"), 6) > h || round(col("__sl"), 6) > h)
          .as("alarm")): _*)
  }

  /**
   * Page–Hinkley drift test (Page 1954; the PH variant Gama et al. 2014
   * survey as THE streaming-drift baseline) per key: monitors
   * mₜ = Σᵢ≤ₜ (xᵢ − x̄ᵢ − δ) against its running minimum, where x̄ᵢ is
   * the RUNNING mean up to i — so unlike [[cusum]] no reference `target`
   * is needed; the series is its own baseline and the detector fires on
   * sustained upward deviation from wherever the series has been.
   * `ph = mₜ − min_{i≤t} mᵢ`, alarm when ph > lambda.
   *
   * Scale shape — the [[cusum]] family: THREE running window aggregates
   * on ONE shuffle by `keys` (cumulative sum+count for the running mean,
   * cumulative sum for m, running min for the envelope). No per-row
   * array, no O(n²) re-fold; unbounded history for free.
   */
  def pageHinkley(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, delta: Double, lambda: Double,
      tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(delta >= 0, "delta must be >= 0")
    require(lambda > 0, "lambda must be > 0")
    val run = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol).cast("double")
    val keep = (keys ++ idCols).distinct.map(col)
    // Null values are dropped up front (not carried as rows): a null
    // contributes nothing to the running mean, so keeping the row would
    // add a duplicate mean term to the m prefix.
    df.filter(v.isNotNull)
      .withColumn("__mean", sum(v).over(run) / count(v).over(run))
      .withColumn("__m", sum(v - lit(delta)).over(run) -
        sum(col("__mean")).over(run))
      .withColumn("__ph", col("__m") - min(col("__m")).over(run))
      .select(keep ++ Seq(
        round(col("__mean"), 6).as("run_mean"),
        round(col("__ph"), 6).as("ph_stat"),
        (round(col("__ph"), 6) > lambda).as("alarm")): _*)
  }

  /**
   * Classical additive seasonal decomposition (the moving-average
   * method STL refines; Kendall & Stuart's "ratio-to-moving-average"
   * in additive form): x = trend + seasonal + remainder, per key.
   *  - trend: centered moving average of length `period` (odd periods
   *    only — an even period needs the 2×p double MA; weekly=7 and
   *    monthly-by-day grains are odd), null where the window is
   *    incomplete (the first/last (p−1)/2 points);
   *  - seasonal: the per-phase mean of the detrended series, re-centered
   *    to sum to zero over one cycle (so trend keeps the level);
   *  - remainder: x − trend − seasonal.
   *
   * The monitor decomposition: alarm on `remainder` (vs
   * [[seasonalAnomalies]] which scores against a STATIC per-season
   * profile — this one removes a MOVING trend first, so a series that
   * grows 5% weekly doesn't drown the seasonal signal).
   *
   * Scale shape: ONE shuffle by `keys` for the centered-MA window, one
   * aggregate to (key, phase) grain — ≤ `period` rows per key — joined
   * back broadcast-style by Catalyst (the phase table is tiny), then a
   * narrow projection. Nothing row-grain is sorted twice.
   */
  def decompose(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, period: Int, tiebreak: Seq[String] = Nil,
      idCols: Seq[String] = Nil): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      "period must be odd and >= 3 (even periods need the 2xp double MA)")
    val h = (period - 1) / 2
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col(tsCol)) ++ tiebreak.map(col)).map(_.asc): _*)
    val ctr = ord.rowsBetween(-h, h)
    val v = col(valueCol).cast("double")
    val keep = (keys ++ idCols).distinct.map(col)
    val base = df
      .withColumn("__phase", ((row_number().over(ord) - 1) % period).cast("long"))
      .withColumn("__trend",
        when(count(v).over(ctr) === period, sum(v).over(ctr) / period))
      .withColumn("__det", v - col("__trend"))
    // Phase means of the detrended series at (key, phase) grain —
    // ≤ `period` rows per key — re-centered per key by the UNWEIGHTED
    // mean of the phase means (the classical convention), then joined
    // back onto the rows.
    val kp = Window.partitionBy(keys.map(col): _*)
    val season = base
      .groupBy((keys :+ "__phase").map(col): _*)
      .agg(avg(col("__det")).as("__pm"))
      .withColumn("__season", col("__pm") - avg(col("__pm")).over(kp))
      .select((keys :+ "__phase").map(col) :+ col("__season"): _*)
    base.join(season, keys :+ "__phase")
      .select(keep ++ Seq(
        col("__phase").as("phase"),
        round(col("__trend"), 6).as("trend"),
        round(col("__season"), 6).as("seasonal"),
        round(v - col("__trend") - col("__season"), 6).as("remainder")): _*)
  }
}
