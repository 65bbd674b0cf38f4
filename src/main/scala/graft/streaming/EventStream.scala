package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * Streaming featurize-and-score for the CASPR event log (SURVEY.md §2.L /
 * §7.5 extension — the reference is batch-only; its "sliding windows" are
 * batch cutoff augmentation). Structured Streaming file-streams the event
 * log ([[EventStream.readEvents]]) and turns each update into the same wide
 * featurized row the batch [[graft.prep.CasprFeaturizerModel.transform]]
 * yields ([[EventStream.streamingFeaturize]]). Scoring needs no streaming
 * code: the scorer is a projection + mapPartitions over broadcast weights,
 * so the batch scorer runs on the streaming wide frame unchanged.
 *
 * Every other operator that runs stream-legal does so as its batch call on
 * a streaming DataFrame (stateless projections, stream-static joins);
 * StreamingSpec pins that contract for the ones that claim it.
 *
 * At scale this runs with the same shuffle key (entity id) as the batch
 * pipeline; checkpointed state is RocksDB-backed on a real cluster.
 */
object EventStream {

  /** Raw parquet schema of the events table under the legacy
    * TIMESTAMP(NANOS) generator (ts as nanos-long; see graft.core.Tables
    * on Spark 4 vs TIMESTAMP(NANOS)). [[readEvents]] sniffs the actual
    * on-disk variant per directory. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-stream the event log from a directory of parquet files.
    *
    * A file stream needs an explicit schema, and the generator has written
    * `ts` two ways (TIMESTAMP(NANOS), and timestamp[us] without UTC
    * adjustment which Spark reads as TIMESTAMP_NTZ) — so peek at the footer
    * with a one-off batch read and normalize either variant to session-tz
    * TimestampType, exactly like the batch loader (graft.core.Tables.load).
    * Reinterpreting the INT64 physical values under the wrong variant would
    * silently shift every event by 1000x. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = spark.read.parquet(dir).schema
    onDisk("ts").dataType match {
      case LongType =>
        spark.readStream.schema(onDisk).parquet(dir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        spark.readStream.schema(onDisk).parquet(dir)
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ =>
        spark.readStream.schema(onDisk).parquet(dir)
    }
  }

  /** [[streamingFeaturize]] decodes ids into a typed Long. Fail fast on a
    * non-integral id column instead of letting the cast produce nulls that
    * die later in the typed encoder (string ids must be hashed to long —
    * e.g. `xxhash64(id)` — BEFORE entering the stream, an explicit and
    * collision-aware choice the operator refuses to make silently). */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    val ok = dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
    require(ok, s"$op needs an integral id column; '$idCol' is $dt — " +
      "hash non-numeric ids to long explicitly (e.g. xxhash64) upstream")
  }

  /** Timeout mode for an optional processing-time state TTL. */
  private def ttlConf(stateTtl: Option[String]): GroupStateTimeout =
    if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  final case class FeatEv(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String, value: Option[Double])
  final case class FeatState(events: List[(Long, Long, String, Option[Double])])

  /**
   * Streaming FEATURIZATION end-to-end: the incremental twin of
   * [[graft.prep.CasprFeaturizerModel.transform]]. A fitted model's
   * encodings and normalization statistics are applied INSIDE the
   * latest-N state emission, so every update yields the WIDE featurized
   * row — `event_type_1..T` (encoded long, UNK=0), `value_1..T` and
   * `ts_days_1..T` (normalized doubles) — identical to what the batch
   * pipeline would produce for the same event prefix (batch-parity
   * spec-checked).
   *
   * Semantics mirrored from the batch plan, step by step:
   *  - active-window filter: `pred - historyDays < ts < pred` (B1 strict
   *    bounds), applied at ingestion;
   *  - date feature: interval mode = calendar-day difference in the
   *    session timezone (datediff parity via epoch-day floor, UTC
   *    sessions), absolute mode = unix seconds;
   *  - encoding: the fitted mapping broadcast as a plain Map; unseen/null
   *    -> 0 (UNK) — F1 semantics without a join, the stream-side apply;
   *  - normalization: closed-form minMax/zScore from the fitted summary
   *    (same scalars the batch column expressions fold in);
   *  - slotting: rank/pad-shift algebra (C1+C2) — chronological slots,
   *    right-pad fills slots m+1..T (or left-pad shifts onto T), with the
   *    batch imputation constants (cat 0, cont 0.0, date = normalized
   *    window start under interval mode); an event whose cont is null
   *    still takes its slot and gets the cont imputation 0.0, as in batch;
   *  - state: at most T (ts, event_id, type, value) tuples per entity
   *    (ties broken by event_id, the batch tiebreak), so state size is
   *    O(entities x T) regardless of stream length.
   *
   * Supported stream shape: the canonical event log — one entity id, one
   * seq cat, one seq cont, the activity date as the seq date col (exactly
   * the q_pipeline_e2e role set). Wider role sets featurize in batch.
   *
   * State is bounded per entity (T tuples) but the ENTITY SET is not;
   * `stateTtl` (e.g. `Some("1 hour")`) evicts entities idle past the TTL
   * — their sequence restarts from empty if they reappear (an opt-in
   * recall/state tradeoff). Default None keeps
   * every entity's state for the life of the query.
   */
  def streamingFeaturize(spark: SparkSession, events: DataFrame,
      model: graft.prep.CasprFeaturizerModel,
      predTs: java.sql.Timestamp,
      stateTtl: Option[String] = None): DataFrame = {
    import spark.implicits._
    val cfg = model.cfg
    val r = cfg.roles
    require(r.tgtId.size == 1 && r.seqCat.size == 1 &&
      r.seqCols.count(r.contCols.contains) == 1 &&
      r.seqCols.filter(r.dateCols.contains) == Seq(r.activityDate),
      "streamingFeaturize supports the canonical (id, cat, cont, activity-date) event shape")
    val idCol = r.tgtId.head
    // a string id would cast to null and NPE inside the typed Long
    // encoder; and the batch C1 tiebreak column
    // must actually exist (it is not part of the validated role set)
    requireIntegralId(events, idCol, "streamingFeaturize")
    require(events.columns.contains("event_id"),
      "streamingFeaturize needs an integral 'event_id' column — the batch " +
        "pipeline's rank tiebreak (FeaturizerConfig.tiebreak) applied stream-side")
    requireIntegralId(events, "event_id", "streamingFeaturize")
    val catCol = r.seqCat.head
    val contCol = r.seqCols.filter(r.contCols.contains).head
    val dateFeat = cfg.dateFeature(r.activityDate)
    val n = cfg.seqLen
    val leftPad = cfg.leftPad
    val normMode = cfg.normMode
    val interval = cfg.dateMode == "interval"
    val summary = model.summary
    // fitted encoding as a broadcast scalar map (code stored as long, F1)
    val encMap = spark.sparkContext.broadcast(
      model.encodings(catCol).mapping.collect()
        .map(rr => rr.getString(0) -> rr.getInt(1).toLong).toMap)
    // window bounds in epoch micros (strict, B1)
    val predUs = predTs.getTime * 1000L
    val startUs = predUs - cfg.historyDays * 86400000000L
    val predEpochDay = Math.floorDiv(predTs.getTime, 86400000L)
    // batch imputation constants (transform's na.fill triple)
    val dateFill =
      if (interval) summary.normalizedOf(dateFeat, cfg.historyDays.toDouble, normMode)
      else 0.0

    val outSchema = StructType(
      StructField(idCol, LongType, nullable = false) +:
      ((1 to n).map(t => StructField(s"${catCol}_$t", LongType, nullable = false)) ++
       (1 to n).map(t => StructField(s"${contCol}_$t", DoubleType, nullable = false)) ++
       (1 to n).map(t => StructField(s"${dateFeat}_$t", DoubleType, nullable = false))))

    events.filter(unix_micros(col(r.activityDate)) < predUs &&
        unix_micros(col(r.activityDate)) > startUs)
      .select(col(idCol).cast("long").as("user_id"),
        unix_micros(col(r.activityDate)).as("ts_us"),
        col("event_id").cast("long").as("event_id"),
        col(catCol).cast("string").as("event_type"),
        col(contCol).cast("double").as("value"))
      .as[FeatEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FeatState, org.apache.spark.sql.Row](
        OutputMode.Update, ttlConf(stateTtl)) {
        (userId: Long, evs: Iterator[FeatEv], state: GroupState[FeatState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
          val prev = state.getOption.getOrElse(FeatState(Nil)).events
          // newest first with the batch event_id tiebreak, bounded at T
          val merged = (prev ++ evs.map(e => (e.ts_us, e.event_id, e.event_type, e.value)))
            .sortBy(t => (-t._1, -t._2)).take(n)
          state.update(FeatState(merged))
          stateTtl.foreach(state.setTimeoutDuration)
          val m = merged.size
          // chronological order oldest -> newest; slot base = C2 algebra:
          // right-pad => slots 1..m, left-pad => slots (n-m+1)..n
          val chron = merged.reverse
          val shift = if (leftPad) n - m else 0
          val cats = Array.fill(n)(0L)
          val conts = Array.fill(n)(0.0)
          val dates = Array.fill(n)(dateFill)
          for ((ev, i) <- chron.zipWithIndex) {
            val slot = i + shift
            cats(slot) = encMap.value.getOrElse(ev._3, 0L)
            // a null cont keeps its slot with the batch imputation 0.0
            conts(slot) = ev._4.fold(0.0)(summary.normalizedOf(contCol, _, normMode))
            val rawDate =
              if (interval) (predEpochDay - Math.floorDiv(ev._1, 86400000000L)).toDouble
              else Math.floorDiv(ev._1, 1000000L).toDouble
            dates(slot) = summary.normalizedOf(dateFeat, rawDate, normMode)
          }
          Iterator(org.apache.spark.sql.Row.fromSeq(
            ((userId: Any) +: (cats.map(x => x: Any) ++
              conts.map(x => x: Any) ++ dates.map(x => x: Any))).toIndexedSeq))
          }
      }(implicitly, org.apache.spark.sql.Encoders.row(outSchema))
  }
}
