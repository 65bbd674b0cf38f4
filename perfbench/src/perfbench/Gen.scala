package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded input generator. Every input of the batch and train workloads
 * comes from here and depends only on the seed and the size argument:
 * the same arguments give the same rows, in the same order.
 *
 * The event log follows the CASPR input contract: one row per event with
 * the prediction date, the static profile (`segment`, `acctbal`) and the
 * churn label pre-joined on every row.
 *
 *  - events per entity are log-normal (heavy tail, capped at 50x the
 *    mean); about 3% of entities have exactly one event and most have
 *    more than the 15-slot sequence;
 *  - `item` mixes a Zipf head of 2000 items (20% of events) with a uniform
 *    tail over 1M ids, so a log of 50k events holds more distinct
 *    in-window items than the 30k encoding cap;
 *  - about 5% of `value` entries are null;
 *  - timestamps are uniform over the 25 days before the prediction date,
 *    so about 16% of events fall outside the 21-day history window.
 */
object Gen {

  val PredMs: Long = java.time.LocalDateTime.of(2024, 2, 1, 0, 0)
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  /** Mean events per entity (the reference's sizing: about 20). */
  val MeanEvents = 20.0
  val HistoryDays = 21
  val SpanDays = 25
  val LabelDays = 7
  private val DayMs = 86400000L

  val EventTypes: Array[String] =
    Array("view", "click", "search", "cart", "purchase", "return", "review", "share")
  val Segments: Array[String] =
    Array("automobile", "building", "furniture", "household", "machinery", "retail")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("item", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("segment", StringType, nullable = false),
    StructField("acctbal", DoubleType, nullable = false),
    StructField("churn", LongType, nullable = false),
    StructField("pred_date", TimestampType, nullable = false)))

  /** True when `tsMs` lies inside the featurizer's history window
    * (strict on both ends, as `Windows.activeWindowFilter`). */
  def inWindow(tsMs: Long): Boolean =
    tsMs < PredMs && tsMs > PredMs - HistoryDays * DayMs

  /** A generated log: `events(i)` holds the rows of entity `ids(i)`. */
  final case class Log(ids: Array[Long], events: Array[Array[Row]]) {
    def numEvents: Long = events.iterator.map(_.length.toLong).sum
    def rows: Iterator[Row] = events.iterator.flatMap(_.iterator)
    /** Entities that keep at least one event after the window filter. */
    def activeIds: Set[Long] = ids.indices.collect {
      case i if events(i).exists(r => inWindow(r.getTimestamp(2).getTime)) => ids(i)
    }.toSet
    def df(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
  }

  /** Standard normal draw (Box-Muller; one value per call keeps the
    * stream position independent of caching). */
  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) *
      math.cos(2.0 * math.Pi * r.nextDouble())

  /** Zipf(s = 1) rank in [0, n) by inverse CDF on the harmonic approximation. */
  private def zipf(r: SplittableRandom, n: Int): Int = {
    val hn = math.log(n.toDouble) + 0.5772156649
    math.min(n - 1, (math.exp(r.nextDouble() * hn - 0.5772156649) - 1).toInt.max(0))
  }

  /** A log of exactly `nEvents` events: entities are drawn until the
    * events run out (the last one is cut short), so the input size does
    * not move with the seed while the entity count does, by a few percent. */
  def eventLog(seed: Long, nEvents: Int): Log = {
    val r = new SplittableRandom(seed)
    val sigma = 1.2
    val mu = math.log(MeanEvents - 1.0) - sigma * sigma / 2
    val cap = (MeanEvents * 50).toInt
    val pred = new Timestamp(PredMs)
    var eventId = 0L
    val entities = scala.collection.mutable.ArrayBuffer[(Long, Array[Row])]()
    while (eventId < nEvents) {
      val id = entities.size + 1L
      val n = math.min(nEvents - eventId,
        math.min(cap, 1 + math.exp(mu + sigma * gauss(r)).toInt).toLong).toInt
      val segment = Segments(r.nextInt(Segments.length))
      val acctbal = math.round((r.nextDouble() * 11000.0 - 1000.0) * 100) / 100.0
      val ts = Array.fill(n)(PredMs - 1 - (r.nextDouble() * SpanDays * DayMs).toLong)
      val churn = if (ts.exists(t => t >= PredMs - LabelDays * DayMs)) 0L else 1L
      entities += id -> ts.map { t =>
        val eventType = EventTypes(zipf(r, EventTypes.length))
        val item =
          if (r.nextDouble() < 0.2) f"h${zipf(r, 2000)}%04d"
          else f"t${r.nextInt(1000000)}%06d"
        val value: java.lang.Double =
          if (r.nextDouble() < 0.05) null
          else math.round(math.exp(2.0 + gauss(r)) * 100) / 100.0
        eventId += 1
        Row(eventId, id, new Timestamp(t), eventType, item, value, segment,
          acctbal, churn, pred)
      }
    }
    val (ids, events) = entities.toArray.unzip
    Log(ids, events)
  }

  // ---------------------------------------------------------------------
  // Catalog tables: the operator queries read TPC-H-style parquet tables
  // (`documents`, `lineitem`) from a directory.
  // They are generated here from a FIXED seed, so the catalog's data and
  // its recorded row counts do not depend on the run's seed.

  val CatalogSeed = 42L
  /** Table sizes as a share of TPC-H-style sf1 (50k documents, 1.5M orders). */
  val CatalogScale = 0.01

  private val Words = ("data spark query table row column join agg filter scan " +
    "sort hash merge window group order part line customer value key batch " +
    "stream vector index fast slow big small the a of to model token graph " +
    "rank page link node edge score user item event time").split(' ')
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  def catalogTables(spark: SparkSession, dir: String): Unit = {
    val scale = CatalogScale
    val r = new SplittableRandom(CatalogSeed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/$name.parquet")

    val nDocs = (50000 * scale).toInt
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      // one in five documents is a light edit of an earlier one, so the
      // near-duplicate and graph queries find real pairs
      val text =
        if (i > 10 && r.nextDouble() < 0.2) {
          val w = texts(r.nextInt(i)).split(' ')
          w.indices.map(j => if (r.nextDouble() < 0.1) Words(r.nextInt(Words.length)) else w(j))
            .mkString(" ")
        } else Seq.fill(20 + r.nextInt(60))(Words(zipf(r, Words.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), docs)

    val nOrders = (1500000 * scale).toInt
    val nParts = math.max(10, (200000 * scale).toInt)
    val nSupp = math.max(5, (10000 * scale).toInt)
    val li = (1 to nOrders).flatMap { o =>
      val ship = PredMs - 31 * DayMs + r.nextInt(30).toLong * DayMs
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = 1.0 + r.nextInt(50)
        val price = math.round(qty * (900 + r.nextInt(1100)) * 100) / 100.0
        Row(o.toLong, 1L + zipf(r, nParts), 1L + r.nextInt(nSupp), ln, qty, price,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".substring(r.nextInt(3)).take(1), "FO".substring(r.nextInt(2)).take(1),
          new Timestamp(ship))
      }
    }
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))), li)
  }
}
