package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.ColumnRoles
import graft.ml.CasprModel
import graft.nn.{AeConfig, LstmAeConfig}
import graft.prep.{CasprFeaturizer, CasprFeaturizerModel, FeaturizerConfig}
import graft.sources.Handover
import graft.train.{TrainConfig, TransformerTrainer}

/**
 * `caspr`: the reference's three jobs over one seeded log, as a user runs
 * them (spark/preprocess.py, train, spark/score.py):
 *
 *  1. preprocess: `CasprFeaturizer.fit`, `transform`, `Handover.write`;
 *  2. train: `Handover.read`, then the transformer-autoencoder trainer
 *     (what `CasprAutoencoder.fit` runs; called directly because the
 *     estimator drops the loss history) on the training split, 2 epochs
 *     at full coverage, batch 256;
 *  3. score: `CasprModel.transform` of every entity with the trained
 *     weights into a parquet sink.
 *
 * The item vocabulary is capped at 2000 (the 20k-event log holds about 13k
 * distinct in-window items, so the cap binds) and the model is d16 with
 * one encoder and one decoder layer: the decoder's softmax over the item
 * vocabulary makes the training cost per example grow with vocab x dModel.
 * One op is all three jobs; items are input events.
 */
final class Caspr(ctx: Ctx) extends Workload {
  import Caspr._
  private val spark = ctx.spark

  private var input: DataFrame = _
  private var events = 0L
  private var expected = Set.empty[Long]
  private var vocabSizes: Seq[Int] = Nil
  private val trainCfg = TrainConfig(lr = 5e-3, maxEpochs = Epochs, warmupEpochs = 1)

  /** Generates the log, writes it as the input table and fits the
    * featurizer on it once, the program's first pass over the input; the
    * fitted vocabularies are checked and the model is dropped. */
  def setup(): Op = {
    val (ms, res) = Main.timed {
      val log = Gen.eventLog(ctx.seed, Events)
      input = table(ctx, log)
      events = log.numEvents
      expected = log.activeIds
      CasprFeaturizer.fit(input, config)
    }
    res match {
      case Left(e) => Op(ms, events, Seq(e))
      case Right(model) => Op(ms, events, Main.check(checkVocab(vocab(model))))
    }
  }

  /** Two ops: they pay class loading, codegen and most of the JIT. After
    * one, the first timed op still ran up to 30% slower than the next, and
    * the op time spread 0.17 (IQR / median) over ten seeds, against 0.08. */
  def warmup(): Seq[Op] = Seq.fill(2)(op(0, Tracer.Off))

  def op(i: Int, tr: Tracer): Op = {
    val (ms, res) = Main.timed {
      val model = tr.span("prep.fit")(CasprFeaturizer.fit(input, config))
      val path = tr.span("prep.transform") {
        val wide = model.transform(input)
        tr.span("sources.write")(Handover.write(wide, ctx.path("handover"), ctx.cores))
      }
      vocabSizes = vocab(model)
      val cfg = modelCfg(vocabSizes)
      val trained = tr.span("train.tf") {
        val wide = tr.span("sources.read")(Handover.read(spark, path))
        TransformerTrainer.fit(wide.where(col("user_id") % TrainEvery === 0), cfg,
          wideCols(SeqCat), wideCols(SeqCont), trainCfg, batchSize = BatchSize)
      }
      val out = ctx.path("scored")
      tr.span("ml.embed") {
        val wide = tr.span("sources.read")(Handover.read(spark, path))
        val cm = new CasprModel(cfg, trained.params, "user_id", SeqCat, SeqCont)
        val scored = tr.span("ml.transform")(cm.transform(wide))
        tr.span("sink")(scored.write.parquet(out))
      }
      (path, out, trained.losses)
    }
    res match {
      case Left(e) => Op(ms, events, Seq(e))
      case Right((path, out, losses)) =>
        val bytes = Files.bytes(path).toDouble
        val errors = Main.check(
          checkWide(spark.read.parquet(path), expected) ++
            checkLosses(losses) ++
            checkScored(spark.read.parquet(out), expected.size, SeqLen * DModel))
        Files.delete(path); Files.delete(out)
        Op(ms, events, errors, Map("sources.handover_bytes" -> bytes,
          "train.tf.loss" -> losses.lastOption.getOrElse(0.0)))
    }
  }

  def layers(tr: Tracer, ops: Seq[Op]): Map[String, Double] = {
    val st = tr.stats()
    val steps = Epochs * math.ceil(expected.count(_ % TrainEvery == 0).toDouble / BatchSize)
    val train = Layers.named(st, "train.tf")
    def m(f: SpanStats => Double) = Stats.median(train.map(f))
    def extra(k: String) = Stats.median(ops.flatMap(_.extra.get(k)))
    val cfg = modelCfg(vocabSizes)
    Layers.fields("prep.fit", Layers.named(st, "prep.fit"), ctx.cores) ++
      Layers.fields("prep.transform", Layers.named(st, "prep.transform"), ctx.cores) ++
      Layers.fields("ml.embed", Layers.named(st, "ml.embed"), ctx.cores) ++
      Map("train.tf.s" -> m(_.wallS), "train.tf.jobs" -> m(_.jobs.toDouble),
        "train.tf.jobs_per_step" -> m(_.jobs / steps),
        "train.tf.tasks_per_job" -> m(s => s.tasks.toDouble / math.max(1, s.jobs)),
        "train.tf.driver_s" -> m(_.driverS), "train.tf.core_util" -> m(_.coreUtil(ctx.cores)),
        "train.tf.gc_s" -> m(_.gcS), "train.tf.loss" -> extra("train.tf.loss"),
        "sources.handover_bytes" -> extra("sources.handover_bytes"),
        "nn.tf_embed_us" -> Layers.tfEmbedUs(cfg),
        "nn.tf_lossgrad_us" -> Layers.tfLossGradUs(cfg),
        "nn.lstm_lossgrad_us" -> Layers.lstmLossGradUs(LstmAeConfig(hidden = 16,
          outDim = 16, attnDim = 0, seqLen = SeqLen, vocabSizes = vocabSizes,
          nCont = SeqCont.size, decoder = "teacher")))
  }
}

/** The workload's load, the CASPR column roles over a [[Gen]] event log,
  * and the output checks. */
object Caspr {
  val Events = 20000
  val Cap = 2000
  val Epochs = 2
  val BatchSize = 256
  /** Training split: entities with `user_id % TrainEvery == 0` (about
    * 300, so each epoch takes two optimizer steps). */
  val TrainEvery = 3

  val SeqLen = 15
  val SeqCat = Seq("event_type", "item")
  val SeqCont = Seq("value", "ts_days")
  val DModel = 16

  def modelCfg(vocab: Seq[Int]): AeConfig = AeConfig(dModel = DModel, heads = 2,
    layers = 1, pf = 32, seqLen = SeqLen, vocabSizes = vocab, nCont = SeqCont.size,
    decoderLayers = 1)

  val roles: ColumnRoles = ColumnRoles(
    tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
    catCols = Seq("event_type", "item", "segment"), contCols = Seq("value", "acctbal"),
    seqCols = Seq("event_type", "item", "value", "ts"),
    nonSeqCols = Seq("segment", "acctbal"), dateCols = Seq("ts"),
    outputCols = Seq("churn"))

  val config: FeaturizerConfig = FeaturizerConfig(roles, seqLen = SeqLen,
    historyDays = Gen.HistoryDays, maxCardinality = Cap, tiebreak = Seq("event_id"))

  def vocab(m: CasprFeaturizerModel): Seq[Int] = SeqCat.map(c => m.cardinality(c).toInt + 1)

  def wideCols(names: Seq[String]): Seq[Seq[String]] =
    names.map(c => (1 to SeqLen).map(t => s"${c}_$t"))

  /** Writes a generated log as a parquet table and reads it back, as the
    * reference's jobs read their input table. */
  def table(ctx: Ctx, log: Gen.Log): DataFrame = {
    val dir = ctx.path("events")
    log.df(ctx.spark).write.parquet(dir)
    ctx.spark.read.parquet(dir)
  }

  /** Output check of the fitted vocabularies (codes plus UNK): event types
    * within the generator's set, and items filled up to the cap. */
  def checkVocab(sizes: Seq[Int]): Seq[String] = sizes match {
    case Seq(types, items) if types >= 2 && types <= Gen.EventTypes.length + 1 &&
        items == Cap + 1 => Nil
    case _ => Seq(s"vocabulary sizes $sizes, expected [2, ${Gen.EventTypes.length + 1}] " +
      s"event types and ${Cap + 1} items")
  }

  /** Output checks of a featurized (wide) table. */
  def checkWide(wide: DataFrame, expected: Set[Long]): Seq[String] = {
    val spark = wide.sparkSession
    import spark.implicits._
    val ids = wide.select("user_id").as[Long].collect()
    val cats = wideCols(SeqCat).flatten
    val conts = wideCols(SeqCont).flatten
    val bounds = wide.agg(
      least(cats.map(c => min(col(c))): _*), greatest(cats.map(c => max(col(c))): _*),
      least(conts.map(c => min(col(c))): _*), greatest(conts.map(c => max(col(c))): _*))
      .head()
    Seq(
      Option.when(ids.length != ids.distinct.length)(
        s"wide table has ${ids.length - ids.distinct.length} duplicate entity rows"),
      Option.when(ids.toSet != expected)(
        s"wide table entities differ: ${(ids.toSet -- expected).size} unexpected, " +
          s"${(expected -- ids.toSet).size} missing"),
      Option.when(bounds.getLong(0) < 0 || bounds.getLong(1) > Cap)(
        s"cat codes outside [0, $Cap]: [${bounds.get(0)}, ${bounds.get(1)}]"),
      Option.when(bounds.getDouble(2) < 0.0 || bounds.getDouble(3) > 1.0)(
        s"min-max conts outside [0, 1]: [${bounds.get(2)}, ${bounds.get(3)}]")).flatten
  }

  /** Output checks of the trainer's loss history. */
  def checkLosses(losses: Seq[Double]): Seq[String] = Seq(
    Option.when(losses.size != Epochs)(s"${losses.size} losses for $Epochs epochs"),
    Option.when(losses.exists(l => l.isNaN || l.isInfinite))(s"non-finite loss $losses"),
    Option.when(losses.size == Epochs && !(losses.last < losses.head))(
      s"loss did not fall: $losses")).flatten

  /** Output checks of a scored table: one finite embedding of `len` per entity. */
  def checkScored(scored: DataFrame, expected: Int, len: Int): Seq[String] = {
    val r = scored.agg(count(lit(1)), min(size(col("embedding"))),
      max(size(col("embedding"))),
      sum(when(exists(col("embedding"), x => isnan(x) || abs(x) === Float.PositiveInfinity),
        1).otherwise(0))).head()
    Seq(
      Option.when(r.getLong(0) != expected)(s"scored ${r.getLong(0)} rows, expected $expected"),
      Option.when(r.getInt(1) != len || r.getInt(2) != len)(
        s"embedding lengths [${r.get(1)}, ${r.get(2)}], expected $len"),
      Option.when(r.getLong(3) != 0L)(s"${r.get(3)} embeddings hold non-finite values")).flatten
  }
}

object Files {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(x => bytes(x.getPath)).sum else f.length()
  }
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(x => delete(x.getPath))
    f.delete()
  }
}
