package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._
import graft.nn.AeConfig
import graft.train.{AeResult, TrainConfig, TransformerTrainer}

/**
 * SURVEY.md §7.1 step 6: the transformer-autoencoder TRAINER as an MLlib
 * `Estimator` producing an MLlib `Transformer` — so the full CASPR
 * lifecycle composes inside one `org.apache.spark.ml.Pipeline`:
 *
 * {{{
 * new Pipeline().setStages(Array(
 *   new CasprStage(featCfg),                       // featurize (fit + wide)
 *   new CasprAutoencoder(aeCfg, ...),              // pretrain -> embeddings
 *   new VectorAssembler().setInputCols(...),       // -> MLlib land
 *   new LogisticRegression()))                     // any downstream head
 * }}}
 *
 * `fit` runs [[graft.train.TransformerTrainer.fit]], the
 * [[graft.train.AeTrainer]] body both architectures share (broadcast
 * weights + treeAggregate grads — the J1/J2/J5 loop); the fitted
 * [[CasprModel]] scores through that trainer's `withEmbedding`, the one
 * Ingress.score pass, appending `embedding: array<float>`. Column lists
 * derive from the base feature names × cfg.seqLen (`<feature>_<t>`, the
 * featurizer's wide naming), so the stage drops onto [[CasprStage]] output
 * unchanged.
 *
 * [[CasprModel]] is `MLWritable` (reference checkpoints state_dicts,
 * early_stopping.py:66-70): weights go through [[Persist.saveParams]]
 * (A4, flat big-endian doubles) plus a one-line-per-field config text —
 * `CasprModel.load(path)` restores a scoring-identical model
 * (spec-checked round trip).
 */
class CasprAutoencoder(
    val cfg: AeConfig,
    val idCol: String,
    val seqCat: Seq[String],
    val seqCont: Seq[String],
    val train: TrainConfig,
    val batchSize: Int = 4096,
    val examplesPerEpoch: Option[Int] = None,
    override val uid: String = Identifiable.randomUID("casprAutoencoder"))
    extends Estimator[CasprModel] {

  private def cols(names: Seq[String]): Seq[Seq[String]] =
    names.map(c => (1 to cfg.seqLen).map(t => s"${c}_$t"))

  override def fit(ds: Dataset[_]): CasprModel = {
    val res = TransformerTrainer.fit(ds.toDF(), cfg, cols(seqCat), cols(seqCont),
      train, batchSize = batchSize, examplesPerEpoch = examplesPerEpoch)
    new CasprModel(cfg, res.params, idCol, seqCat, seqCont, uid)
  }

  override def copy(extra: ParamMap): CasprAutoencoder =
    new CasprAutoencoder(cfg, idCol, seqCat, seqCont, train, batchSize,
      examplesPerEpoch, uid)

  override def transformSchema(schema: StructType): StructType =
    EmbeddingStage.outSchema(schema, idCol)
}

/** The fitted autoencoder as an MLlib `Model`: APPENDS the entity
  * `embedding` (flattened encoder output) to the input row — Transformer
  * semantics, so downstream stages still see labels/profile columns. The
  * embedding is computed in the same scan, from the codegen-narrowed
  * Ingress inputs (see [[EmbeddingStage]]); callers that want only
  * (id, embedding) use [[graft.train.TransformerTrainer.transform]]. */
class CasprModel(
    val cfg: AeConfig,
    val weights: Array[Double],
    val idCol: String,
    val seqCat: Seq[String],
    val seqCont: Seq[String],
    override val uid: String = Identifiable.randomUID("casprModel"))
    extends Model[CasprModel] with EmbeddingStage with MLWritable {

  private def cols(names: Seq[String]): Seq[Seq[String]] =
    names.map(c => (1 to cfg.seqLen).map(t => s"${c}_$t"))

  override protected def withEmbedding(df: DataFrame): DataFrame =
    TransformerTrainer.withEmbedding(df,
      AeResult(cfg, weights, Nil, 0),
      cols(seqCat), cols(seqCont), Nil, Nil)

  override def copy(extra: ParamMap): CasprModel =
    new CasprModel(cfg, weights, idCol, seqCat, seqCont, uid)

  /** A4 persistence: params via [[Persist.saveParams]], config as
    * key=value lines. */
  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      // the config format is comma-joined key=value lines: a ',' in a
      // column name would silently re-split into different column lists
      // on load — fail fast instead of corrupting the round trip
      (seqCat ++ seqCont).foreach { c =>
        require(!c.contains(","),
          s"CasprModel persistence joins column names with ','; rename '$c' before save")
      }
      (idCol +: (seqCat ++ seqCont)).foreach { c =>
        require(!c.contains("\n"),
          s"CasprModel persistence is line-oriented; rename '$c' before save")
      }
      Persist.saveParams(weights, s"$path/params.bin")
      val lines = Seq(
        s"idCol=$idCol",
        s"seqCat=${seqCat.mkString(",")}",
        s"seqCont=${seqCont.mkString(",")}",
        s"dModel=${cfg.dModel}", s"heads=${cfg.heads}",
        s"layers=${cfg.layers}", s"pf=${cfg.pf}", s"seqLen=${cfg.seqLen}",
        s"vocabSizes=${cfg.vocabSizes.mkString(",")}",
        s"nCont=${cfg.nCont}", s"seed=${cfg.seed}",
        s"decoderLayers=${cfg.decoderLayers}")
      Persist.write(s"$path/config.txt", lines.mkString("\n").getBytes("UTF-8"))
    }
  }
}

object CasprModel extends MLReadable[CasprModel] {

  override def read: MLReader[CasprModel] = new MLReader[CasprModel] {
    override def load(path: String): CasprModel = {
      val kv = Persist.lines(s"$path/config.txt")
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      def ints(k: String): Seq[Int] =
        kv(k).split(",").filter(_.nonEmpty).map(_.toInt).toSeq
      def strs(k: String): Seq[String] =
        kv(k).split(",").filter(_.nonEmpty).toSeq
      val cfg = AeConfig(dModel = kv("dModel").toInt, heads = kv("heads").toInt,
        layers = kv("layers").toInt, pf = kv("pf").toInt,
        seqLen = kv("seqLen").toInt, vocabSizes = ints("vocabSizes"),
        nCont = kv("nCont").toInt, seed = kv("seed").toLong,
        decoderLayers = kv("decoderLayers").toInt)
      new CasprModel(cfg, Persist.loadParams(s"$path/params.bin"),
        kv("idCol"), strs("seqCat"), strs("seqCont"))
    }
  }
}
