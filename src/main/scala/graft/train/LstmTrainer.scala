package graft.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.nn.{LstmAE, LstmAeConfig}

/**
 * Distributed LSTM-encoder training (SURVEY.md §2.I11/I12): the same
 * [[EpochLoop]] harness as [[TransformerTrainer]] (reference-style
 * multi-step epochs; see its scaladoc for the `examplesPerEpoch` budget
 * semantics), over the BPTT-gradient-checked [[LstmAE]].
 *
 * Non-seq features enter via the LSTM mechanism (unified_encoder.py:
 * 142-146,257-266): ns cat embeddings -> DenseBnDropout MLP, prepended with
 * ns cont to the fuse input — trained end-to-end here; [[transform]] serves
 * the same forward (`LstmAE.lossGradEmbed(embedOnly = true)`). `labelCol`
 * feeds the `decoder = "churn"` BCE fine-tune objective (I16, ChurnModel
 * model_wrapper.py:123-155); it is ignored by the reconstruction decoders.
 */
object LstmTrainer {

  final case class Result(cfg: LstmAeConfig, params: Array[Double],
      losses: Seq[Double], stoppedAt: Int)

  private type Example = graft.ml.Ingress.Example

  def fit(wide: DataFrame, cfg: LstmAeConfig,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      train: TrainConfig,
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil,
      labelCol: Option[String] = None,
      batchSize: Int = 4096,
      examplesPerEpoch: Option[Int] = None): Result = {
    require(labelCol.isEmpty || cfg.hasChurn,
      "labelCol only feeds the churn objective (decoder = \"churn\")")
    require(!cfg.hasChurn || labelCol.nonEmpty,
      "decoder = \"churn\" trains BCE against labelCol — pass one")
    graft.ml.Ingress.requireColumns(cfg.seqLen, cfg.vocabSizes, cfg.nCont,
      cfg.nonSeqVocabSizes, cfg.nNonSeqCont,
      seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
    val lay = cfg.layout
    val data = graft.ml.Ingress.examples(wide, seqCatCols, seqContCols,
        nonSeqCatCols, nonSeqContCols, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val params = cfg.initParams()
    // per-example dropout seed (see TransformerTrainer.fit: its call
    // counter is per task, so the masks depend on EpochLoop's per-step
    // split, the expected loss does not); probe evaluates with dropout off
    // (inference behavior)
    val lossGradFn = {
      var calls = 0L
      (p: Array[Double], a: Array[Double], ex: Example) => {
        calls += 1
        val ds = train.seed ^ (calls * 0x9E3779B97F4A7C15L) ^
          java.util.Arrays.deepHashCode(ex._1.asInstanceOf[Array[AnyRef]])
        LstmAE.lossGradEmbed(cfg, lay, p, a, ex._1, ex._2, ex._3, ex._4, ex._5,
          dropSeed = ds)._1
      }
    }
    val cfgEval = cfg.copy(dropout = 0.0)
    val res = EpochLoop.run(data, params, train, batchSize, examplesPerEpoch,
      lossGradFn,
      lossOnly = Some((p: Array[Double], ex: Example) =>
        LstmAE.lossGradEmbed(cfgEval, lay, p, null, ex._1, ex._2, ex._3, ex._4,
          ex._5)._1),
      frozenRanges = cfg.frozenRanges)
    data.unpersist()
    Result(cfg, params, res.losses, res.stoppedAt)
  }

  /** Score with trained weights: (id, embedding) rows, the embedding being
    * the pooled attention-fused encoder output. */
  def transform(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame =
    withEmbedding(wide, res, seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
      .select(col(idCol), col("embedding"))

  /** [[transform]]'s embedding appended to every row of `wide`. */
  private[graft] def withEmbedding(wide: DataFrame, res: Result,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String], nonSeqContCols: Seq[String]): DataFrame = {
    val cfg = res.cfg
    graft.ml.Ingress.requireColumns(cfg.seqLen, cfg.vocabSizes, cfg.nCont,
      cfg.nonSeqVocabSizes, cfg.nNonSeqCont,
      seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
    val lay = cfg.layout
    graft.ml.Ingress.score(wide, cfg.seqLen, seqCatCols, seqContCols,
        nonSeqCatCols, nonSeqContCols, res.params, "embedding") { p =>
      (cat, cont, nsCat, nsCont) =>
        LstmAE.lossGradEmbed(cfg, lay, p, null, cat, cont, nsCat, nsCont,
          embedOnly = true)._2.map(_.toFloat)
    }
  }

  /** I16 churn scoring: sigmoid(head) probability from a churn-trained
    * result, alongside the embedding. */
  def transformChurn(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    require(res.cfg.hasChurn, "transformChurn needs a churn-trained Result")
    val cfg = res.cfg
    graft.ml.Ingress.requireColumns(cfg.seqLen, cfg.vocabSizes, cfg.nCont,
      cfg.nonSeqVocabSizes, cfg.nNonSeqCont,
      seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
    val lay = cfg.layout
    graft.ml.Ingress.score(wide, cfg.seqLen, seqCatCols, seqContCols,
        nonSeqCatCols, nonSeqContCols, res.params, "churn_prob") { p =>
      val (wOff, _) = lay.offsets("churn_w")
      val (bOff, _) = lay.offsets("churn_b")
      val outDim = cfg.outDim
      (cat, cont, nsCat, nsCont) => {
        val (_, emb) = LstmAE.lossGradEmbed(cfg, lay, p, null,
          cat, cont, nsCat, nsCont, embedOnly = true)
        var z = p(bOff)
        var i = 0
        while (i < outDim) { z += p(wOff + i) * emb(i); i += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
    }.select(col(idCol), col("churn_prob"))
  }
}
