package graft.train

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.ml.Ingress
import graft.nn.{AeModelConfig, ParamLayout}

/** A trained autoencoder: its config, flat params, the monitored loss per
  * epoch and the epoch training stopped at. */
final case class AeResult[C](cfg: C, params: Array[Double],
    losses: Seq[Double], stoppedAt: Int)

/**
 * Distributed autoencoder pretraining and scoring (SURVEY.md §3.2), written
 * once for both architectures — the reference trains and scores either
 * through one pipeline with an architecture switch
 * (caspr/utils/spark/score.py:53-61). Reference lifecycle J1/J2/J4/J5
 * (train.py:133-193, spark/large/train.py:112-261). An architecture
 * supplies two hooks: one example's loss and gradient, and its
 * double-precision serving embedding; [[TransformerTrainer]] and
 * [[LstmTrainer]] are the two.
 *
 * Epoch semantics (see EpochLoop): by default each epoch covers the FULL
 * corpus in ceil(n/batchSize) optimizer steps on disjoint ~batchSize random
 * slices — the reference's steps_per_epoch batching (spark/large/
 * train.py:35). `examplesPerEpoch` caps the per-epoch sample for smoke/
 * bench budgets (that is less optimization per epoch than the reference;
 * the monitored loss then comes from a fixed forward-only probe sample).
 * Per-epoch cost is one pass over the epoch sample plus one shuffle into
 * step slices — each example is read and trained on exactly once per epoch.
 *
 * `labelCol` feeds the churn fine-tune objective (I16, `cfg.churnHead`;
 * ChurnModel / TransformerChurnModel, model_wrapper.py:123-155,284-316) and
 * is rejected by the reconstruction objectives.
 */
abstract class AeTrainer[C <: AeModelConfig[C]] extends Serializable {

  private type Example = Ingress.Example

  /** One example's loss; accumulates its gradient into `grad` unless
    * `grad` is null. `dropSeed` seeds the training-time dropout masks. */
  protected def lossGrad(cfg: C, lay: ParamLayout, p: Array[Double],
      grad: Array[Double], ex: Example, dropSeed: Long): Double

  /** The serving embedding in double precision, without dropout. */
  protected def embed(cfg: C, lay: ParamLayout, p: Array[Double],
      cat: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int], nsCont: Array[Double]): Array[Double]

  def fit(wide: DataFrame, cfg: C,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      train: TrainConfig,
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil,
      labelCol: Option[String] = None,
      batchSize: Int = 4096,
      examplesPerEpoch: Option[Int] = None): AeResult[C] = {
    require(labelCol.isEmpty || cfg.churnHead,
      "labelCol only feeds the churn objective (a config with the churn head)")
    require(!cfg.churnHead || labelCol.nonEmpty,
      "the churn head trains BCE against labelCol — pass one")
    Ingress.requireColumns(cfg, seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
    val lay = cfg.layout
    val data = Ingress.examples(wide, seqCatCols, seqContCols,
        nonSeqCatCols, nonSeqContCols, labelCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val params = cfg.initParams()
    // per-example dropout seed: content hash x call counter x train seed —
    // deterministic for a given partition order, varies across epochs (the
    // epoch shuffle re-slices, changing each example's call position). The
    // counter is per task, so with dropout > 0 the masks depend on how many
    // sub-partitions EpochLoop splits a step into; the expected loss does not
    val lossGradFn = {
      var calls = 0L
      (p: Array[Double], a: Array[Double], ex: Example) => {
        calls += 1
        val ds = train.seed ^ (calls * 0x9E3779B97F4A7C15L) ^
          java.util.Arrays.deepHashCode(ex._1.asInstanceOf[Array[AnyRef]])
        lossGrad(cfg, lay, p, a, ex, ds)
      }
    }
    // the monitoring probe evaluates WITHOUT dropout (inference behavior,
    // keeps the early-stop signal noise-free); layout is dropout-independent
    val cfgEval = cfg.withoutDropout
    val res = EpochLoop.run(data, params, train, batchSize, examplesPerEpoch,
      lossGradFn,
      lossOnly = Some((p: Array[Double], ex: Example) =>
        lossGrad(cfgEval, lay, p, null, ex, 0L)),
      frozenRanges = cfg.frozenRanges)
    data.unpersist()
    AeResult(cfg, params, res.losses, res.stoppedAt)
  }

  /** Score with trained weights: (id, embedding) rows. */
  def transform(wide: DataFrame, res: AeResult[C], idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil): DataFrame =
    withEmbedding(wide, res, seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
      .select(col(idCol), col("embedding"))

  /** [[transform]]'s embedding appended to every row of `wide`. */
  private[graft] def withEmbedding(wide: DataFrame, res: AeResult[C],
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String], nonSeqContCols: Seq[String]): DataFrame =
    score(wide, res, seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols,
        "embedding") { (cfg, lay, p) =>
      (cat, cont, nsCat, nsCont) =>
        embed(cfg, lay, p, cat, cont, nsCat, nsCont).map(_.toFloat)
    }

  /** I16 churn scoring: (id, churn_prob) rows, the sigmoid of the trained
    * head over the double-precision embedding — the logit training
    * computed. */
  def transformChurn(wide: DataFrame, res: AeResult[C], idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    require(res.cfg.churnHead, "transformChurn needs a churn-trained result")
    score(wide, res, seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols,
        "churn_prob") { (cfg, lay, p) =>
      val (wOff, _) = lay.offsets("churn_w")
      val (bOff, _) = lay.offsets("churn_b")
      (cat, cont, nsCat, nsCont) => {
        val emb = embed(cfg, lay, p, cat, cont, nsCat, nsCont)
        var z = p(bOff)
        var i = 0
        while (i < emb.length) { z += p(wOff + i) * emb(i); i += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
    }.select(col(idCol), col("churn_prob"))
  }

  /** Column `out` appended to every row of `wide` by one [[Ingress.score]]
    * pass; `rowFn` builds the per-row function once per task. */
  private def score[R: TypeTag](wide: DataFrame, res: AeResult[C],
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String], nonSeqContCols: Seq[String], out: String)(
      rowFn: (C, ParamLayout, Array[Double]) =>
        (Array[Array[Int]], Array[Array[Double]], Array[Int], Array[Double]) => R)
      : DataFrame = {
    val cfg = res.cfg
    Ingress.requireColumns(cfg, seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols)
    val lay = cfg.layout
    Ingress.score(wide, cfg.seqLen, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols, res.params, out)(p => rowFn(cfg, lay, p))
  }
}
