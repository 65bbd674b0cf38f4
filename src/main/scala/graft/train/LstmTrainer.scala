package graft.train

import graft.ml.Ingress
import graft.nn.{LstmAE, LstmAeConfig, ParamLayout}

/** The LSTM autoencoder (SURVEY.md §2.I11/I12) through the [[AeTrainer]]
  * body, over the BPTT-gradient-checked [[LstmAE]]; the serving embedding
  * is the pooled attention-fused encoder output. Non-seq features enter
  * via the LSTM mechanism (unified_encoder.py:142-146,257-266): ns cat
  * embeddings -> DenseBnDropout MLP, prepended with ns cont to the fuse
  * input — trained end-to-end, and served by the same forward. */
object LstmTrainer extends AeTrainer[LstmAeConfig] {

  protected def lossGrad(cfg: LstmAeConfig, lay: ParamLayout, p: Array[Double],
      grad: Array[Double], ex: Ingress.Example, dropSeed: Long): Double =
    LstmAE.lossGradEmbed(cfg, lay, p, grad, ex._1, ex._2, ex._3, ex._4, ex._5,
      dropSeed = dropSeed)._1

  protected def embed(cfg: LstmAeConfig, lay: ParamLayout, p: Array[Double],
      cat: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int], nsCont: Array[Double]): Array[Double] =
    LstmAE.lossGradEmbed(cfg, lay, p, null, cat, cont, nsCat, nsCont,
      embedOnly = true)._2
}
