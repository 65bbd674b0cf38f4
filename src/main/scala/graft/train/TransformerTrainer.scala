package graft.train

import graft.ml.Ingress
import graft.nn.{AeConfig, ParamLayout, TransformerAE}

/** The transformer autoencoder through the [[AeTrainer]] body: training
  * runs the gradient-checked `TransformerAE.lossAndGrad`, and the serving
  * embedding is the flattened encoder output over tEff timesteps (+1 with
  * non-seq features, I8). */
object TransformerTrainer extends AeTrainer[AeConfig] {

  protected def lossGrad(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      grad: Array[Double], ex: Ingress.Example, dropSeed: Long): Double =
    TransformerAE.lossAndGrad(cfg, lay, p, grad, ex._1, ex._2,
      nsCat = ex._3, nsCont = ex._4, label = ex._5, dropSeed = dropSeed)

  protected def embed(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      cat: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int], nsCont: Array[Double]): Array[Double] =
    TransformerAE.embedDouble(cfg, lay, p, cat, cont, nsCat, nsCont)
}
