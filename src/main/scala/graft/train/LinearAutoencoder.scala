package graft.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Spark-native distributed autoencoder training (SURVEY.md §3.2 rebuild
 * lifecycle): per epoch, broadcast weights -> executors compute per-partition
 * gradient sums -> treeAggregate -> driver applies Adam + schedulers + early
 * stop. This is MLlib's own optimization pattern (e.g. LBFGS), replacing the
 * reference's Horovod-allreduce/Petastorm machinery (spark/large/train.py)
 * with Spark primitives: broadcast = param sync, treeAggregate = allreduce,
 * driver = rank 0.
 *
 * The model here is a linear autoencoder (x -> W1 x + b1 -> W2 h + b2 -> x̂,
 * squared loss) — closed-form gradients, exactly distributed. It trains
 * through the same [[EpochLoop]] harness as the transformer and LSTM
 * autoencoders ([[AeTrainer]]); only its loss history is consumed
 * (`q_train_ae_loss`, `q_train_ae_weighted`), so it has no scoring path.
 */
final case class AeWeights(nIn: Int, nHidden: Int, params: Array[Double]) {
  // layout: W1 (nIn*nHidden) ++ b1 (nHidden) ++ W2 (nHidden*nIn) ++ b2 (nIn)
  def w1(i: Int, h: Int): Double = params(i * nHidden + h)
  def b1(h: Int): Double = params(nIn * nHidden + h)
  def w2(h: Int, i: Int): Double = params(nIn * nHidden + nHidden + h * nIn + i)
  def b2(i: Int): Double = params(nIn * nHidden + nHidden + nHidden * nIn + i)

  def encode(x: Array[Double]): Array[Double] = {
    val h = new Array[Double](nHidden)
    var j = 0
    while (j < nHidden) {
      var s = b1(j); var i = 0
      while (i < nIn) { s += x(i) * w1(i, j); i += 1 }
      h(j) = s; j += 1
    }
    h
  }

  def decode(h: Array[Double]): Array[Double] = {
    val o = new Array[Double](nIn)
    var i = 0
    while (i < nIn) {
      var s = b2(i); var j = 0
      while (j < nHidden) { s += h(j) * w2(j, i); j += 1 }
      o(i) = s; i += 1
    }
    o
  }
}

object AeWeights {
  def size(nIn: Int, nHidden: Int): Int = nIn * nHidden + nHidden + nHidden * nIn + nIn
  def init(nIn: Int, nHidden: Int, seed: Long): AeWeights = {
    val rng = new scala.util.Random(seed)
    val limit = math.sqrt(6.0 / (nIn + nHidden))
    val p = Array.fill(size(nIn, nHidden))((rng.nextDouble() * 2 - 1) * limit)
    // zero the biases
    for (j <- 0 until nHidden) p(nIn * nHidden + j) = 0.0
    for (i <- 0 until nIn) p(nIn * nHidden + nHidden + nHidden * nIn + i) = 0.0
    AeWeights(nIn, nHidden, p)
  }
}

final case class TrainConfig(
    nHidden: Int = 8,
    lr: Double = 1e-3,
    maxEpochs: Int = 100,
    patience: Int = 8,
    delta: Double = 1e-5,
    warmupEpochs: Int = 5,
    seed: Long = 42L)

final case class TrainResult(weights: AeWeights, losses: Seq[Double], stoppedAt: Int)

object LinearAutoencoder {

  /** Fit on the numeric columns of `df` via the shared [[EpochLoop]]
    * harness (reference-style multi-step epochs; see [[AeTrainer]]
    * for the `examplesPerEpoch` budget semantics). Nulls are treated as 0.
    *
    * `weightCol` (soft-dedup / importance weighting): per-example loss
    * L = 0.5 · w · ‖x̂ − x‖² and the epoch mean divides by Σw, so an
    * example with weight w is numerically the example repeated w times —
    * the consumer side of [[graft.ops.Dedup]]'s soft-dedup weights
    * (duplicate clusters train once at full weight instead of n times). */
  def fit(df: DataFrame, cols: Seq[String], cfg: TrainConfig,
      batchSize: Int = 4096, examplesPerEpoch: Option[Int] = None,
      weightCol: Option[String] = None): TrainResult = {
    val nIn = cols.size
    val nHidden = cfg.nHidden
    val selCols = cols.map(c => coalesce(col(c).cast("double"), lit(0.0))) ++
      weightCol.map(c => coalesce(col(c).cast("double"), lit(1.0))).toSeq
    // layout: features 0..nIn-1, optional weight at index nIn
    val rowWidth = selCols.size
    val data = df.select(selCols: _*)
      .rdd.map(r => Array.tabulate(rowWidth)(r.getDouble))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val weighted = weightCol.isDefined

    val w = AeWeights.init(nIn, nHidden, cfg.seed)
    val res = EpochLoop.run(data, w.params, cfg, batchSize, examplesPerEpoch,
      (p, a, x: Array[Double]) => {
        val wt = AeWeights(nIn, nHidden, p)
        val wgt = if (weighted) x(nIn) else 1.0
        val h = wt.encode(x)
        val xh = wt.decode(h)
        val e = new Array[Double](nIn)
        var loss = 0.0
        var i = 0
        // e holds w·(x̂−x): every accumulated gradient term below scales by w
        while (i < nIn) {
          val d = xh(i) - x(i); loss += wgt * d * d; e(i) = wgt * d; i += 1
        }
        // dL/dW2 = h e^T ; dL/db2 = e ; dh = W2 e ; dL/dW1 = x dh^T ; dL/db1 = dh
        val dh = new Array[Double](nHidden)
        var j = 0
        while (j < nHidden) {
          var s = 0.0; i = 0
          while (i < nIn) { s += wt.w2(j, i) * e(i); i += 1 }
          dh(j) = s; j += 1
        }
        i = 0
        while (i < nIn) {
          j = 0
          while (j < nHidden) { a(i * nHidden + j) += x(i) * dh(j); j += 1 }
          i += 1
        }
        j = 0
        while (j < nHidden) { a(nIn * nHidden + j) += dh(j); j += 1 }
        val w2off = nIn * nHidden + nHidden
        j = 0
        while (j < nHidden) {
          i = 0
          while (i < nIn) { a(w2off + j * nIn + i) += h(j) * e(i); i += 1 }
          j += 1
        }
        val b2off = w2off + nHidden * nIn
        i = 0
        while (i < nIn) { a(b2off + i) += e(i); i += 1 }
        0.5 * loss
      },
      lossOnly = Some((p: Array[Double], x: Array[Double]) => {
        val wt = AeWeights(nIn, nHidden, p)
        val wgt = if (weighted) x(nIn) else 1.0
        val xh = wt.decode(wt.encode(x))
        var loss = 0.0
        var i = 0
        while (i < nIn) { val e = xh(i) - x(i); loss += wgt * e * e; i += 1 }
        0.5 * loss
      }),
      weight = if (weighted) Some((x: Array[Double]) => x(nIn)) else None)
    data.unpersist()
    TrainResult(w, res.losses, res.stoppedAt)
  }
}
