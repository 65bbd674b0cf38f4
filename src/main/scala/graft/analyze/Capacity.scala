package graft.analyze

import graft.nn.Dims

/**
 * J11 analytic parameter-count formulas for capacity planning
 * (reference estimate_parameters.py:1-58; count check train.py:286-287).
 */
object Capacity {

  /** Embedding parameters: sum over cat cols of (vocab+1) x dim. */
  def embeddingParams(vocabSizes: Seq[Long]): Long =
    vocabSizes.map(v => (v + 1) * Dims.embeddingDim(v)).sum

  def linearParams(in: Int, out: Int): Long = in.toLong * out + out

  /** One encoder layer: q/k/v/o projections + 2 FFN linears + 2 LayerNorms. */
  def encoderLayerParams(d: Int, pf: Int): Long =
    4 * linearParams(d, d) + linearParams(d, pf) + linearParams(pf, d) + 4L * d

  /** Full unified transformer encoder without non-seq features (matches
    * the encoder blocks of [[graft.nn.AeConfig.layout]] at
    * `maxLen = cfg.tEff`). */
  def transformerEncoderParams(vocabSizes: Seq[Long], nCont: Int,
      d: Int, layers: Int, pf: Int, maxLen: Int): Long = {
    val embDim = vocabSizes.map(v => Dims.embeddingDim(v)).sum
    embeddingParams(vocabSizes) +
      linearParams(embDim + nCont, d) +
      maxLen.toLong * d +
      layers.toLong * encoderLayerParams(d, pf)
  }

  /** One nn.LSTM cell: 4 gates x (W: in x h, U: h x h, b: h). */
  def lstmCellParams(in: Int, h: Int): Long =
    4L * (in.toLong * h + h.toLong * h + h)

  /**
   * Full LSTM-architecture unified encoder (matches
   * [[graft.nn.LstmAeConfig.layout]]'s encoder blocks): embeddings + stacked
   * (+bidirectional) cells + reference-faithful Bahdanau
   * (attention_mechanisms.py:108-110: fc_encoder D*h -> h bias-FREE,
   * attnHidden h -> 1 WITH bias) + lstm_to_dense + ns branch + fuse.
   * The reference's estimate_parameters.py covers only the transformer
   * arch; this extends its linear/embedding conventions to the LSTM one.
   */
  def lstmEncoderParams(vocabSizes: Seq[Long], nCont: Int,
      hidden: Int, outDim: Int,
      numLayers: Int = 1, bidirectional: Boolean = false,
      nonSeqVocabSizes: Seq[Long] = Nil, nNonSeqCont: Int = 0,
      nsMlpDim: Int = 16,
      attnHeads: Int = 1): Long = { // > 1: I5 MHA wrapper replaces Bahdanau
    val d = if (bidirectional) 2 else 1
    val inDim = vocabSizes.map(v => Dims.embeddingDim(v)).sum + nCont
    val cells = (0 until numLayers).map { l =>
      val in = if (l == 0) inDim else d * hidden
      d.toLong * lstmCellParams(in, hidden)
    }.sum
    val oW = d * hidden
    val attention =
      if (attnHeads > 1) // q/k/v/o projections + layernorm gamma/beta
        4L * linearParams(oW, oW) + 2L * oW
      else
        d.toLong * hidden * hidden + // fc_encoder, no bias
          linearParams(hidden, 1)    // attnHidden h -> 1 + bias
    val nsEmbDim = nonSeqVocabSizes.map(v => Dims.embeddingDim(v)).sum
    val ns =
      if (nonSeqVocabSizes.isEmpty) 0L
      else embeddingParams(nonSeqVocabSizes) +
        linearParams(nsEmbDim, nsMlpDim) + 2L * nsMlpDim // BN gamma/beta
    val nsFinal = if (nonSeqVocabSizes.isEmpty) 0 else nsMlpDim
    embeddingParams(vocabSizes) + cells + attention +
      linearParams(d * hidden, hidden) + // lstm_to_dense
      ns +
      linearParams(nsFinal + nNonSeqCont + hidden + d * hidden, outDim) // fuse
  }
}

/**
 * K2 Hungarian assignment for cluster-accuracy (reference
 * segmentation/dec_utils.py:9-91, scipy linear_sum_assignment). The k x k
 * cost matrix is tiny, so the O(k^3) driver-side solve is free.
 */
object Hungarian {

  /** Minimum-cost perfect assignment on a square cost matrix; returns the
    * column assigned to each row. */
  def solve(cost: Array[Array[Double]]): Array[Int] = {
    val n = cost.length
    // Jonker-like O(n^3) shortest augmenting path (standard formulation)
    val u = new Array[Double](n + 1)
    val v = new Array[Double](n + 1)
    val p = new Array[Int](n + 1) // p(j) = row matched to column j
    val way = new Array[Int](n + 1)
    for (i <- 1 to n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(n + 1)(Double.MaxValue)
      val used = new Array[Boolean](n + 1)
      var done = false
      while (!done) {
        used(j0) = true
        val i0 = p(j0); var delta = Double.MaxValue; var j1 = -1
        for (j <- 1 to n if !used(j)) {
          val cur = cost(i0 - 1)(j - 1) - u(i0) - v(j)
          if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
          if (minv(j) < delta) { delta = minv(j); j1 = j }
        }
        for (j <- 0 to n) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
        }
        j0 = j1
        if (p(j0) == 0) done = true
      }
      while (j0 != 0) { val j1 = way(j0); p(j0) = p(j1); j0 = j1 }
    }
    val res = new Array[Int](n)
    for (j <- 1 to n) if (p(j) > 0) res(p(j) - 1) = j - 1
    res
  }

  /** Cluster accuracy under the best label permutation. */
  def clusterAccuracy(pairs: Seq[(Int, Int)], k: Int): Double = {
    val counts = Array.ofDim[Double](k, k)
    pairs.foreach { case (pred, truth) => counts(pred)(truth) += 1 }
    val cost = counts.map(_.map(c => -c)) // maximize matches
    val assign = solve(cost)
    val matched = assign.zipWithIndex.map { case (t, p) => counts(p)(t) }.sum
    matched / pairs.size
  }
}
