package graft.nn

import breeze.linalg.{DenseMatrix, DenseVector, sum}

/**
 * Manual forward/backward for the transformer autoencoder pretraining
 * objective (SURVEY.md §2.I6/I7/I8/I9/I10):
 *
 *   seq cat embeddings ++ seq cont -> linear_seq        \
 *   non-seq cat emb ++ non-seq cont -> linear_non_seq   -> src (T' x d)
 *   (non-seq appended as ONE extra timestep, T' = T+1;
 *    unified_transformer_encoder.py:93-96, factory.py:43)
 *   -> *sqrt(d) -> +pos -> L x (self-MHA + ReLU-FFN, post-LN residuals)
 *   -> enc (T' x d)
 *   -> reconstruction heads: per-seq-cat softmax-CE + seq-cont MSE on the
 *      seq timesteps, per-non-seq-cat CE + non-seq-cont MSE on the LAST
 *      timestep (OutputLayer split, model_wrapper.py:340-360).
 *
 * The FFN activation is ReLU as in the reference (transformer.py:158);
 * backward uses the subgradient 0 at 0.
 *
 * With `decoderLayers > 0` the objective is the reference's teacher-forced
 * seq2seq (transformer.py:234-306, model_wrapper.py:217-246): trg =
 * [0; src[:-1]] shifted in PROJECTED space (model_wrapper.py:227), decoder
 * layers of causal self-attention + cross-attention to the encoder + FFN
 * (post-LN residuals), positional embedding shared with the encoder
 * (factory.py:84), reconstruction heads on the decoder output. With
 * `decoderLayers = 0` the heads apply directly to the encoder output — the
 * denoising-AE variant (combine with graft.train.Noise). The serving
 * embedding is the flattened ENCODER output in both modes.
 *
 * All parameters live in ONE flat Array[Double]; matrices are zero-copy
 * Breeze views into it. Gradients accumulate into a same-layout flat array,
 * which makes the Spark treeAggregate harness (graft.train) trivial.
 *
 * The layers are the shared kernels of [[Layers]] (attention, layer norm,
 * FFN, the softmax-CE head, embedding lookup, dropout), which [[LstmAE]]
 * composes too. The encoder forward is written once: `lossAndGrad` trains
 * through it and `embed` serves it without dropout.
 */
final case class ParamSpec(name: String, rows: Int, cols: Int) { def size: Int = rows * cols }

object Dims {
  /** Embedding dim rule from factory.py:63-64. */
  def embeddingDim(vocab: Long): Int = math.min(25, ((vocab + 1) / 2).toInt)
}

final class ParamLayout(val specs: Seq[ParamSpec]) extends Serializable {
  val offsets: Map[String, (Int, ParamSpec)] = {
    var off = 0
    specs.map { s => val e = (s.name, (off, s)); off += s.size; e }.toMap
  }
  val totalSize: Int = specs.map(_.size).sum
  /** Zero-copy matrix view (row-major packing via transposed storage). */
  def mat(name: String, a: Array[Double]): DenseMatrix[Double] = {
    val (off, s) = offsets(name)
    new DenseMatrix(s.rows, s.cols, a, off, s.rows, isTranspose = false)
  }
  def vec(name: String, a: Array[Double]): DenseVector[Double] = {
    val (off, s) = offsets(name)
    new DenseVector(a, off, 1, s.size)
  }
}

/**
 * What every autoencoder config shares, and all that the trainer layer
 * ([[graft.train.AeTrainer]]) needs of one: the input shape, the flat
 * parameter layout and its seeded init, the churn head switch, and the I1
 * pretrained-embedding contract (embedding_layer.py:18-39, surfaced per
 * unified_transformer_encoder.py:41-44).
 *
 * Pretrained vectors: `pretrainedEmb` maps a seq-cat column index to a
 * (vocab+1) x embDim table injected into the layout's `emb$i` at init
 * (per column, like the reference's per-layer from_pretrained; columns
 * without an entry stay randomly initialized and trainable). When
 * `freezePretrained` (reference default true) the injected tables'
 * parameter slices are masked out of every optimizer step.
 */
trait AeModelConfig[C <: AeModelConfig[C]] {
  def seqLen: Int
  def vocabSizes: Seq[Int]
  def nCont: Int
  def nonSeqVocabSizes: Seq[Int]
  def nNonSeqCont: Int
  def seed: Long
  def pretrainedEmb: Map[Int, Array[Array[Double]]]
  def freezePretrained: Boolean

  def layout: ParamLayout
  /** I16 fine-tune mode: a BCE head `churn_w`/`churn_b` over the serving
    * embedding replaces the reconstruction objective. */
  def churnHead: Boolean
  /** This config with every dropout rate zeroed: inference behavior. */
  def withoutDropout: C
  /** The init value of every element of parameter `name`, or None for the
    * seeded Glorot-uniform draw. */
  protected def constInit(name: String): Option[Double]

  def embDims: Seq[Int] = vocabSizes.map(v => Dims.embeddingDim(v.toLong))
  /** Width of one timestep's seq input: cat embeddings ++ conts. */
  def inDim: Int = embDims.sum + nCont
  def nsEmbDims: Seq[Int] = nonSeqVocabSizes.map(v => Dims.embeddingDim(v.toLong))

  pretrainedEmb.foreach { case (i, vecs) =>
    require(i >= 0 && i < vocabSizes.size,
      s"pretrainedEmb column index $i outside the ${vocabSizes.size} seq cat columns")
    require(vecs.length == vocabSizes(i) + 1,
      s"pretrainedEmb($i) needs ${vocabSizes(i) + 1} rows (vocab + UNK/pad row 0), got ${vecs.length}")
    require(vecs.forall(_.length == embDims(i)),
      s"pretrainedEmb($i) vectors must have the layout dim ${embDims(i)} " +
        "(the reference derives emb_dims before injecting pretrained tensors)")
  }

  def initParams(): Array[Double] = {
    val lay = layout
    val rng = new scala.util.Random(seed)
    val a = new Array[Double](lay.totalSize)
    lay.specs.foreach { s =>
      val (off, _) = lay.offsets(s.name)
      constInit(s.name) match {
        case Some(v) => java.util.Arrays.fill(a, off, off + s.size, v)
        case None =>
          val limit = math.sqrt(6.0 / (s.rows + s.cols))
          for (i <- 0 until s.size) a(off + i) = (rng.nextDouble() * 2 - 1) * limit
      }
    }
    // inject pretrained embedding tables AFTER the random sweep so the rng
    // stream (and thus every other table) is identical with or without
    // injection; storage is column-major (ParamLayout.mat)
    pretrainedEmb.foreach { case (ci, vecs) =>
      val (off, s) = lay.offsets(s"emb$ci")
      for (r <- 0 until s.rows; c <- 0 until s.cols)
        a(off + c * s.rows + r) = vecs(r)(c)
    }
    a
  }

  /** The frozen flat-param slices ((offset, length) per frozen table):
    * pretrained embedding tables when `freezePretrained` — the optimizer
    * masks these out of every step (from_pretrained freeze semantics). */
  def frozenRanges: Seq[(Int, Int)] =
    if (!freezePretrained || pretrainedEmb.isEmpty) Nil
    else {
      val lay = layout
      pretrainedEmb.keys.toSeq.sorted.map { ci =>
        val (off, s) = lay.offsets(s"emb$ci"); (off, s.size)
      }
    }
}

final case class AeConfig(
    dModel: Int, heads: Int, layers: Int, pf: Int, seqLen: Int,
    vocabSizes: Seq[Int], nCont: Int, seed: Long = 42L,
    decoderLayers: Int = 0,
    nonSeqVocabSizes: Seq[Int] = Nil, nNonSeqCont: Int = 0,
    dropout: Double = 0.0, // training-time inverted dropout (factory.py:75-78)
    churn: Boolean = false, // I16 TransformerChurnModel fine-tune
    // I1 pretrained vectors (see AeModelConfig)
    pretrainedEmb: Map[Int, Array[Array[Double]]] = Map.empty,
    freezePretrained: Boolean = true) extends AeModelConfig[AeConfig] {
  require(dropout >= 0.0 && dropout < 1.0)
  require(dModel % heads == 0)
  // TransformerChurnModel runs the unified ENCODER + a head on its
  // flattened output (model_wrapper.py:284-299) — no seq2seq decoder
  require(!churn || decoderLayers == 0,
    "churn fine-tune uses the encoder only (model_wrapper.py:296-298)")
  def headDim: Int = dModel / heads
  def nsInDim: Int = nsEmbDims.sum + nNonSeqCont
  /** Non-seq features present -> one extra timestep (factory.py:43). */
  def hasNonSeq: Boolean = nonSeqVocabSizes.nonEmpty || nNonSeqCont > 0
  def tEff: Int = seqLen + (if (hasNonSeq) 1 else 0)
  def churnHead: Boolean = churn
  def withoutDropout: AeConfig = copy(dropout = 0.0)

  def layout: ParamLayout = {
    val specs = Seq.newBuilder[ParamSpec]
    vocabSizes.zip(embDims).zipWithIndex.foreach { case ((v, d), i) =>
      specs += ParamSpec(s"emb$i", v + 1, d)
    }
    nonSeqVocabSizes.zip(nsEmbDims).zipWithIndex.foreach { case ((v, d), i) =>
      specs += ParamSpec(s"nsEmb$i", v + 1, d)
    }
    specs += ParamSpec("linSeq_w", inDim, dModel)
    specs += ParamSpec("linSeq_b", 1, dModel)
    if (hasNonSeq) {
      specs += ParamSpec("linNonSeq_w", nsInDim, dModel)
      specs += ParamSpec("linNonSeq_b", 1, dModel)
    }
    specs += ParamSpec("pos", tEff, dModel)
    for (l <- 0 until layers) {
      for (n <- Seq("wq", "wk", "wv", "wo")) {
        specs += ParamSpec(s"l${l}_${n}_w", dModel, dModel)
        specs += ParamSpec(s"l${l}_${n}_b", 1, dModel)
      }
      specs += ParamSpec(s"l${l}_ff1_w", dModel, pf)
      specs += ParamSpec(s"l${l}_ff1_b", 1, pf)
      specs += ParamSpec(s"l${l}_ff2_w", pf, dModel)
      specs += ParamSpec(s"l${l}_ff2_b", 1, dModel)
      for (n <- Seq("ln1_g", "ln1_b", "ln2_g", "ln2_b"))
        specs += ParamSpec(s"l${l}_$n", 1, dModel)
    }
    // decoder layers (I7): causal self-attn (s*), cross-attn to encoder
    // (c*), FFN; three post-LN residual norms. Positional embedding is
    // shared with the encoder (factory.py:84).
    for (l <- 0 until decoderLayers) {
      for (n <- Seq("swq", "swk", "swv", "swo", "cwq", "cwk", "cwv", "cwo")) {
        specs += ParamSpec(s"d${l}_${n}_w", dModel, dModel)
        specs += ParamSpec(s"d${l}_${n}_b", 1, dModel)
      }
      specs += ParamSpec(s"d${l}_ff1_w", dModel, pf)
      specs += ParamSpec(s"d${l}_ff1_b", 1, pf)
      specs += ParamSpec(s"d${l}_ff2_w", pf, dModel)
      specs += ParamSpec(s"d${l}_ff2_b", 1, dModel)
      for (n <- Seq("ln1_g", "ln1_b", "ln2_g", "ln2_b", "ln3_g", "ln3_b"))
        specs += ParamSpec(s"d${l}_$n", 1, dModel)
    }
    if (churn) {
      // I16 TransformerChurnModel head (model_wrapper.py:296-299): the
      // flattened (tEff x d) encoder output -> one BCE logit; encoder
      // unfrozen. Replaces the reconstruction heads.
      specs += ParamSpec("churn_w", tEff * dModel, 1)
      specs += ParamSpec("churn_b", 1, 1)
    } else {
      vocabSizes.zipWithIndex.foreach { case (v, i) =>
        specs += ParamSpec(s"headCat${i}_w", dModel, v + 1)
        specs += ParamSpec(s"headCat${i}_b", 1, v + 1)
      }
      specs += ParamSpec("headCont_w", dModel, math.max(nCont, 1))
      specs += ParamSpec("headCont_b", 1, math.max(nCont, 1))
      // OutputLayer non-seq heads (model_wrapper.py:340-346): one prediction
      // from the last timestep per non-seq cat col + one non-seq cont head.
      nonSeqVocabSizes.zipWithIndex.foreach { case (v, i) =>
        specs += ParamSpec(s"headNsCat${i}_w", dModel, v + 1)
        specs += ParamSpec(s"headNsCat${i}_b", 1, v + 1)
      }
      if (nNonSeqCont > 0) {
        specs += ParamSpec("headNsCont_w", dModel, nNonSeqCont)
        specs += ParamSpec("headNsCont_b", 1, nNonSeqCont)
      }
    }
    new ParamLayout(specs.result())
  }

  /** Biases and layer-norm shifts 0, layer-norm gains 1. */
  protected def constInit(name: String): Option[Double] =
    if (name.contains("_b") && !name.contains("ln")) Some(0.0)
    else if (name.matches(".*ln[123]_g")) Some(1.0)
    else if (name.matches(".*ln[123]_b")) Some(0.0)
    else None
}

object TransformerAE {
  import Layers._

  /** One post-LN transformer layer: self-attention (causal in the
    * decoder), cross-attention to `mem` (decoder only) and the ReLU FFN,
    * each sublayer LN(x + dropout(f(x))) (transformer.py:30-55, 234-306).
    * Encoder layer l owns `l${l}_w{q,k,v,o}`, `l${l}_ff{1,2}` and
    * `l${l}_ln{1,2}`; decoder layer l owns `d${l}_sw*`, `d${l}_cw*`,
    * `d${l}_ff{1,2}` and `d${l}_ln{1,2,3}`. */
  private final class Block(P: Params, pre: String, heads: Int, x: M, mem: M,
      drop: Dropout, rate: Double) {
    private val dec = mem != null
    private val self = new Attention(P, pre + (if (dec) "sw" else "w"), heads, x, x,
      causal = dec, drop, 0.0)
    private val selfMask = drop.mat(rate, x.rows, x.cols)
    private val n1 = new LayerNorm(P, pre + "ln1", x + masked(self.out, selfMask))
    private val cross =
      if (dec) new Attention(P, pre + "cw", heads, n1.out, mem, causal = false, drop, 0.0) else null
    private val crossMask = if (dec) drop.mat(rate, x.rows, x.cols) else null
    private val n2 =
      if (dec) new LayerNorm(P, pre + "ln2", n1.out + masked(cross.out, crossMask)) else null
    private val ffIn = if (dec) n2.out else n1.out
    private val ffn = new Ffn(P, pre, ffIn, drop, rate)
    private val ffMask = drop.mat(rate, x.rows, x.cols)
    private val nOut =
      new LayerNorm(P, pre + (if (dec) "ln3" else "ln2"), ffIn + masked(ffn.out, ffMask))
    def out: M = nOut.out

    /** Returns d x; the decoder adds its memory gradient to dMem. */
    def backward(dOut: M, dMem: M): M = {
      val dFfRes = nOut.backward(dOut)
      var d = ffn.backward(masked(dFfRes, ffMask), dFfRes)
      if (dec) {
        val dRes = n2.backward(d)
        val (dq, dkv) = cross.backward(masked(dRes, crossMask), dRes)
        dMem :+= dkv
        d = dq
      }
      val dRes = n1.backward(d)
      self.backward(masked(dRes, selfMask), dRes)._1
    }
  }

  /** `count` layers named `$pre$l_...` run on x in order. */
  private def stack(P: Params, pre: Char, count: Int, heads: Int, x: M, mem: M,
      drop: Dropout, rate: Double): Array[Block] = {
    val blocks = new Array[Block](count)
    var h = x
    for (l <- 0 until count) {
      blocks(l) = new Block(P, s"$pre${l}_", heads, h, mem, drop, rate)
      h = blocks(l).out
    }
    blocks
  }

  /** dropout(proj * sqrt(d) + pos): the scaled, position-embedded input of
    * either stack (transformer.py:122). */
  private def scalePos(P: Params, proj: M, mask: M): M = {
    val m = proj.copy
    m :*= math.sqrt(proj.cols.toDouble)
    m += P.w("pos")
    masked(m, mask)
  }

  /**
   * The encoder forward, everything `embed` serves: seq cat embeddings ++
   * seq cont through linear_seq, the non-seq row through linear_non_seq
   * appended as one more timestep (unified_transformer_encoder.py:91-96),
   * then scale, positions and the encoder layers. Training applies the
   * embedding, input and sublayer dropouts (factory.py:75-78); the masks
   * come from `drop` in a fixed order. `seqEmbInput`, when non-null,
   * replaces the seq embedding lookups (integrated gradients interpolate
   * in embedding space, CASPRExplainer.py:138-158).
   */
  private final class Encoder(cfg: AeConfig, P: Params, catCodes: Array[Array[Int]],
      cont: Array[Array[Double]], nsCat: Array[Int], nsCont: Array[Double],
      seqEmbInput: M, drop: Dropout, rate: Double) {
    private val t = cfg.seqLen
    private val embSum = cfg.embDims.sum
    // x0 is stored DROPPED so the projection forward/backward consume the
    // dropped activations (EMBEDDING_DROPOUT_SEQUENTIAL)
    private val x0 =
      seqInput(P.tables("emb", cfg.vocabSizes.size, P.p), catCodes, cont, t, cfg.nCont)
    if (seqEmbInput != null && embSum > 0) x0(::, 0 until embSum) := seqEmbInput(::, 0 until embSum)
    private val embMask = drop.mat(rate, t, cfg.inDim)
    if (embMask != null) x0 :*= embMask
    private val nsx0: V =
      if (!cfg.hasNonSeq) null
      else {
        val v = DenseVector.zeros[Double](cfg.nsInDim)
        lookup(P.tables("nsEmb", cfg.nonSeqVocabSizes.size, P.p), nsCat, v)
        val nsEmbSum = cfg.nsEmbDims.sum
        for (c <- 0 until cfg.nNonSeqCont)
          v(nsEmbSum + c) = if (nsCont != null) nsCont(c) else 0.0
        v
      }
    private val nsMask = if (nsx0 == null) null else drop.vec(rate, cfg.nsInDim)
    if (nsMask != null) nsx0 :*= nsMask
    /** The projected src before scale and positions. */
    val srcProj: M = DenseMatrix.zeros[Double](cfg.tEff, cfg.dModel)
    srcProj(0 until t, ::) := P.linear("linSeq", x0)
    if (nsx0 != null) srcProj(t, ::) := P.linear("linNonSeq", nsx0).t
    private val inMask = drop.mat(rate, cfg.tEff, cfg.dModel)
    private val h0 = scalePos(P, srcProj, inMask)
    private val layers = stack(P, 'l', cfg.layers, cfg.heads, h0, null, drop, rate)
    val out: M = if (layers.isEmpty) h0 else layers.last.out

    /** Backward from dOut, the gradient of `out`, plus dSrcProj, what
      * already reached srcProj (the decoder's shifted target). The seq
      * embedding gradient goes to `seqEmbGradOut` when non-null, else to
      * the tables unless `seqEmbInput` replaced them; the seq cont gradient
      * also goes to `contGradOut` when non-null. */
    def backward(dOut: M, dSrcProj: M, seqEmbGradOut: M,
        contGradOut: Array[Array[Double]]): Unit = {
      val dH0 = masked(layers.foldRight(dOut)((b, d) => b.backward(d, null)), inMask)
      P.gw("pos") :+= dH0
      dSrcProj :+= dH0 * math.sqrt(cfg.dModel.toDouble)
      val dX0 = masked(P.linearBwd("linSeq", x0, dSrcProj(0 until t, ::)), embMask)
      if (seqEmbGradOut != null) {
        if (embSum > 0) seqEmbGradOut(::, 0 until embSum) := dX0(::, 0 until embSum)
      } else if (seqEmbInput == null)
        seqScatter(P.tables("emb", cfg.vocabSizes.size, P.grad), catCodes, dX0, t)
      if (contGradOut != null)
        for (i <- 0 until t; c <- 0 until cfg.nCont) contGradOut(i)(c) = dX0(i, embSum + c)
      if (nsx0 != null) {
        val dNsX0 = P.linearBwd("linNonSeq", nsx0, dSrcProj(t, ::).t)
        if (nsMask != null) dNsX0 :*= nsMask
        scatter(P.tables("nsEmb", cfg.nonSeqVocabSizes.size, P.grad), nsCat, dNsX0)
      }
    }
  }

  /**
   * Forward + backward for ONE example; accumulates into `grad` and returns
   * the example's loss. `catCodes`: T x nCat (targets = inputs);
   * `cont`: T x nCont; `nsCat`/`nsCont`: the non-seq features (required
   * non-null iff cfg.hasNonSeq). `grad == null` evaluates the loss only
   * (e.g. the EpochLoop monitoring probe).
   *
   * When `encSeed` is non-null the reconstruction heads are skipped and the
   * backward starts from that encoder-space gradient instead (returns 0);
   * used by Explainer.integratedGradients. When `contGradOut` (T x nCont)
   * is non-null, the gradient w.r.t. the continuous inputs is written there.
   * When `seqEmbInput` (T x sum(embDims)) is non-null it REPLACES the
   * embedding-table lookup for the seq cat features (IG interpolates in
   * embedding space, CASPRExplainer.py:138-158), and the gradient w.r.t.
   * those embedding inputs is written to `seqEmbGradOut` (same shape)
   * instead of being scattered into the tables.
   *
   * Training-time inverted dropout (transformer.py:47,55,122,158 and the
   * embedding dropouts, factory.py:75-78) draws its masks from a
   * dropSeed-seeded RNG in a fixed order, so the same (example, dropSeed)
   * pair sees identical masks across calls.
   */
  def lossAndGrad(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      grad: Array[Double], catCodes: Array[Array[Int]],
      cont: Array[Array[Double]],
      encSeed: DenseMatrix[Double] = null,
      contGradOut: Array[Array[Double]] = null,
      nsCat: Array[Int] = null,
      nsCont: Array[Double] = null,
      seqEmbInput: DenseMatrix[Double] = null,
      seqEmbGradOut: DenseMatrix[Double] = null,
      label: Double = 0.0, // churn-mode BCE target (I16)
      dropSeed: Long = 0L): Double = {
    val t = cfg.seqLen
    val tE = cfg.tEff
    val d = cfg.dModel
    val doGrad = grad != null
    val P = new Params(lay, p, grad)
    val drop = new Dropout(dropSeed)
    val enc = new Encoder(cfg, P, catCodes, cont, nsCat, nsCont, seqEmbInput, drop, cfg.dropout)

    // heads on `x` (enc, or decoder output; tE rows): seq CE/MSE on the seq
    // timesteps, non-seq CE/MSE on the LAST timestep (OutputLayer split,
    // model_wrapper.py:349-360); returns (loss, dX)
    def applyHeads(x: M): (Double, M) = {
      var hl = 0.0
      val dX = DenseMatrix.zeros[Double](tE, d)
      val xSeq = x(0 until t, ::)
      for (c <- cfg.vocabSizes.indices) {
        val dLogits = P.linear(s"headCat$c", xSeq)
        for (i <- 0 until t) hl += softmaxCeRow(dLogits, i, code(catCodes(i), c, dLogits.cols), t)
        if (doGrad) dX(0 until t, ::) :+= P.linearBwd(s"headCat$c", xSeq, dLogits)
      }
      hl = hl / t
      if (cfg.nCont > 0) {
        val pred = P.linear("headCont", xSeq)
        val err = DenseMatrix.tabulate(t, cfg.nCont)((i, j) => pred(i, j) - cont(i)(j))
        hl += sum(err *:* err) / (2.0 * t)
        if (doGrad) dX(0 until t, ::) :+= P.linearBwd("headCont", xSeq, err / t.toDouble)
      }
      if (cfg.hasNonSeq) {
        val xNs = x(tE - 1, ::).t // one prediction from the appended timestep
        for (c <- cfg.nonSeqVocabSizes.indices) {
          val dLogits = P.linear(s"headNsCat$c", xNs)
          hl += softmaxCe(dLogits, code(nsCat, c, dLogits.length), 1.0)
          if (doGrad) dX(tE - 1, ::) :+= P.linearBwd(s"headNsCat$c", xNs, dLogits).t
        }
        if (cfg.nNonSeqCont > 0) {
          val err = P.linear("headNsCont", xNs) - DenseVector.tabulate(cfg.nNonSeqCont)(j =>
            if (nsCont != null) nsCont(j) else 0.0)
          hl += sum(err *:* err) / 2.0
          if (doGrad) dX(tE - 1, ::) :+= P.linearBwd("headNsCont", xNs, err).t
        }
      }
      (hl, dX)
    }

    var loss = 0.0
    val dEnc = if (encSeed != null) encSeed.copy else DenseMatrix.zeros[Double](tE, d)
    // gradient w.r.t. the pre-scale projected src, accumulated from the
    // encoder path and (in decoder mode) the shifted trg path
    val dSrcProj = DenseMatrix.zeros[Double](tE, d)

    if (encSeed == null && cfg.churn) {
      // ---- I16 TransformerChurnModel (model_wrapper.py:296-316): BCE
      // logit on the row-major-flattened encoder output, gradients through
      // the UNFROZEN encoder ------------------------------------------
      val wc = P.w("churn_w")(::, 0)
      var z = P.v("churn_b")(0)
      for (i <- 0 until tE; j <- 0 until d) z += enc.out(i, j) * wc(i * d + j)
      // numerically stable BCE-with-logits
      loss += math.max(z, 0.0) - z * label + math.log1p(math.exp(-math.abs(z)))
      if (!doGrad) return loss
      val dZ = 1.0 / (1.0 + math.exp(-z)) - label
      val gw = P.gw("churn_w")(::, 0)
      for (i <- 0 until tE; j <- 0 until d) {
        gw(i * d + j) += enc.out(i, j) * dZ
        dEnc(i, j) += wc(i * d + j) * dZ
      }
      P.gv("churn_b")(0) += dZ
    } else if (encSeed == null && cfg.decoderLayers == 0) {
      val (hl, dX) = applyHeads(enc.out)
      loss += hl
      if (!doGrad) return loss
      dEnc :+= dX
    } else if (encSeed == null) {
      // ---- teacher-forced decoder (I7/I9): trg = [0; src[:-1]] shifted in
      // projected space (model_wrapper.py:227), positions shared with the
      // encoder (factory.py:84) ------------------------------------------
      val trgProj = DenseMatrix.zeros[Double](tE, d)
      for (i <- 1 until tE) trgProj(i, ::) := enc.srcProj(i - 1, ::)
      val trgMask = drop.mat(cfg.dropout, tE, d)
      val g0 = scalePos(P, trgProj, trgMask)
      val layers = stack(P, 'd', cfg.decoderLayers, cfg.heads, g0, enc.out, drop, cfg.dropout)
      val (hl, dDecOut) = applyHeads(if (layers.isEmpty) g0 else layers.last.out)
      loss += hl
      if (!doGrad) return loss
      // trg row 0 is the constant zero vector; rows 1.. shift back onto
      // srcProj rows 0..
      val dG0 = masked(layers.foldRight(dDecOut)((b, dg) => b.backward(dg, dEnc)), trgMask)
      P.gw("pos") :+= dG0
      val dTrgProj = dG0 * math.sqrt(d.toDouble)
      for (i <- 1 until tE) dSrcProj(i - 1, ::) :+= dTrgProj(i, ::)
    }
    enc.backward(dEnc, dSrcProj, seqEmbGradOut, contGradOut)
    loss
  }

  /** Inference: the flattened encoder output over tEff timesteps — the
    * serving embedding (caspr/utils/spark/score.py:55-57) — rounded to
    * float as the scoring paths emit it. */
  def embed(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      catCodes: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int] = null, nsCont: Array[Double] = null): Array[Float] =
    embedDouble(cfg, lay, p, catCodes, cont, nsCat, nsCont).map(_.toFloat)

  /** Double-precision embed: `lossAndGrad`'s encoder forward without
    * dropout, its output flattened row-major. Every transformer scoring
    * path (the trainer, [[graft.ml.CasprModel]], the scoring queries) runs
    * it; churn scoring reads it unrounded, as training did, and numerics
    * tests need it (float output would drown finite differences in
    * quantization). */
  def embedDouble(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      catCodes: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int] = null, nsCont: Array[Double] = null): Array[Double] = {
    val enc = new Encoder(cfg, new Params(lay, p, null), catCodes, cont, nsCat, nsCont,
      null, new Dropout(0L), 0.0).out
    val out = new Array[Double](cfg.tEff * cfg.dModel)
    var idx = 0
    for (i <- 0 until cfg.tEff; j <- 0 until cfg.dModel) { out(idx) = enc(i, j); idx += 1 }
    out
  }
}
