package graft.nn

import breeze.linalg.{*, DenseMatrix, DenseVector, max, sum}
import breeze.numerics.exp

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

final case class AeConfig(
    dModel: Int, heads: Int, layers: Int, pf: Int, seqLen: Int,
    vocabSizes: Seq[Int], nCont: Int, seed: Long = 42L,
    decoderLayers: Int = 0,
    nonSeqVocabSizes: Seq[Int] = Nil, nNonSeqCont: Int = 0,
    dropout: Double = 0.0, // training-time inverted dropout (factory.py:75-78)
    churn: Boolean = false, // I16 TransformerChurnModel fine-tune
    // I1 pretrained vectors (embedding_layer.py:18-39, surfaced per
    // unified_transformer_encoder.py:41-44): seq-cat column index ->
    // (vocab+1) x embDim table injected into the flat-param layout at init
    // (per-column, like the reference's per-layer from_pretrained; columns
    // without an entry stay randomly initialized and trainable). When
    // `freezePretrained` (reference default true) the injected tables'
    // parameter slices are masked out of every optimizer step.
    pretrainedEmb: Map[Int, Array[Array[Double]]] = Map.empty,
    freezePretrained: Boolean = true) {
  require(dropout >= 0.0 && dropout < 1.0)
  require(dModel % heads == 0)
  pretrainedEmb.foreach { case (i, vecs) =>
    require(i >= 0 && i < vocabSizes.size,
      s"pretrainedEmb column index $i outside the ${vocabSizes.size} seq cat columns")
    require(vecs.length == vocabSizes(i) + 1,
      s"pretrainedEmb($i) needs ${vocabSizes(i) + 1} rows (vocab + UNK/pad row 0), got ${vecs.length}")
    require(vecs.forall(_.length == embDims(i)),
      s"pretrainedEmb($i) vectors must have the layout dim ${embDims(i)} " +
        "(the reference derives emb_dims before injecting pretrained tensors)")
  }
  // TransformerChurnModel runs the unified ENCODER + a head on its
  // flattened output (model_wrapper.py:284-299) — no seq2seq decoder
  require(!churn || decoderLayers == 0,
    "churn fine-tune uses the encoder only (model_wrapper.py:296-298)")
  def headDim: Int = dModel / heads
  def embDims: Seq[Int] = vocabSizes.map(v => Dims.embeddingDim(v.toLong))
  def inDim: Int = embDims.sum + nCont
  def nsEmbDims: Seq[Int] = nonSeqVocabSizes.map(v => Dims.embeddingDim(v.toLong))
  def nsInDim: Int = nsEmbDims.sum + nNonSeqCont
  /** Non-seq features present -> one extra timestep (factory.py:43). */
  def hasNonSeq: Boolean = nonSeqVocabSizes.nonEmpty || nNonSeqCont > 0
  def tEff: Int = seqLen + (if (hasNonSeq) 1 else 0)

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

  def initParams(): Array[Double] = {
    val lay = layout
    val rng = new scala.util.Random(seed)
    val a = new Array[Double](lay.totalSize)
    lay.specs.foreach { s =>
      val (off, _) = lay.offsets(s.name)
      if (s.name.contains("_b") && !s.name.contains("ln")) () // zero biases
      else if (s.name.matches(".*ln[123]_g"))
        for (i <- 0 until s.size) a(off + i) = 1.0
      else if (s.name.matches(".*ln[123]_b")) ()
      else {
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

object TransformerAE {

  private val LnEps = 1e-5

  /** ReLU forward (transformer.py:158). */
  private def relu(m: DenseMatrix[Double]): DenseMatrix[Double] =
    m.map(v => if (v > 0) v else 0.0)

  /** ReLU backward: dPre = dAct where pre > 0 (subgradient 0 at 0). */
  private def reluBwd(dAct: DenseMatrix[Double], act: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = dAct.copy
    for (i <- 0 until out.rows; j <- 0 until out.cols)
      if (act(i, j) <= 0) out(i, j) = 0.0
    out
  }

  /** LayerNorm forward returning (out, xhat, invstd) caches. */
  private def lnFwd(x: DenseMatrix[Double], g: DenseVector[Double], b: DenseVector[Double])
      : (DenseMatrix[Double], DenseMatrix[Double], Array[Double]) = {
    val out = DenseMatrix.zeros[Double](x.rows, x.cols)
    val xhat = DenseMatrix.zeros[Double](x.rows, x.cols)
    val inv = new Array[Double](x.rows)
    for (i <- 0 until x.rows) {
      val row = x(i, ::).t
      val mu = sum(row) / row.length
      val c = row - mu
      val istd = 1.0 / math.sqrt(sum(c *:* c) / row.length + LnEps)
      inv(i) = istd
      xhat(i, ::) := (c * istd).t
      out(i, ::) := ((c * istd) *:* g + b).t
    }
    (out, xhat, inv)
  }

  /** LayerNorm backward: returns dX; accumulates dG, dB. */
  private def lnBwd(dOut: DenseMatrix[Double], xhat: DenseMatrix[Double],
      inv: Array[Double], g: DenseVector[Double],
      dG: DenseVector[Double], dB: DenseVector[Double]): DenseMatrix[Double] = {
    val n = xhat.cols.toDouble
    val dX = DenseMatrix.zeros[Double](xhat.rows, xhat.cols)
    for (i <- 0 until xhat.rows) {
      val dy = dOut(i, ::).t
      val xh = xhat(i, ::).t
      dG :+= dy *:* xh
      dB :+= dy
      val dxhat = dy *:* g
      val s1 = sum(dxhat)
      val s2 = sum(dxhat *:* xh)
      dX(i, ::) := ((dxhat - (xh * (s2 / n)) - (s1 / n)) * inv(i)).t
    }
    dX
  }

  /** Row-wise softmax. */
  private[nn] def softmaxRows(m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = m.copy
    for (i <- 0 until m.rows) {
      val row = out(i, ::).t
      val e = exp(row - max(row))
      out(i, ::) := (e / sum(e)).t
    }
    out
  }

  /**
   * Forward + backward for ONE example; accumulates into `grad` and returns
   * the example's loss. `catCodes`: T x nCat (targets = inputs);
   * `cont`: T x nCont; `nsCat`/`nsCont`: the non-seq features (required
   * non-null iff cfg.hasNonSeq).
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
    val nCat = cfg.vocabSizes.size
    val nNsCat = cfg.nonSeqVocabSizes.size
    val scale = math.sqrt(d.toDouble)
    // grad == null => forward-only (loss evaluation, e.g. the EpochLoop
    // monitoring probe): head-gradient writes are skipped and the function
    // returns right after the loss, before any backward section
    val doGrad = grad != null

    // ---- training-time inverted dropout (reference transformer.py:47,55,
    // 122,158 + embedding dropouts, factory.py:75-78). Masks are drawn from
    // a dropSeed-seeded RNG in a FIXED order, so the same (example,
    // dropSeed) pair sees identical masks across calls — this keeps
    // finite-difference checks exact at dropout > 0 and the backward masks
    // identical to the forward's. Serving (embed) never applies dropout.
    val pDrop = cfg.dropout
    val dropRng = if (pDrop > 0) new java.util.Random(dropSeed) else null
    def dropMask(r: Int, c: Int): DenseMatrix[Double] =
      if (pDrop <= 0) null
      else DenseMatrix.tabulate(r, c)((_, _) =>
        if (dropRng.nextDouble() < pDrop) 0.0 else 1.0 / (1.0 - pDrop))
    def masked(mm: DenseMatrix[Double], mask: DenseMatrix[Double]): DenseMatrix[Double] =
      if (mask == null) mm else mm *:* mask

    // ---- forward -------------------------------------------------------
    val embDims = cfg.embDims
    val x0 = DenseMatrix.zeros[Double](t, cfg.inDim)
    for (i <- 0 until t) {
      var off = 0
      for (c <- 0 until nCat) {
        if (seqEmbInput != null)
          x0(i, off until off + embDims(c)) := seqEmbInput(i, off until off + embDims(c))
        else {
          val table = lay.mat(s"emb$c", p)
          val code = math.min(math.max(catCodes(i)(c), 0), table.rows - 1)
          x0(i, off until off + embDims(c)) := table(code, ::)
        }
        off += embDims(c)
      }
      for (c <- 0 until cfg.nCont) x0(i, embDims.sum + c) = cont(i)(c)
    }
    // EMBEDDING_DROPOUT_SEQUENTIAL (factory.py:77): x0 is stored DROPPED so
    // the projection forward/backward consume the dropped activations
    val embMask = dropMask(t, cfg.inDim)
    if (embMask != null) x0 :*= embMask
    val wSeq = lay.mat("linSeq_w", p); val bSeq = lay.vec("linSeq_b", p)

    // non-seq input row (cat emb ++ cont), unified_transformer_encoder.py:91-96
    val nsEmbDims = cfg.nsEmbDims
    val nsx0: DenseVector[Double] =
      if (!cfg.hasNonSeq) null
      else {
        val v = DenseVector.zeros[Double](cfg.nsInDim)
        var off = 0
        for (c <- 0 until nNsCat) {
          val table = lay.mat(s"nsEmb$c", p)
          val code = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), table.rows - 1)
          v(off until off + nsEmbDims(c)) := table(code, ::).t
          off += nsEmbDims(c)
        }
        for (c <- 0 until cfg.nNonSeqCont)
          v(nsEmbDims.sum + c) = if (nsCont != null) nsCont(c) else 0.0
        v
      }
    // EMBEDDING_DROPOUT_NON_SEQUENTIAL (factory.py:78)
    val nsMask: DenseVector[Double] =
      if (pDrop <= 0 || nsx0 == null) null
      else DenseVector.tabulate(cfg.nsInDim)(_ =>
        if (dropRng.nextDouble() < pDrop) 0.0 else 1.0 / (1.0 - pDrop))
    if (nsMask != null) nsx0 :*= nsMask

    // projected src (pre scale/pos): seq rows through linear_seq, non-seq
    // row through linear_non_seq appended last
    val srcProj = DenseMatrix.zeros[Double](tE, d)
    locally {
      val m = x0 * wSeq
      m(*, ::) :+= bSeq
      srcProj(0 until t, ::) := m
      if (cfg.hasNonSeq) {
        val wNs = lay.mat("linNonSeq_w", p); val bNs = lay.vec("linNonSeq_b", p)
        srcProj(t, ::) := ((wNs.t * nsx0) + bNs).t
      }
    }
    // src = dropout(src * scale + pos) (transformer.py:122)
    val inMask = dropMask(tE, d)
    val h0 = {
      val m = srcProj.copy
      m :*= scale
      m += lay.mat("pos", p)
      masked(m, inMask)
    }
    // per-layer caches
    final case class LayerCache(x: DenseMatrix[Double], q: DenseMatrix[Double],
        k: DenseMatrix[Double], v: DenseMatrix[Double],
        attn: Array[DenseMatrix[Double]], ctx: DenseMatrix[Double],
        res1Pre: DenseMatrix[Double], res1: DenseMatrix[Double],
        ln1Xhat: DenseMatrix[Double], ln1Inv: Array[Double],
        ffPre: DenseMatrix[Double], ffAct: DenseMatrix[Double],
        res2Pre: DenseMatrix[Double],
        ln2Xhat: DenseMatrix[Double], ln2Inv: Array[Double],
        out: DenseMatrix[Double])
    val caches = new Array[LayerCache](cfg.layers)
    val encAttnMask = new Array[DenseMatrix[Double]](cfg.layers)
    val encFfInMask = new Array[DenseMatrix[Double]](cfg.layers)
    val encFfMask = new Array[DenseMatrix[Double]](cfg.layers)
    var h = h0
    for (l <- 0 until cfg.layers) {
      def m(n: String) = lay.mat(s"l${l}_${n}_w", p)
      def b(n: String) = lay.vec(s"l${l}_${n}_b", p)
      val q = h * m("wq"); q(*, ::) :+= b("wq")
      val k = h * m("wk"); k(*, ::) :+= b("wk")
      val v = h * m("wv"); v(*, ::) :+= b("wv")
      val hd = cfg.headDim
      val ctx = DenseMatrix.zeros[Double](tE, d)
      val attns = new Array[DenseMatrix[Double]](cfg.heads)
      for (hh <- 0 until cfg.heads) {
        val sl = hh * hd until (hh + 1) * hd
        val scores = (q(::, sl) * k(::, sl).t) / math.sqrt(hd.toDouble)
        val a = softmaxRows(scores)
        attns(hh) = a
        ctx(::, sl) := a * v(::, sl)
      }
      val attnOut = ctx * m("wo"); attnOut(*, ::) :+= b("wo")
      encAttnMask(l) = dropMask(tE, d)
      // src = ln(src + dropout(attn)) (transformer.py:46-47)
      val res1Pre = h + masked(attnOut, encAttnMask(l))
      val (res1, ln1Xhat, ln1Inv) =
        lnFwd(res1Pre, lay.vec(s"l${l}_ln1_g", p), lay.vec(s"l${l}_ln1_b", p))
      val ffPre = res1 * m("ff1"); ffPre(*, ::) :+= b("ff1")
      encFfInMask(l) = dropMask(tE, cfg.pf)
      // x = dropout(relu(fc1(x))) (transformer.py:158); cached DROPPED
      val ffAct = masked(relu(ffPre), encFfInMask(l))
      val ff = ffAct * m("ff2"); ff(*, ::) :+= b("ff2")
      encFfMask(l) = dropMask(tE, d)
      // src = ln(src + dropout(ff)) (transformer.py:54-55)
      val res2Pre = res1 + masked(ff, encFfMask(l))
      val (out, ln2Xhat, ln2Inv) =
        lnFwd(res2Pre, lay.vec(s"l${l}_ln2_g", p), lay.vec(s"l${l}_ln2_b", p))
      caches(l) = LayerCache(h, q, k, v, attns, ctx, res1Pre, res1, ln1Xhat,
        ln1Inv, ffPre, ffAct, res2Pre, ln2Xhat, ln2Inv, out)
      h = out
    }
    val enc = h

    // heads on `x` (enc, or decoder output; tE rows): seq CE/MSE on the seq
    // timesteps, non-seq CE/MSE on the LAST timestep (OutputLayer split,
    // model_wrapper.py:349-360); returns (loss, dX)
    def applyHeads(x: DenseMatrix[Double]): (Double, DenseMatrix[Double]) = {
      var hl = 0.0
      val dX = DenseMatrix.zeros[Double](tE, d)
      val xSeq = x(0 until t, ::)
      for (c <- 0 until nCat) {
        val w = lay.mat(s"headCat${c}_w", p); val b = lay.vec(s"headCat${c}_b", p)
        val logits = xSeq * w; logits(*, ::) :+= b
        val probs = softmaxRows(logits)
        val dLogits = probs.copy
        for (i <- 0 until t) {
          val y = math.min(math.max(catCodes(i)(c), 0), w.cols - 1)
          hl += -math.log(math.max(probs(i, y), 1e-12))
          dLogits(i, y) -= 1.0
        }
        dLogits :/= t.toDouble
        if (doGrad) {
          lay.mat(s"headCat${c}_w", grad) :+= xSeq.t * dLogits
          val dB = lay.vec(s"headCat${c}_b", grad)
          for (i <- 0 until t) dB :+= dLogits(i, ::).t
          dX(0 until t, ::) :+= dLogits * w.t
        }
      }
      hl = hl / t
      if (cfg.nCont > 0) {
        val w = lay.mat("headCont_w", p); val b = lay.vec("headCont_b", p)
        val pred = xSeq * w; pred(*, ::) :+= b
        val err = DenseMatrix.tabulate(t, cfg.nCont)((i, j) => pred(i, j) - cont(i)(j))
        hl += sum(err *:* err) / (2.0 * t)
        if (doGrad) {
          val dPred = err / t.toDouble
          lay.mat("headCont_w", grad) :+= xSeq.t * dPred
          val dB = lay.vec("headCont_b", grad)
          for (i <- 0 until t) dB :+= dPred(i, ::).t
          dX(0 until t, ::) :+= dPred * w.t
        }
      }
      if (cfg.hasNonSeq) {
        val xNs = x(tE - 1, ::).t // one prediction from the appended timestep
        for (c <- 0 until nNsCat) {
          val w = lay.mat(s"headNsCat${c}_w", p); val b = lay.vec(s"headNsCat${c}_b", p)
          val logits = (w.t * xNs) + b
          val mx = max(logits)
          val e = exp(logits - mx)
          val probs = e / sum(e)
          val y = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), w.cols - 1)
          hl += -math.log(math.max(probs(y), 1e-12))
          if (doGrad) {
            val dLogits = probs.copy
            dLogits(y) -= 1.0
            lay.mat(s"headNsCat${c}_w", grad) :+= xNs * dLogits.t
            lay.vec(s"headNsCat${c}_b", grad) :+= dLogits
            dX(tE - 1, ::) :+= (w * dLogits).t
          }
        }
        if (cfg.nNonSeqCont > 0) {
          val w = lay.mat("headNsCont_w", p); val b = lay.vec("headNsCont_b", p)
          val pred = (w.t * xNs) + b
          val err = DenseVector.tabulate(cfg.nNonSeqCont)(j =>
            pred(j) - (if (nsCont != null) nsCont(j) else 0.0))
          hl += sum(err *:* err) / 2.0
          if (doGrad) {
            lay.mat("headNsCont_w", grad) :+= xNs * err.t
            lay.vec("headNsCont_b", grad) :+= err
            dX(tE - 1, ::) :+= (w * err).t
          }
        }
      }
      (hl, dX)
    }

    var loss = 0.0
    val dEnc = if (encSeed != null) encSeed.copy else DenseMatrix.zeros[Double](tE, d)
    // gradient w.r.t. the pre-scale projected src, accumulated from the
    // encoder path and (in decoder mode) the shifted trg path
    val dSrcProj = DenseMatrix.zeros[Double](tE, d)

    if (encSeed == null && cfg.decoderLayers == 0 && cfg.churn) {
      // ---- I16 TransformerChurnModel (model_wrapper.py:296-316): BCE
      // logit on the row-major-flattened encoder output, gradients through
      // the UNFROZEN encoder ------------------------------------------
      val wc = lay.mat("churn_w", p)(::, 0)
      var z = lay.vec("churn_b", p)(0)
      for (i <- 0 until tE; j <- 0 until d) z += enc(i, j) * wc(i * d + j)
      // numerically stable BCE-with-logits
      loss += math.max(z, 0.0) - z * label + math.log1p(math.exp(-math.abs(z)))
      if (!doGrad) return loss
      val dZ = 1.0 / (1.0 + math.exp(-z)) - label
      val gw = lay.mat("churn_w", grad)(::, 0)
      for (i <- 0 until tE; j <- 0 until d) {
        gw(i * d + j) += enc(i, j) * dZ
        dEnc(i, j) += wc(i * d + j) * dZ
      }
      lay.vec("churn_b", grad)(0) += dZ
    } else if (encSeed == null && cfg.decoderLayers == 0) {
      val (hl, dX) = applyHeads(enc)
      loss += hl
      if (!doGrad) return loss
      dEnc :+= dX
    } else if (encSeed == null) {
      // ---- teacher-forced decoder (I7/I9): trg = [0; src[:-1]] shifted in
      // projected space (model_wrapper.py:227) --------------------------
      val trgProj = DenseMatrix.zeros[Double](tE, d)
      for (i <- 1 until tE) trgProj(i, ::) := srcProj(i - 1, ::)
      // trg = dropout(trg * scale + pos), mirroring the encoder input
      val trgMask = dropMask(tE, d)
      val g0 = {
        val m = trgProj.copy
        m :*= scale
        m += lay.mat("pos", p)
        masked(m, trgMask)
      }
      final case class DecCache(x: DenseMatrix[Double],
          sq: DenseMatrix[Double], sk: DenseMatrix[Double], sv: DenseMatrix[Double],
          sAttn: Array[DenseMatrix[Double]], sCtx: DenseMatrix[Double],
          r1Pre: DenseMatrix[Double], r1: DenseMatrix[Double],
          ln1Xhat: DenseMatrix[Double], ln1Inv: Array[Double],
          cq: DenseMatrix[Double], ck: DenseMatrix[Double], cv: DenseMatrix[Double],
          cAttn: Array[DenseMatrix[Double]], cCtx: DenseMatrix[Double],
          r2Pre: DenseMatrix[Double], r2: DenseMatrix[Double],
          ln2Xhat: DenseMatrix[Double], ln2Inv: Array[Double],
          ffPre: DenseMatrix[Double], ffAct: DenseMatrix[Double],
          r3Pre: DenseMatrix[Double],
          ln3Xhat: DenseMatrix[Double], ln3Inv: Array[Double])
      val dcaches = new Array[DecCache](cfg.decoderLayers)
      val decSelfMask = new Array[DenseMatrix[Double]](cfg.decoderLayers)
      val decCrossMask = new Array[DenseMatrix[Double]](cfg.decoderLayers)
      val decFfInMask = new Array[DenseMatrix[Double]](cfg.decoderLayers)
      val decFfMask = new Array[DenseMatrix[Double]](cfg.decoderLayers)
      val hd = cfg.headDim
      var g = g0
      for (l <- 0 until cfg.decoderLayers) {
        def m(n: String) = lay.mat(s"d${l}_${n}_w", p)
        def b(n: String) = lay.vec(s"d${l}_${n}_b", p)
        // causal self-attention
        val sq = g * m("swq"); sq(*, ::) :+= b("swq")
        val sk = g * m("swk"); sk(*, ::) :+= b("swk")
        val sv = g * m("swv"); sv(*, ::) :+= b("swv")
        val sCtx = DenseMatrix.zeros[Double](tE, d)
        val sAttns = new Array[DenseMatrix[Double]](cfg.heads)
        for (hh <- 0 until cfg.heads) {
          val sl = hh * hd until (hh + 1) * hd
          val scores = (sq(::, sl) * sk(::, sl).t) / math.sqrt(hd.toDouble)
          for (i <- 0 until tE; j <- i + 1 until tE) scores(i, j) = -1e30 // tril mask
          val a = softmaxRows(scores)
          sAttns(hh) = a
          sCtx(::, sl) := a * sv(::, sl)
        }
        val sOut = sCtx * m("swo"); sOut(*, ::) :+= b("swo")
        decSelfMask(l) = dropMask(tE, d)
        val r1Pre = g + masked(sOut, decSelfMask(l))
        val (r1, ln1Xhat, ln1Inv) =
          lnFwd(r1Pre, lay.vec(s"d${l}_ln1_g", p), lay.vec(s"d${l}_ln1_b", p))
        // cross-attention to the encoder output
        val cq = r1 * m("cwq"); cq(*, ::) :+= b("cwq")
        val ck = enc * m("cwk"); ck(*, ::) :+= b("cwk")
        val cv = enc * m("cwv"); cv(*, ::) :+= b("cwv")
        val cCtx = DenseMatrix.zeros[Double](tE, d)
        val cAttns = new Array[DenseMatrix[Double]](cfg.heads)
        for (hh <- 0 until cfg.heads) {
          val sl = hh * hd until (hh + 1) * hd
          val a = softmaxRows((cq(::, sl) * ck(::, sl).t) / math.sqrt(hd.toDouble))
          cAttns(hh) = a
          cCtx(::, sl) := a * cv(::, sl)
        }
        val cOut = cCtx * m("cwo"); cOut(*, ::) :+= b("cwo")
        decCrossMask(l) = dropMask(tE, d)
        val r2Pre = r1 + masked(cOut, decCrossMask(l))
        val (r2, ln2Xhat, ln2Inv) =
          lnFwd(r2Pre, lay.vec(s"d${l}_ln2_g", p), lay.vec(s"d${l}_ln2_b", p))
        val ffPre = r2 * m("ff1"); ffPre(*, ::) :+= b("ff1")
        decFfInMask(l) = dropMask(tE, cfg.pf)
        val ffAct = masked(relu(ffPre), decFfInMask(l)) // cached DROPPED
        val ff = ffAct * m("ff2"); ff(*, ::) :+= b("ff2")
        decFfMask(l) = dropMask(tE, d)
        val r3Pre = r2 + masked(ff, decFfMask(l))
        val (out, ln3Xhat, ln3Inv) =
          lnFwd(r3Pre, lay.vec(s"d${l}_ln3_g", p), lay.vec(s"d${l}_ln3_b", p))
        dcaches(l) = DecCache(g, sq, sk, sv, sAttns, sCtx, r1Pre, r1, ln1Xhat,
          ln1Inv, cq, ck, cv, cAttns, cCtx, r2Pre, r2, ln2Xhat, ln2Inv,
          ffPre, ffAct, r3Pre, ln3Xhat, ln3Inv)
        g = out
      }
      val (hl, dDecOut) = applyHeads(g)
      loss += hl
      if (!doGrad) return loss
      // decoder backward
      var dG = dDecOut
      for (l <- (cfg.decoderLayers - 1) to 0 by -1) {
        val cch = dcaches(l)
        def m(n: String) = lay.mat(s"d${l}_${n}_w", p)
        def gm(n: String) = lay.mat(s"d${l}_${n}_w", grad)
        def gb(n: String) = lay.vec(s"d${l}_${n}_b", grad)
        val dR3Pre = lnBwd(dG, cch.ln3Xhat, cch.ln3Inv,
          lay.vec(s"d${l}_ln3_g", p),
          lay.vec(s"d${l}_ln3_g", grad), lay.vec(s"d${l}_ln3_b", grad))
        val dFf = masked(dR3Pre, decFfMask(l))
        gm("ff2") :+= cch.ffAct.t * dFf
        for (i <- 0 until tE) gb("ff2") :+= dFf(i, ::).t
        val dFfAct = dFf * m("ff2").t
        val dFfPre = reluBwd(masked(dFfAct, decFfInMask(l)), cch.ffPre)
        gm("ff1") :+= cch.r2.t * dFfPre
        for (i <- 0 until tE) gb("ff1") :+= dFfPre(i, ::).t
        val dR2 = dR3Pre + (dFfPre * m("ff1").t)
        val dR2Pre = lnBwd(dR2, cch.ln2Xhat, cch.ln2Inv,
          lay.vec(s"d${l}_ln2_g", p),
          lay.vec(s"d${l}_ln2_g", grad), lay.vec(s"d${l}_ln2_b", grad))
        // cross-attn backward: r2Pre = r1 + drop(cwo(cCtx))
        val dCOut = masked(dR2Pre, decCrossMask(l))
        gm("cwo") :+= cch.cCtx.t * dCOut
        for (i <- 0 until tE) gb("cwo") :+= dCOut(i, ::).t
        val dCCtx = dCOut * m("cwo").t
        val dCq = DenseMatrix.zeros[Double](tE, d)
        val dCk = DenseMatrix.zeros[Double](tE, d)
        val dCv = DenseMatrix.zeros[Double](tE, d)
        for (hh <- 0 until cfg.heads) {
          val sl = hh * hd until (hh + 1) * hd
          val a = cch.cAttn(hh)
          val dCtxH = dCCtx(::, sl)
          val dA = dCtxH * cch.cv(::, sl).t
          dCv(::, sl) :+= a.t * dCtxH
          val dScores = DenseMatrix.zeros[Double](tE, tE)
          for (i <- 0 until tE) {
            val ai = a(i, ::).t
            val dai = dA(i, ::).t
            val dot = sum(ai *:* dai)
            dScores(i, ::) := ((dai - dot) *:* ai).t
          }
          dScores :/= math.sqrt(hd.toDouble)
          dCq(::, sl) :+= dScores * cch.ck(::, sl)
          dCk(::, sl) :+= dScores.t * cch.cq(::, sl)
        }
        gm("cwq") :+= cch.r1.t * dCq
        gm("cwk") :+= enc.t * dCk
        gm("cwv") :+= enc.t * dCv
        for (i <- 0 until tE) {
          gb("cwq") :+= dCq(i, ::).t; gb("cwk") :+= dCk(i, ::).t
          gb("cwv") :+= dCv(i, ::).t
        }
        dEnc :+= (dCk * m("cwk").t) + (dCv * m("cwv").t)
        val dR1 = dR2Pre + (dCq * m("cwq").t)
        val dR1Pre = lnBwd(dR1, cch.ln1Xhat, cch.ln1Inv,
          lay.vec(s"d${l}_ln1_g", p),
          lay.vec(s"d${l}_ln1_g", grad), lay.vec(s"d${l}_ln1_b", grad))
        // causal self-attn backward: r1Pre = x + drop(swo(sCtx))
        val dSOut = masked(dR1Pre, decSelfMask(l))
        gm("swo") :+= cch.sCtx.t * dSOut
        for (i <- 0 until tE) gb("swo") :+= dSOut(i, ::).t
        val dSCtx = dSOut * m("swo").t
        val dSq = DenseMatrix.zeros[Double](tE, d)
        val dSk = DenseMatrix.zeros[Double](tE, d)
        val dSv = DenseMatrix.zeros[Double](tE, d)
        for (hh <- 0 until cfg.heads) {
          val sl = hh * hd until (hh + 1) * hd
          val a = cch.sAttn(hh)
          val dCtxH = dSCtx(::, sl)
          val dA = dCtxH * cch.sv(::, sl).t
          dSv(::, sl) :+= a.t * dCtxH
          val dScores = DenseMatrix.zeros[Double](tE, tE)
          for (i <- 0 until tE) {
            val ai = a(i, ::).t
            val dai = dA(i, ::).t
            val dot = sum(ai *:* dai)
            dScores(i, ::) := ((dai - dot) *:* ai).t
          }
          dScores :/= math.sqrt(hd.toDouble)
          dSq(::, sl) :+= dScores * cch.sk(::, sl)
          dSk(::, sl) :+= dScores.t * cch.sq(::, sl)
        }
        gm("swq") :+= cch.x.t * dSq
        gm("swk") :+= cch.x.t * dSk
        gm("swv") :+= cch.x.t * dSv
        for (i <- 0 until tE) {
          gb("swq") :+= dSq(i, ::).t; gb("swk") :+= dSk(i, ::).t
          gb("swv") :+= dSv(i, ::).t
        }
        dG = dR1Pre + (dSq * m("swq").t) + (dSk * m("swk").t) + (dSv * m("swv").t)
      }
      // g0 = drop(trgProj * scale + pos); trg row 0 is the constant zero
      // vector, rows 1.. shift back onto srcProj rows 0..
      val dG0 = masked(dG, trgMask)
      lay.mat("pos", grad) :+= dG0
      val dTrgProj = dG0 * scale
      for (i <- 1 until tE) dSrcProj(i - 1, ::) :+= dTrgProj(i, ::)
    }

    // ---- backward through encoder layers ------------------------------
    var dH = dEnc
    for (l <- (cfg.layers - 1) to 0 by -1) {
      val cch = caches(l)
      def m(n: String) = lay.mat(s"l${l}_${n}_w", p)
      def gm(n: String) = lay.mat(s"l${l}_${n}_w", grad)
      def gb(n: String) = lay.vec(s"l${l}_${n}_b", grad)
      // ln2
      val dRes2Pre = lnBwd(dH, cch.ln2Xhat, cch.ln2Inv,
        lay.vec(s"l${l}_ln2_g", p),
        lay.vec(s"l${l}_ln2_g", grad), lay.vec(s"l${l}_ln2_b", grad))
      // res2Pre = res1 + drop(ff2(drop(relu(ff1(res1)))))
      val dFf = masked(dRes2Pre, encFfMask(l))
      gm("ff2") :+= cch.ffAct.t * dFf
      for (i <- 0 until tE) gb("ff2") :+= dFf(i, ::).t
      val dFfAct = dFf * m("ff2").t
      val dFfPre = reluBwd(masked(dFfAct, encFfInMask(l)), cch.ffPre)
      gm("ff1") :+= cch.res1.t * dFfPre
      for (i <- 0 until tE) gb("ff1") :+= dFfPre(i, ::).t
      val dRes1 = dRes2Pre + (dFfPre * m("ff1").t)
      // ln1
      val dRes1Pre = lnBwd(dRes1, cch.ln1Xhat, cch.ln1Inv,
        lay.vec(s"l${l}_ln1_g", p),
        lay.vec(s"l${l}_ln1_g", grad), lay.vec(s"l${l}_ln1_b", grad))
      // res1Pre = x + drop(wo(ctx))
      val dAttnOut = masked(dRes1Pre, encAttnMask(l))
      gm("wo") :+= cch.ctx.t * dAttnOut
      for (i <- 0 until tE) gb("wo") :+= dAttnOut(i, ::).t
      val dCtx = dAttnOut * m("wo").t
      val hd = cfg.headDim
      val dQ = DenseMatrix.zeros[Double](tE, d)
      val dK = DenseMatrix.zeros[Double](tE, d)
      val dV = DenseMatrix.zeros[Double](tE, d)
      for (hh <- 0 until cfg.heads) {
        val sl = hh * hd until (hh + 1) * hd
        val a = cch.attn(hh)
        val dCtxH = dCtx(::, sl)
        val dA = dCtxH * cch.v(::, sl).t
        dV(::, sl) :+= a.t * dCtxH
        // softmax backward per row
        val dScores = DenseMatrix.zeros[Double](tE, tE)
        for (i <- 0 until tE) {
          val ai = a(i, ::).t
          val dai = dA(i, ::).t
          val dot = sum(ai *:* dai)
          dScores(i, ::) := ((dai - dot) *:* ai).t
        }
        dScores :/= math.sqrt(hd.toDouble)
        dQ(::, sl) :+= dScores * cch.k(::, sl)
        dK(::, sl) :+= dScores.t * cch.q(::, sl)
      }
      gm("wq") :+= cch.x.t * dQ
      gm("wk") :+= cch.x.t * dK
      gm("wv") :+= cch.x.t * dV
      for (i <- 0 until tE) {
        gb("wq") :+= dQ(i, ::).t; gb("wk") :+= dK(i, ::).t; gb("wv") :+= dV(i, ::).t
      }
      dH = dRes1Pre + (dQ * m("wq").t) + (dK * m("wk").t) + (dV * m("wv").t)
    }
    // h0 = drop(srcProj * scale + pos)
    val dH0 = masked(dH, inMask)
    lay.mat("pos", grad) :+= dH0
    dSrcProj :+= dH0 * scale

    // ---- projection backward ------------------------------------------
    val dSeqProj = dSrcProj(0 until t, ::)
    lay.mat("linSeq_w", grad) :+= x0.t * dSeqProj
    val dBSeq = lay.vec("linSeq_b", grad)
    for (i <- 0 until t) dBSeq :+= dSeqProj(i, ::).t
    // x0 was stored dropped; route grads back through the embedding mask
    val dX0 = masked(dSeqProj * wSeq.t, embMask)
    for (i <- 0 until t) {
      var off = 0
      for (c <- 0 until nCat) {
        if (seqEmbGradOut != null)
          seqEmbGradOut(i, off until off + embDims(c)) := dX0(i, off until off + embDims(c))
        else if (seqEmbInput == null) {
          val tableG = lay.mat(s"emb$c", grad)
          val code = math.min(math.max(catCodes(i)(c), 0), tableG.rows - 1)
          tableG(code, ::) :+= dX0(i, off until off + embDims(c))
        }
        off += embDims(c)
      }
      if (contGradOut != null)
        for (c <- 0 until cfg.nCont) contGradOut(i)(c) = dX0(i, embDims.sum + c)
    }
    if (cfg.hasNonSeq) {
      val dNs = dSrcProj(tE - 1, ::).t
      val wNs = lay.mat("linNonSeq_w", p)
      lay.mat("linNonSeq_w", grad) :+= nsx0 * dNs.t
      lay.vec("linNonSeq_b", grad) :+= dNs
      val dNsX0 = wNs * dNs
      if (nsMask != null) dNsX0 :*= nsMask
      var off = 0
      for (c <- 0 until nNsCat) {
        val tableG = lay.mat(s"nsEmb$c", grad)
        val code = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), tableG.rows - 1)
        tableG(code, ::) :+= dNsX0(off until off + nsEmbDims(c)).t
        off += nsEmbDims(c)
      }
    }
    loss
  }

  /** Inference: the flattened encoder output over tEff timesteps — the
    * serving embedding (caspr/utils/spark/score.py:55-57). Every
    * transformer scoring path (trainer, [[graft.ml.CasprModel]], the
    * scoring queries) runs this one forward. */
  def embed(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      catCodes: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int] = null, nsCont: Array[Double] = null): Array[Float] =
    embedDouble(cfg, lay, p, catCodes, cont, nsCat, nsCont).map(_.toFloat)

  /** Double-precision embed (numerics tests need it — float output would
    * drown finite differences in quantization). */
  def embedDouble(cfg: AeConfig, lay: ParamLayout, p: Array[Double],
      catCodes: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int] = null, nsCont: Array[Double] = null): Array[Double] = {
    val t = cfg.seqLen; val tE = cfg.tEff; val d = cfg.dModel
    val embDims = cfg.embDims
    val x0 = DenseMatrix.zeros[Double](t, cfg.inDim)
    for (i <- 0 until t) {
      var off = 0
      for (c <- cfg.vocabSizes.indices) {
        val table = lay.mat(s"emb$c", p)
        val code = math.min(math.max(catCodes(i)(c), 0), table.rows - 1)
        x0(i, off until off + embDims(c)) := table(code, ::)
        off += embDims(c)
      }
      for (c <- 0 until cfg.nCont) x0(i, embDims.sum + c) = cont(i)(c)
    }
    var h = DenseMatrix.zeros[Double](tE, d)
    locally {
      val m = x0 * lay.mat("linSeq_w", p)
      m(*, ::) :+= lay.vec("linSeq_b", p)
      h(0 until t, ::) := m
      if (cfg.hasNonSeq) {
        val nsEmbDims = cfg.nsEmbDims
        val v = DenseVector.zeros[Double](cfg.nsInDim)
        var off = 0
        for (c <- cfg.nonSeqVocabSizes.indices) {
          val table = lay.mat(s"nsEmb$c", p)
          val code = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), table.rows - 1)
          v(off until off + nsEmbDims(c)) := table(code, ::).t
          off += nsEmbDims(c)
        }
        for (c <- 0 until cfg.nNonSeqCont)
          v(nsEmbDims.sum + c) = if (nsCont != null) nsCont(c) else 0.0
        h(t, ::) := ((lay.mat("linNonSeq_w", p).t * v) + lay.vec("linNonSeq_b", p)).t
      }
    }
    h :*= math.sqrt(d.toDouble)
    h += lay.mat("pos", p)
    for (l <- 0 until cfg.layers) {
      def m(n: String) = lay.mat(s"l${l}_${n}_w", p)
      def b(n: String) = lay.vec(s"l${l}_${n}_b", p)
      val q = h * m("wq"); q(*, ::) :+= b("wq")
      val k = h * m("wk"); k(*, ::) :+= b("wk")
      val v = h * m("wv"); v(*, ::) :+= b("wv")
      val hd = cfg.headDim
      val ctx = DenseMatrix.zeros[Double](tE, d)
      for (hh <- 0 until cfg.heads) {
        val sl = hh * hd until (hh + 1) * hd
        val a = softmaxRows((q(::, sl) * k(::, sl).t) / math.sqrt(hd.toDouble))
        ctx(::, sl) := a * v(::, sl)
      }
      val attnOut = ctx * m("wo"); attnOut(*, ::) :+= b("wo")
      val (res1, _, _) = lnFwd(h + attnOut,
        lay.vec(s"l${l}_ln1_g", p), lay.vec(s"l${l}_ln1_b", p))
      val ffPre = res1 * m("ff1"); ffPre(*, ::) :+= b("ff1")
      val ff = relu(ffPre) * m("ff2"); ff(*, ::) :+= b("ff2")
      val (out, _, _) = lnFwd(res1 + ff,
        lay.vec(s"l${l}_ln2_g", p), lay.vec(s"l${l}_ln2_b", p))
      h = out
    }
    val out = new Array[Double](tE * d)
    var idx = 0
    for (i <- 0 until tE; j <- 0 until d) { out(idx) = h(i, j); idx += 1 }
    out
  }
}
