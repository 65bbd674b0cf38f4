package graft.nn

import breeze.linalg.{DenseMatrix, DenseVector, sum}
import breeze.numerics.{sigmoid, tanh}

/**
 * Trainable LSTM encoder (SURVEY.md §2.I11/I12 training path): forward +
 * full BPTT backward over the flat-parameter scheme shared with
 * [[TransformerAE]], so the same broadcast+treeAggregate harness trains
 * either architecture.
 *
 * Objectives, selected by `decoder`:
 *  - "none": per-timestep reconstruction heads on the LSTM outputs (CE per
 *    cat col + MSE cont) plus an MSE head on the pooled ([lstm_to_dense
 *    (h_T), context] -> fuse) embedding — the denoising objective used
 *    pre-round-2.
 *  - "teacher" (I15, AutoencoderTeacherTraining, model_wrapper.py:158-214):
 *    a one-layer LSTM decoder (I13, lstm_decoder.py:8-57) is initialized
 *    with hidden = (fused embedding, c_T) — the reference's unified encoder
 *    returns exactly that pair (unified_encoder.py:271) — and fed the
 *    SHIFTED ground-truth inputs ([0; x_{0..T-2}], :183-188); per-step heads
 *    out_cont = ReLU(linear(tanh(h))) and per-cat logits reconstruct step i.
 *  - "auto" (I14, LSTMAutoencoder, model_wrapper.py:28-120): same decoder,
 *    but step i's input is the PREVIOUS PREDICTION — argmax cat codes
 *    re-embedded through the encoder's embedding tables ++ out_cont
 *    (:74-86). Gradients flow through the out_cont input chain and the
 *    re-embedded predicted codes' table rows (argmax itself is constant).
 *    With non-seq features present, "auto" also decodes them from the
 *    fused embedding (mlp_non_seq_cont / mlp_non_seq_cat_list heads on hn,
 *    model_wrapper.py:55-58; losses :114-118).
 *  - "churn" (I16 fine-tune mode, ChurnModel, model_wrapper.py:123-155):
 *    a sigmoid head on the fused embedding, BCE against `label`, gradients
 *    flowing end-to-end through the UNFROZEN encoder (:284-316 is the
 *    transformer twin). The frozen-encoder variant stays
 *    [[graft.analyze.Segmentation.churnHead]].
 *
 * In decoder modes the hidden-state init makes attention/fuse trainable
 * through the decoder (h0 = fused embedding), so the pooled head is
 * dropped; outDim must equal hidden. Serving embedding = the fused vector
 * in every mode (spark/score.py:60-61).
 *
 * Non-seq features (I11, unified_encoder.py:142-146, 221-227, 262-263):
 * ns cat embeddings -> DenseBnDropout MLP; the MLP output ++ ns cont is
 * CONCATENATED in front of [lstm_to_dense(h_T), context] before the fuse
 * linear. The BatchNorm inside the MLP normalizes with its RUNNING
 * statistics (init mean 0 / var 1) in this per-example gradient scheme —
 * batch statistics are undefined at batch size 1 under treeAggregate —
 * with gamma/beta trained. Serving (`embedOnly = true`) runs this same
 * forward, so trained and scored paths agree by construction. The
 * reference's training-mode batch statistics are not modelled.
 *
 * Bahdanau attention follows attention_mechanisms.py:102-110 exactly by
 * default: fc_encoder = Linear(D*h -> h, bias=False) and attnHidden =
 * Linear(h -> 1) WITH its scalar bias (the bias is softmax-shift-invariant
 * so its gradient is identically zero, but it exists for parameter-count
 * parity — see [[graft.analyze.Capacity]]). `attnDim = 0` selects the
 * faithful score width (= hidden); a positive attnDim plus
 * `attnInputBias = true` opts into the generalized form kept from earlier
 * rounds. `attnHeads > 1` selects the I5 MHA wrapper instead
 * (unified_encoder.py:186-192; attention_mechanisms.py:63-99: per-head
 * softmax(QK/sqrt(hd))V, residual + layernorm, sum-over-time pooling).
 *
 * The cell, the attention wrapper's attention and layer norm, the
 * softmax-CE heads, embedding lookup and dropout are the kernels of
 * [[Layers]] that [[TransformerAE]] composes too. Encoder and decoder run
 * the one [[Layers.LstmCell]]; serving steps it without filling the BPTT
 * cache.
 */
final case class LstmAeConfig(hidden: Int, outDim: Int, attnDim: Int,
    seqLen: Int, vocabSizes: Seq[Int], nCont: Int, seed: Long = 42L,
    decoder: String = "none",
    numLayers: Int = 1, bidirectional: Boolean = false,
    dropout: Double = 0.0, // inter-layer, nn.LSTM semantics (active iff numLayers > 1)
    attnInputBias: Boolean = false, // generalized Bahdanau (adds ab1)
    nonSeqVocabSizes: Seq[Int] = Nil, nNonSeqCont: Int = 0,
    nsMlpDim: Int = 16, // emb_lin_layer_sizes_non_seq[-1]
    attnHeads: Int = 1, // > 1 selects the I5 MHA wrapper over Bahdanau
                        // (unified_encoder.py:186-192)
    attnDropout: Double = 0.1, // the MHA wrapper's OWN dropout rate —
                        // the reference hardcodes
                        // MultiHeadAttentionLSTMWrapper(dropout=0.1)
                        // (unified_encoder.py:186-192), independent of the
                        // inter-layer LSTM `dropout` above
    // I1 pretrained vectors (see AeModelConfig)
    pretrainedEmb: Map[Int, Array[Array[Double]]] = Map.empty,
    freezePretrained: Boolean = true) extends AeModelConfig[LstmAeConfig] {
  require(Seq("none", "teacher", "auto", "churn").contains(decoder))
  require(attnHeads >= 1 && (attnHeads == 1 || dirs * hidden % attnHeads == 0),
    "attention heads must divide D*hidden")
  require(!hasDecoder || outDim == hidden,
    "decoder hidden init = fused embedding (unified_encoder.py:271) needs outDim == hidden")
  require(numLayers >= 1)
  require(dropout >= 0.0 && dropout < 1.0)
  require(attnDropout >= 0.0 && attnDropout < 1.0)
  def hasDecoder: Boolean = decoder == "teacher" || decoder == "auto"
  /** Bahdanau score width; 0 = reference-faithful (= hidden,
    * attention_mechanisms.py:109). */
  def attnW: Int = if (attnDim <= 0) hidden else attnDim
  /** emb_lin_layer_non_seq exists iff there are ns cat embeddings
    * (unified_encoder.py:142-146). */
  def hasNsMlp: Boolean = nonSeqVocabSizes.nonEmpty
  /** Width of the ns slice prepended to the fuse input. */
  def nsFinal: Int = if (hasNsMlp) nsMlpDim else 0
  def nsWidth: Int = nsFinal + nNonSeqCont
  /** I16 fine-tune mode: BCE sigmoid head, no reconstruction decoder. */
  def churnHead: Boolean = decoder == "churn"
  def withoutDropout: LstmAeConfig = copy(dropout = 0.0, attnDropout = 0.0)
  /** nn.LSTM num_directions (multi_layer_lstm.py:30). */
  def dirs: Int = if (bidirectional) 2 else 1
  /** Width of the per-timestep layer output: [h_fwd ; h_bwd] when bidir. */
  def outWidth: Int = dirs * hidden

  /** Cell parameter-name suffix; layer-0 forward keeps the legacy bare
    * names so single-layer unidirectional layouts are unchanged. */
  def cellSuffix(layer: Int, reverse: Boolean): String =
    if (layer == 0 && !reverse) "" else s"_l$layer${if (reverse) "r" else ""}"

  def layout: ParamLayout = {
    val specs = Seq.newBuilder[ParamSpec]
    vocabSizes.zip(embDims).zipWithIndex.foreach { case ((v, d), i) =>
      specs += ParamSpec(s"emb$i", v + 1, d)
    }
    // stacked (+bidirectional) cells (multi_layer_lstm.py:28-30): layer 0
    // reads the embedded input, layer l>0 reads the D*h-wide layer output
    for (l <- 0 until numLayers; d <- 0 until dirs) {
      val suf = cellSuffix(l, d == 1)
      val lin = if (l == 0) inDim else outWidth
      for (g <- Seq("i", "f", "g", "o")) {
        specs += ParamSpec(s"w$g$suf", lin, hidden)
        specs += ParamSpec(s"u$g$suf", hidden, hidden)
        specs += ParamSpec(s"b$g$suf", 1, hidden)
      }
    }
    // attention reads the top layer's D*h-wide outputs; the reference
    // selects ONE mechanism (unified_encoder.py:186-192): heads == 1 ->
    // Bahdanau, heads > 1 -> the I5 MHA wrapper with residual + layernorm
    // + sum-over-time pooling (attention_mechanisms.py:63-99).
    // WIDTH NOTE — deliberate generalization, not line-level parity: the
    // reference constructs the wrapper with d_model = hidden_size
    // (unified_encoder.py:190-192) even though the LSTM outputs are
    // D*hidden wide, so bidirectional+MHA would CRASH there on the q/k/v
    // matmul. We size the projections oW = D*hidden (matching the actual
    // input), which is identical to the reference when D = 1 and the
    // working extension when D = 2 — parameter-parity comparisons must
    // account for the doubled widths in the bidirectional case.
    if (attnHeads > 1) {
      for (n <- Seq("mq", "mk", "mv", "mo")) {
        specs += ParamSpec(s"${n}_w", outWidth, outWidth)
        specs += ParamSpec(s"${n}_b", 1, outWidth)
      }
      specs += ParamSpec("mln_g", 1, outWidth)
      specs += ParamSpec("mln_b", 1, outWidth)
    } else {
      // Faithful Bahdanau widths (attention_mechanisms.py:108-110):
      // fc_encoder = Linear(D*h -> attnW, bias only when attnInputBias) and
      // attnHidden = Linear(attnW -> 1) WITH its scalar bias `avb`
      // (softmax-shift-invariant but counted, for parameter parity)
      specs += ParamSpec("aw1", outWidth, attnW)
      if (attnInputBias) specs += ParamSpec("ab1", 1, attnW)
      specs += ParamSpec("av", 1, attnW)
      specs += ParamSpec("avb", 1, 1)
    }
    // lin_layer_lstm_to_dense (multi_layer_lstm.py:34-36,55-60): [h_T fwd ;
    // h_T bwd] of the LAST layer is projected D*h -> h before the fuse
    // concat [proj(h_T), context]
    specs += ParamSpec("l2d_w", outWidth, hidden)
    specs += ParamSpec("l2d_b", 1, hidden)
    // non-seq branch (unified_encoder.py:142-146,257-266): ns cat embedding
    // tables -> one DenseBnDropout layer (Linear+ReLU+BN affine, running
    // stats frozen at 0/1 in this per-example scheme, gamma/beta trained);
    // its output ++ ns cont is PREPENDED to the fuse input
    nonSeqVocabSizes.zip(nsEmbDims).zipWithIndex.foreach { case ((v, d), i) =>
      specs += ParamSpec(s"nsemb$i", v + 1, d)
    }
    if (hasNsMlp) {
      specs += ParamSpec("ns_w", nsEmbDims.sum, nsMlpDim)
      specs += ParamSpec("ns_b", 1, nsMlpDim)
      specs += ParamSpec("ns_g", 1, nsMlpDim)
      specs += ParamSpec("ns_beta", 1, nsMlpDim)
    }
    specs += ParamSpec("fuse_w", nsWidth + hidden + outWidth, outDim)
    specs += ParamSpec("fuse_b", 1, outDim)
    if (churnHead) {
      // I16 ChurnModel head (model_wrapper.py:125-133): mlp on the fused
      // embedding; BCE-with-logits against `label`, encoder unfrozen
      specs += ParamSpec("churn_w", outDim, 1)
      specs += ParamSpec("churn_b", 1, 1)
    } else if (hasDecoder) {
      // I13 decoder cell + heads (lstm_decoder.py:27-33)
      for (g <- Seq("i", "f", "g", "o")) {
        specs += ParamSpec(s"dw$g", inDim, hidden)
        specs += ParamSpec(s"du$g", hidden, hidden)
        specs += ParamSpec(s"db$g", 1, hidden)
      }
      specs += ParamSpec("decCont_w", hidden, math.max(nCont, 1))
      specs += ParamSpec("decCont_b", 1, math.max(nCont, 1))
      vocabSizes.zipWithIndex.foreach { case (v, i) =>
        specs += ParamSpec(s"decCat${i}_w", hidden, v + 1)
        specs += ParamSpec(s"decCat${i}_b", 1, v + 1)
      }
      if (decoder == "auto") {
        // auto mode also decodes the non-seq features from the fused
        // embedding (mlp_non_seq_cont / mlp_non_seq_cat_list on hn,
        // model_wrapper.py:55-58)
        if (nNonSeqCont > 0) {
          specs += ParamSpec("nsDecCont_w", outDim, nNonSeqCont)
          specs += ParamSpec("nsDecCont_b", 1, nNonSeqCont)
        }
        nonSeqVocabSizes.zipWithIndex.foreach { case (v, i) =>
          specs += ParamSpec(s"nsDecCat${i}_w", outDim, v + 1)
          specs += ParamSpec(s"nsDecCat${i}_b", 1, v + 1)
        }
      }
    } else {
      vocabSizes.zipWithIndex.foreach { case (v, i) =>
        specs += ParamSpec(s"headCat${i}_w", outWidth, v + 1)
        specs += ParamSpec(s"headCat${i}_b", 1, v + 1)
      }
      specs += ParamSpec("headCont_w", outWidth, math.max(nCont, 1))
      specs += ParamSpec("headCont_b", 1, math.max(nCont, 1))
      specs += ParamSpec("headPool_w", outDim, math.max(nCont, 1))
      specs += ParamSpec("headPool_b", 1, math.max(nCont, 1))
    }
    new ParamLayout(specs.result())
  }

  private val GateBias = "(d?)b([ifgo])(_l\\d+r?)?".r

  /** Forget-gate biases 1, other biases 0, BatchNorm / layer-norm gains 1. */
  protected def constInit(name: String): Option[Double] = name match {
    case GateBias(_, "f", _) => Some(1.0)
    case GateBias(_, _, _) => Some(0.0)
    case "ns_g" | "mln_g" => Some(1.0)
    case n if n.endsWith("_b") || n == "ab1" || n == "avb" || n == "ns_beta" => Some(0.0)
    case _ => None
  }
}

object LstmAE {
  import Layers._

  /** Forward one example; when `grad` is non-null also runs the backward and
    * accumulates parameter gradients. `grad == null` evaluates the loss
    * forward-only; `embedOnly = true` additionally skips the decoder/head
    * forward and returns (0, embedding) straight after the encoder — the
    * serving path, which keeps no BPTT caches and applies no dropout.
    * Returns (loss, pooledEmbedding). */
  def lossGradEmbed(cfg: LstmAeConfig, lay: ParamLayout, p: Array[Double],
      grad: Array[Double], catCodes: Array[Array[Int]],
      cont: Array[Array[Double]],
      nsCat: Array[Int] = null, nsCont: Array[Double] = null,
      label: Double = 0.0,
      embedOnly: Boolean = false,
      dropSeed: Long = 0L): (Double, Array[Double]) = {
    val t = cfg.seqLen
    val h = cfg.hidden
    val nCat = cfg.vocabSizes.size
    val embSum = cfg.embDims.sum
    val doGrad = grad != null
    val P = new Params(lay, p, grad)
    // inter-layer inverted dropout (nn.LSTM dropout, multi_layer_lstm.py:28-29:
    // applied between stacked layers only, never after the top layer, never
    // at serving). The MHA wrapper's dropouts run at their OWN
    // reference-hardcoded rate (0.1), not the inter-layer rate; both draw
    // from the one fixed-order dropSeed RNG, so the backward reuses exactly
    // the forward's masks.
    val pDrop = if (embedOnly) 0.0 else cfg.dropout
    val pAttnDrop = if (embedOnly) 0.0 else cfg.attnDropout
    val drop = new Dropout(dropSeed)
    val embTables = P.tables("emb", nCat, p)
    val x0 = seqInput(embTables, catCodes, cont, t, cfg.nCont)

    // ---- LSTM forward --------------------------------------------------
    // Stacked (+bidirectional) cells, nn.LSTM semantics (multi_layer_
    // lstm.py:28-30): layer l reads layer l-1's per-timestep output
    // (width D*h when bidir: [h_fwd_t ; h_bwd_t]). Training keeps caches in
    // PROCESSING order s (the reverse direction processes i = t-1-s).
    val L = cfg.numLayers
    val D = cfg.dirs
    val oW = cfg.outWidth
    val cells = Array.tabulate(L, D)((l, d) => new LstmCell(P, "", cfg.cellSuffix(l, d == 1)))
    val caches = if (embedOnly) null else Array.fill(L, D)(new CellCache(t, h))
    val layerIn = new Array[M](L + 1)
    layerIn(0) = x0
    // mask l sits between layer l and l+1 (nn.LSTM applies no dropout
    // after the top layer); layerIn stores the MASKED activations
    val betweenMask = new Array[M](math.max(L - 1, 0))
    val hT = new Array[V](D) // final states of the top layer, fwd then bwd
    var cT: V = null // final c of the top forward cell
    for (l <- 0 until L) {
      val outM = DenseMatrix.zeros[Double](t, oW)
      for (d <- 0 until D) {
        var hv = DenseVector.zeros[Double](h)
        var cv = DenseVector.zeros[Double](h)
        for (s <- 0 until t) {
          val i = if (d == 0) s else t - 1 - s
          val (hn, cn) = cells(l)(d).step(layerIn(l)(i, ::).t, hv, cv,
            if (caches == null) null else caches(l)(d), s)
          hv = hn; cv = cn
          outM(i, d * h until (d + 1) * h) := hv.t
        }
        hT(d) = hv
        if (d == 0) cT = cv
      }
      layerIn(l + 1) =
        if (l < L - 1) { betweenMask(l) = drop.mat(pDrop, t, oW); masked(outM, betweenMask(l)) }
        else outM
    }
    val outputs = layerIn(L) // T x D*h (top layer)

    // ---- attention (Bahdanau or I5 MHA) + fuse ------------------------
    val useMha = cfg.attnHeads > 1
    // MHA wrapper (attention_mechanisms.py:63-99): per-head
    // softmax(QK/sqrt(hd))V, residual + layernorm, SUM-over-time pooling;
    // training applies its TWO dropouts (:64 on the attention weights
    // before @V, :95 on the attention output before the residual add)
    var mha: Attention = null
    var mhaMask: M = null
    var mhaNorm: LayerNorm = null
    // Bahdanau caches
    var preT: M = null
    var attn: V = null
    val context: V =
      if (useMha) {
        mha = new Attention(P, "m", cfg.attnHeads, outputs, outputs, causal = false,
          drop, pAttnDrop)
        mhaMask = drop.mat(pAttnDrop, t, oW)
        mhaNorm = new LayerNorm(P, "mln", outputs + masked(mha.out, mhaMask))
        val pooled = DenseVector.zeros[Double](oW)
        for (i <- 0 until t) pooled :+= mhaNorm.out(i, ::).t
        pooled
      } else {
        // faithful Bahdanau widths (attention_mechanisms.py:108-110): W1 is
        // D*h -> attnW with the input bias only in the opt-in generalized
        // form; the score linear keeps its scalar bias avb
        // (softmax-shift-invariant)
        val pre = DenseMatrix.zeros[Double](t, cfg.attnW)
        for (i <- 0 until t) {
          val v = P.w("aw1").t * outputs(i, ::).t
          if (cfg.attnInputBias) v :+= P.v("ab1")
          pre(i, ::) := v.t
        }
        preT = tanh(pre)
        val avb = P.v("avb")(0)
        attn = DenseVector.tabulate(t)(i => sum(P.v("av") *:* preT(i, ::).t) + avb)
        softmax(attn)
        val ctx = DenseVector.zeros[Double](oW)
        for (i <- 0 until t) ctx :+= outputs(i, ::).t * attn(i)
        ctx
      }
    // final states of the LAST layer, fwd then bwd (multi_layer_lstm.py:55-58)
    val hNcat = DenseVector.vertcat(hT.toIndexedSeq: _*)
    // ---- non-seq branch (unified_encoder.py:142-146,262-263) ----------
    // ns cat embeddings -> Linear+ReLU+BN affine (running stats 0/1, see
    // class doc) ; [mlp(ns), ns cont] is PREPENDED to the fuse input
    val bnScale = 1.0 / math.sqrt(1.0 + 1e-5) // (x-0)/sqrt(1+eps)
    var nsIn: V = null
    var nsHPre: V = null
    val nsPart = DenseVector.zeros[Double](cfg.nsWidth)
    if (cfg.hasNsMlp) {
      nsIn = DenseVector.zeros[Double](cfg.nsEmbDims.sum)
      lookup(P.tables("nsemb", cfg.nonSeqVocabSizes.size, p), nsCat, nsIn)
      nsHPre = P.linear("ns", nsIn)
      val hNorm = nsHPre.map(v => math.max(v, 0.0) * bnScale)
      nsPart(0 until cfg.nsFinal) := (hNorm *:* P.v("ns_g")) + P.v("ns_beta")
    }
    for (c <- 0 until cfg.nNonSeqCont)
      nsPart(cfg.nsFinal + c) = if (nsCont != null) nsCont(c) else 0.0
    // fin_input order matches the reference: [ns, lstm_to_dense(h_T), context]
    // (unified_encoder.py:257-262, multi_layer_lstm.py:55-63)
    val fused = DenseVector.vertcat(nsPart, P.linear("l2d", hNcat), context)
    val eLin = P.linear("fuse", fused)
    val embedding = eLin.map(v => math.max(v, 0.0)) // ReLU
    if (embedOnly) return (0.0, embedding.toArray)

    // ---- heads + loss --------------------------------------------------
    var loss = 0.0
    var dOut = DenseMatrix.zeros[Double](t, oW)
    val dEmb = DenseVector.zeros[Double](cfg.outDim)
    var dcSeed = DenseVector.zeros[Double](h) // decoder dC_0 -> encoder c_T

    if (cfg.hasDecoder) {
      // ---- I13/I14/I15 decoder: hidden init (fused embedding, c_T),
      // per-step heads out_cont = ReLU(lin(tanh(h))) + cat logits ---------
      val teacher = cfg.decoder == "teacher"
      val cell = new LstmCell(P, "d", "")
      val dec = new CellCache(t, h)
      dec.hs(0, ::) := embedding.t
      dec.cs(0, ::) := cT.t
      val decIn = DenseMatrix.zeros[Double](t, cfg.inDim)
      val dVec = DenseMatrix.zeros[Double](t, h) // tanh(h_i), lstm_decoder.py:47
      val outCPre = DenseMatrix.zeros[Double](t, math.max(cfg.nCont, 1))
      val outC = DenseMatrix.zeros[Double](t, math.max(cfg.nCont, 1))
      val predCodes = Array.ofDim[Int](t, math.max(nCat, 1))
      val dLogits = Array.ofDim[V](t, math.max(nCat, 1))
      for (i <- 0 until t) {
        val x = decIn(i, ::).t
        if (i > 0) {
          // teacher: shifted ground truth (model_wrapper.py:183-188);
          // auto: previous prediction re-embedded (model_wrapper.py:74-86)
          lookup(embTables, if (teacher) catCodes(i - 1) else predCodes(i - 1), x)
          for (c <- 0 until cfg.nCont)
            x(embSum + c) = if (teacher) cont(i - 1)(c) else outC(i - 1, c)
        }
        val (hn, _) = cell.step(x, dec.hs(i, ::).t, dec.cs(i, ::).t, dec, i)
        val dv = tanh(hn)
        dVec(i, ::) := dv.t
        for (c <- 0 until nCat) {
          val z = P.linear(s"decCat$c", dv)
          predCodes(i)(c) = breeze.linalg.argmax(z)
          loss += softmaxCe(z, code(catCodes(i), c, z.length), t) / t
          dLogits(i)(c) = z
        }
        if (cfg.nCont > 0) {
          val pre = P.linear("decCont", dv)
          outCPre(i, ::) := pre.t
          val oc = pre.map(v => math.max(v, 0.0)) // out_cont = relu(lin(d))
          outC(i, ::) := oc.t
          val err = oc - DenseVector.tabulate(cfg.nCont)(j => cont(i)(j))
          loss += sum(err *:* err) / (2.0 * t)
        }
      }
      // auto mode: decode the non-seq features from the fused embedding
      // (model_wrapper.py:55-58; losses :114-118) — MSE on ns cont, CE per
      // ns cat; gradients feed dEmb alongside the decoder's h_0 seed
      if (cfg.decoder == "auto") {
        if (cfg.nNonSeqCont > 0) {
          val errNs = P.linear("nsDecCont", embedding) - DenseVector.tabulate(cfg.nNonSeqCont)(j =>
            if (nsCont != null) nsCont(j) else 0.0)
          loss += sum(errNs *:* errNs) / 2.0
          if (doGrad) dEmb :+= P.linearBwd("nsDecCont", embedding, errNs)
        }
        for (c <- cfg.nonSeqVocabSizes.indices) {
          val z = P.linear(s"nsDecCat$c", embedding)
          loss += softmaxCe(z, code(nsCat, c, z.length), 1.0)
          if (doGrad) dEmb :+= P.linearBwd(s"nsDecCat$c", embedding, z)
        }
      }
      if (!doGrad) return (loss, embedding.toArray)
      // ---- decoder backward (reverse BPTT, input-chain routing) --------
      val embG = P.tables("emb", nCat, grad)
      var ddhNext = DenseVector.zeros[Double](h)
      var ddcNext = DenseVector.zeros[Double](h)
      val dOutCExtra = DenseMatrix.zeros[Double](t, math.max(cfg.nCont, 1))
      for (i <- (t - 1) to 0 by -1) {
        val dv = dVec(i, ::).t
        val dD = DenseVector.zeros[Double](h)
        for (c <- 0 until nCat) dD :+= P.linearBwd(s"decCat$c", dv, dLogits(i)(c))
        if (cfg.nCont > 0) {
          val err = DenseVector.tabulate(cfg.nCont)(j => outC(i, j) - cont(i)(j))
          val dOc = (err / t.toDouble) + dOutCExtra(i, ::).t
          val dPre = DenseVector.tabulate(cfg.nCont)(j =>
            if (outCPre(i, j) > 0) dOc(j) else 0.0)
          dD :+= P.linearBwd("decCont", dv, dPre)
        }
        val (dX, dhp, dcp) = cell.stepBwd(dec, i, decIn(i, ::).t,
          (dD *:* (1.0 - (dv *:* dv))) + ddhNext, ddcNext)
        ddhNext = dhp
        ddcNext = dcp
        if (i > 0) {
          // route input grad to its producers: embedding-table rows (the
          // looked-up — teacher truth / auto argmax — codes) and, in auto
          // mode, the previous step's out_cont through its ReLU
          scatter(embG, if (teacher) catCodes(i - 1) else predCodes(i - 1), dX)
          if (!teacher)
            for (c <- 0 until cfg.nCont) dOutCExtra(i - 1, c) += dX(embSum + c)
        }
      }
      // seeds into the encoder: h_0 = fused embedding, c_0 = encoder c_T
      dEmb :+= ddhNext
      dcSeed = ddcNext
    } else if (cfg.churnHead) {
      // ---- I16 churn fine-tune: BCE-with-logits sigmoid head on the
      // fused embedding, gradients through the UNFROZEN encoder
      // (ChurnModel.run, model_wrapper.py:140-155) ---------------------
      val wc = P.w("churn_w")(::, 0)
      val z = sum(wc *:* embedding) + P.v("churn_b")(0)
      // numerically stable: max(z,0) - z*y + log(1 + exp(-|z|))
      loss += math.max(z, 0.0) - z * label + math.log1p(math.exp(-math.abs(z)))
      if (doGrad) {
        val dZ = sigmoid(z) - label
        P.gw("churn_w")(::, 0) :+= embedding * dZ
        P.gv("churn_b")(0) += dZ
        dEmb :+= wc * dZ
      }
    } else {
      for (c <- 0 until nCat; i <- 0 until t) {
        val x = outputs(i, ::).t
        val z = P.linear(s"headCat$c", x)
        loss += softmaxCe(z, code(catCodes(i), c, z.length), t) / t
        if (doGrad) dOut(i, ::) :+= P.linearBwd(s"headCat$c", x, z).t
      }
      if (cfg.nCont > 0) {
        for (i <- 0 until t) {
          val x = outputs(i, ::).t
          val err = P.linear("headCont", x) - DenseVector.tabulate(cfg.nCont)(j => cont(i)(j))
          loss += sum(err *:* err) / (2.0 * t)
          if (doGrad) dOut(i, ::) :+= P.linearBwd("headCont", x, err / t.toDouble).t
        }
        // pooled head: reconstruct the mean cont vector from the embedding
        val meanCont = DenseVector.tabulate(cfg.nCont)(j =>
          (0 until t).map(i => cont(i)(j)).sum / t)
        val errP = P.linear("headPool", embedding) - meanCont
        loss += sum(errP *:* errP) / 2.0
        if (doGrad) dEmb :+= P.linearBwd("headPool", embedding, errP)
      }
    }
    if (!doGrad) return (loss, embedding.toArray)

    // ---- backward: fuse + non-seq + attention -------------------------
    val dELin = dEmb *:* eLin.map(v => if (v > 0) 1.0 else 0.0) // ReLU'
    val dFused = P.linearBwd("fuse", fused, dELin)
    val nsW = cfg.nsWidth
    val dHProj = dFused(nsW until nsW + h)
    val dContext = dFused(nsW + h until nsW + h + oW)
    if (cfg.hasNsMlp) {
      // through the BN affine (gamma * hNorm + beta), the frozen-stat
      // normalize, ReLU, the ns linear, and the ns embedding-table rows
      val dBn = dFused(0 until cfg.nsFinal)
      val hNorm = nsHPre.map(v => math.max(v, 0.0) * bnScale)
      P.gv("ns_g") :+= dBn *:* hNorm
      P.gv("ns_beta") :+= dBn
      val dHPre = DenseVector.tabulate(cfg.nsFinal)(j =>
        if (nsHPre(j) > 0) dBn(j) * P.v("ns_g")(j) * bnScale else 0.0)
      scatter(P.tables("nsemb", cfg.nonSeqVocabSizes.size, grad), nsCat,
        P.linearBwd("ns", nsIn, dHPre))
    }
    // grad of the concatenated final states [h_T fwd ; h_T bwd]; seeds each
    // direction's BPTT at its last processing step
    val dHNcat = P.linearBwd("l2d", hNcat, dHProj)
    if (useMha) {
      // pooled = sum_i normed_i, so every row of the layer norm sees dContext
      val dRes = mhaNorm.backward(DenseMatrix.tabulate(t, oW)((_, j) => dContext(j)))
      dOut = mha.backward(masked(dRes, mhaMask), dOut + dRes)._1
    } else {
      // context = sum a_i out_i
      val dAttn = DenseVector.tabulate(t)(i => sum(dContext *:* outputs(i, ::).t))
      for (i <- 0 until t) dOut(i, ::) :+= (dContext * attn(i)).t
      val dScores = softmaxBwd(attn, dAttn)
      // scores_i = av . tanh(pre_i) + avb (the avb grad is sum dScores = 0
      // by softmax shift invariance; accumulated anyway for truthfulness)
      P.gv("avb")(0) += sum(dScores)
      for (i <- 0 until t) {
        val dPreT = P.v("av") * dScores(i)
        P.gv("av") :+= preT(i, ::).t * dScores(i)
        val dPre = dPreT *:* (1.0 - (preT(i, ::).t *:* preT(i, ::).t))
        P.gw("aw1") :+= outputs(i, ::).t * dPre.t
        if (cfg.attnInputBias) P.gv("ab1") :+= dPre
        dOut(i, ::) :+= (P.w("aw1") * dPre).t
      }
    }

    // ---- BPTT: top layer down, each direction in reverse processing
    // order; a layer's input grads become the layer below's output grads --
    var dOutLayer = dOut
    for (l <- (L - 1) to 0 by -1) {
      val dIn = DenseMatrix.zeros[Double](t, if (l == 0) cfg.inDim else oW)
      for (d <- 0 until D) {
        var dhNext =
          if (l == L - 1) dHNcat(d * h until (d + 1) * h).copy
          else DenseVector.zeros[Double](h)
        var dcNext = // decoder c_0 = encoder top-fwd c_T (zero otherwise)
          if (l == L - 1 && d == 0) dcSeed else DenseVector.zeros[Double](h)
        for (s <- (t - 1) to 0 by -1) {
          val i = if (d == 0) s else t - 1 - s
          val (dx, dhp, dcp) = cells(l)(d).stepBwd(caches(l)(d), s, layerIn(l)(i, ::).t,
            dOutLayer(i, d * h until (d + 1) * h).t + dhNext, dcNext)
          dIn(i, ::) :+= dx.t
          dhNext = dhp
          dcNext = dcp
        }
      }
      // layer l consumed the MASKED output of layer l-1: route through mask
      dOutLayer = if (l > 0) masked(dIn, betweenMask(l - 1)) else dIn
    }
    seqScatter(P.tables("emb", nCat, grad), catCodes, dOutLayer, t)
    (loss, embedding.toArray)
  }
}
