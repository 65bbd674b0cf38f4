package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.nn.{LstmAE, LstmAeConfig}

/** Gradient check for the LSTM training path (BPTT + attention backward). */
class LstmAutodiffSpec extends AnyFunSuite {

  private val cfg = LstmAeConfig(hidden = 5, outDim = 4, attnDim = 3,
    seqLen = 3, vocabSizes = Seq(4), nCont = 2, seed = 17L)
  private val lay = cfg.layout
  private val cat = Array(Array(1), Array(3), Array(2))
  private val cont = Array(Array(0.3, -0.1), Array(0.8, 0.2), Array(-0.5, 0.4))

  test("BPTT gradients match finite differences on every parameter block") {
    val p = cfg.initParams()
    val grad = new Array[Double](lay.totalSize)
    val (loss0, emb) = LstmAE.lossGradEmbed(cfg, lay, p, grad, cat, cont)
    assert(!loss0.isNaN && loss0 > 0 && emb.length == 4)

    val eps = 1e-6
    val rng = new scala.util.Random(5)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    lay.specs.foreach { s =>
      val (off, _) = lay.offsets(s.name)
      val picks = Seq.fill(math.min(4, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = LstmAE.lossGradEmbed(cfg, lay, p, null, cat, cont)._1
        p(idx) = orig - eps
        val lm = LstmAE.lossGradEmbed(cfg, lay, p, null, cat, cont)._1
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        if (rel > 1e-4)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    assert(failures.isEmpty, s"mismatches:\n${failures.mkString("\n")}")
  }

  private def fdCheck(c: LstmAeConfig, picksPerBlock: Int = 3,
      nsCat: Array[Int] = null, nsCont: Array[Double] = null,
      label: Double = 0.0): Seq[String] = {
    val l = c.layout
    val p = c.initParams()
    val grad = new Array[Double](l.totalSize)
    val (loss0, emb) = LstmAE.lossGradEmbed(c, l, p, grad, cat, cont,
      nsCat, nsCont, label)
    assert(!loss0.isNaN && loss0 > 0 && emb.length == c.outDim)
    val eps = 1e-6
    val rng = new scala.util.Random(9)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    l.specs.foreach { s =>
      val (off, _) = l.offsets(s.name)
      val picks = Seq.fill(math.min(picksPerBlock, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, nsCat, nsCont, label)._1
        p(idx) = orig - eps
        val lm = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, nsCat, nsCont, label)._1
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        // abs floor: FD cancellation noise at eps=1e-6 dominates gradients
        // this small on deep chains; such a disagreement is not a bug signal
        if (rel > 1e-4 && math.abs(numeric - analytic) > 1e-9)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    failures.toSeq
  }

  test("I12 multi-layer + bidirectional grid: FD gradients match") {
    // every (layers, bidir) combination beyond the default, including with
    // a decoder riding on the top fwd cell's c_T
    for ((nl, bd) <- Seq((2, false), (1, true), (2, true), (3, true))) {
      val f = fdCheck(cfg.copy(numLayers = nl, bidirectional = bd, seed = 41L + nl))
      assert(f.isEmpty, s"layers=$nl bidir=$bd mismatches:\n${f.mkString("\n")}")
    }
    val fDec = fdCheck(cfg.copy(outDim = 5, decoder = "teacher",
      numLayers = 2, bidirectional = true, seed = 47L))
    assert(fDec.isEmpty, s"decoder layers=2 bidir mismatches:\n${fDec.mkString("\n")}")
  }

  test("inter-layer dropout: FD gradients match at dropout=0.2 (fixed masks)") {
    // fixed dropSeed = identical masks every call, so FD is exact; proves
    // the BPTT routes grads through the same inter-layer masks the forward
    // drew. Also: serving (embedOnly) is mask-free.
    val c = cfg.copy(numLayers = 2, bidirectional = true, dropout = 0.2, seed = 61L)
    val l = c.layout
    val p = c.initParams()
    val grad = new Array[Double](l.totalSize)
    val (loss0, _) = LstmAE.lossGradEmbed(c, l, p, grad, cat, cont, dropSeed = 7L)
    assert(!loss0.isNaN && loss0 > 0)
    val eps = 1e-6
    val rng = new scala.util.Random(13)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    l.specs.foreach { s =>
      val (off, _) = l.offsets(s.name)
      val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, dropSeed = 7L)._1
        p(idx) = orig - eps
        val lm = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, dropSeed = 7L)._1
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        if (rel > 1e-4 && math.abs(numeric - analytic) > 1e-9)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    assert(failures.isEmpty, s"dropout FD mismatches:\n${failures.mkString("\n")}")
    // serving ignores dropout: embedOnly output matches the dropout-free config
    val e1 = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, embedOnly = true)._2
    val e2 = LstmAE.lossGradEmbed(c.copy(dropout = 0.0), l, p, null, cat, cont,
      embedOnly = true)._2
    assert(e1.toSeq == e2.toSeq)
  }

  test("I12 bidirectional embedding differs from unidirectional (uses both ends)") {
    val uni = cfg.copy(seed = 51L)
    val bid = cfg.copy(bidirectional = true, seed = 51L)
    val eUni = LstmAE.lossGradEmbed(uni, uni.layout, uni.initParams(), null, cat, cont)._2
    val eBid = LstmAE.lossGradEmbed(bid, bid.layout, bid.initParams(), null, cat, cont)._2
    assert(eUni.length == cfg.outDim && eBid.length == cfg.outDim)
    assert(eUni.toSeq != eBid.toSeq)
  }

  test("I15 teacher-forced decoder: BPTT gradients match finite differences") {
    val f = fdCheck(cfg.copy(outDim = 5, decoder = "teacher", seed = 27L))
    assert(f.isEmpty, s"teacher-decoder mismatches:\n${f.mkString("\n")}")
  }

  test("I14 autoregressive decoder: gradients match FD; argmax path constant") {
    val f = fdCheck(cfg.copy(outDim = 5, decoder = "auto", seed = 29L))
    assert(f.isEmpty, s"auto-decoder mismatches:\n${f.mkString("\n")}")
  }

  test("I14/I15 decoders: SGD reduces the reconstruction loss") {
    for (mode <- Seq("teacher", "auto")) {
      val c = cfg.copy(outDim = 5, decoder = mode, seed = 33L)
      val l = c.layout
      val p = c.initParams()
      var first = 0.0; var last = Double.MaxValue
      for (it <- 0 until 400) {
        val g = new Array[Double](l.totalSize)
        val lo = LstmAE.lossGradEmbed(c, l, p, g, cat, cont)._1
        if (it == 0) first = lo
        last = lo
        for (i <- p.indices) p(i) -= 0.05 * g(i)
      }
      assert(last < first * 0.7, s"$mode: loss $first -> $last")
    }
  }

  private val nsCatFix = Array(2, 0)
  private val nsContFix = Array(0.4, -0.7)

  test("I11 non-seq fuse branch: FD gradients flow through ns MLP + embeddings") {
    // the round-7 ADVICE gap: configured ns features must TRAIN, not just
    // serve — every ns block (nsemb*, ns_w/b/g/beta) and the widened fuse
    // must match finite differences
    val c = cfg.copy(nonSeqVocabSizes = Seq(3, 4), nNonSeqCont = 2, nsMlpDim = 4,
      seed = 71L)
    assert(c.layout.specs.exists(_.name == "ns_w"))
    assert(c.layout.specs.exists(_.name == "nsemb1"))
    val f = fdCheck(c, nsCat = nsCatFix, nsCont = nsContFix)
    assert(f.isEmpty, s"ns-branch mismatches:\n${f.mkString("\n")}")
    // ns inputs actually reach the embedding (not silently dropped)
    val l = c.layout; val p = c.initParams()
    val e1 = LstmAE.lossGradEmbed(c, l, p, null, cat, cont,
      nsCatFix, nsContFix, embedOnly = true)._2
    val e2 = LstmAE.lossGradEmbed(c, l, p, null, cat, cont,
      Array(1, 3), Array(-0.2, 0.9), embedOnly = true)._2
    assert(e1.toSeq != e2.toSeq, "ns inputs must influence the embedding")
  }

  test("I11 non-seq branch composes with the teacher decoder (FD)") {
    val c = cfg.copy(outDim = 5, decoder = "teacher",
      nonSeqVocabSizes = Seq(3), nNonSeqCont = 1, nsMlpDim = 4, seed = 73L)
    val f = fdCheck(c, nsCat = Array(1), nsCont = Array(0.6))
    assert(f.isEmpty, s"ns+teacher mismatches:\n${f.mkString("\n")}")
  }

  test("I14 auto decoder decodes ns features from the embedding (FD)") {
    // model_wrapper.py:55-58,114-118: mlp_non_seq_cont / mlp_non_seq_cat_list
    val c = cfg.copy(outDim = 5, decoder = "auto",
      nonSeqVocabSizes = Seq(3), nNonSeqCont = 2, nsMlpDim = 4, seed = 79L)
    assert(c.layout.specs.exists(_.name == "nsDecCont_w"))
    assert(c.layout.specs.exists(_.name == "nsDecCat0_w"))
    val f = fdCheck(c, nsCat = Array(2), nsCont = Array(0.3, -0.4))
    assert(f.isEmpty, s"auto+ns-decode mismatches:\n${f.mkString("\n")}")
  }

  test("I16 churn decoder: BCE head FD-checked, both labels, encoder unfrozen") {
    for (y <- Seq(0.0, 1.0)) {
      val c = cfg.copy(decoder = "churn", seed = 83L)
      assert(c.layout.specs.exists(_.name == "churn_w"))
      // no reconstruction heads in churn mode
      assert(!c.layout.specs.exists(_.name.startsWith("headCat")))
      val f = fdCheck(c, label = y)
      assert(f.isEmpty, s"churn label=$y mismatches:\n${f.mkString("\n")}")
    }
    // gradients reach the encoder (unfrozen fine-tune, model_wrapper.py:140-155)
    val c = cfg.copy(decoder = "churn", seed = 83L)
    val l = c.layout; val p = c.initParams()
    val g = new Array[Double](l.totalSize)
    LstmAE.lossGradEmbed(c, l, p, g, cat, cont, label = 1.0)
    val (off, _) = l.offsets("wi")
    assert((0 until 5 * 5).exists(i => math.abs(g(off + i)) > 1e-12),
      "churn gradients must flow into the LSTM cells")
  }

  test("I16 churn SGD drives the BCE loss toward the label") {
    val c = cfg.copy(decoder = "churn", seed = 89L)
    val l = c.layout
    val p = c.initParams()
    var first = 0.0; var last = Double.MaxValue
    for (it <- 0 until 200) {
      val g = new Array[Double](l.totalSize)
      val lo = LstmAE.lossGradEmbed(c, l, p, g, cat, cont, label = 1.0)._1
      if (it == 0) first = lo
      last = lo
      for (i <- p.indices) p(i) -= 0.1 * g(i)
    }
    assert(last < first * 0.5 && last < 0.2, s"churn loss $first -> $last")
  }

  test("I4 Bahdanau fidelity: attnDim=0 gives the faithful widths; FD green") {
    val c = cfg.copy(attnDim = 0, seed = 91L) // faithful: score width = hidden
    val l = c.layout
    assert(l.specs.find(_.name == "aw1").get.cols == c.hidden)
    assert(!l.specs.exists(_.name == "ab1"), "no input bias in faithful mode")
    assert(l.specs.exists(_.name == "avb"), "attnHidden keeps its scalar bias")
    val f = fdCheck(c)
    assert(f.isEmpty, s"faithful-Bahdanau mismatches:\n${f.mkString("\n")}")
    // generalized opt-in form still works (input bias + free width)
    val cg = cfg.copy(attnInputBias = true, seed = 93L)
    assert(cg.layout.specs.exists(_.name == "ab1"))
    val fg = fdCheck(cg)
    assert(fg.isEmpty, s"generalized-Bahdanau mismatches:\n${fg.mkString("\n")}")
  }

  test("I5 MHA wrapper dropout: FD green at dropout=0.2; serving mask-free") {
    // attention_mechanisms.py:64,95 — dropout on the attention weights
    // before @V and on the attention output before the residual add; fixed
    // dropSeed makes the FD secant exact through both masks
    val c = cfg.copy(hidden = 6, outDim = 4, attnHeads = 2, dropout = 0.2,
      numLayers = 2, bidirectional = true, seed = 103L)
    val f = fdCheck(c)
    assert(f.isEmpty, s"MHA dropout mismatches:\n${f.mkString("\n")}")
    // serving (embedOnly) ignores the MHA dropouts like every other mask
    val l = c.layout
    val p = c.initParams()
    val e1 = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, embedOnly = true)._2
    val e2 = LstmAE.lossGradEmbed(c.copy(dropout = 0.0), l, p, null, cat, cont,
      embedOnly = true)._2
    assert(e1.toSeq == e2.toSeq)
  }

  test("I5 MHA attention path trains: FD green, heads > 1 replaces Bahdanau") {
    // unified_encoder.py:186-192 selects MHA over Bahdanau at heads > 1;
    // the path is TRAINABLE (residual + layernorm + sum-pool backward)
    for ((nl, bd) <- Seq((1, false), (2, true))) {
      val c = cfg.copy(hidden = 6, outDim = 4, attnHeads = 2,
        numLayers = nl, bidirectional = bd, seed = 97L + nl)
      val l = c.layout
      assert(l.specs.exists(_.name == "mq_w") && !l.specs.exists(_.name == "aw1"))
      val f = fdCheck(c)
      assert(f.isEmpty, s"MHA layers=$nl bidir=$bd mismatches:\n${f.mkString("\n")}")
    }
    // composes with the decoder and the ns branch
    val c = cfg.copy(hidden = 6, outDim = 6, attnHeads = 3, decoder = "teacher",
      nonSeqVocabSizes = Seq(3), nNonSeqCont = 1, nsMlpDim = 4, seed = 101L)
    val f = fdCheck(c, nsCat = Array(1), nsCont = Array(0.5))
    assert(f.isEmpty, s"MHA+decoder+ns mismatches:\n${f.mkString("\n")}")
  }

  test("J11 Capacity.lstmEncoderParams matches the faithful layout") {
    val encoderBlock = (n: String) => !(n.startsWith("headC") ||
      n.startsWith("headP") || n.startsWith("dec") || n.startsWith("nsDec") ||
      n.startsWith("churn") || n.startsWith("dw") || n.startsWith("du") ||
      n.startsWith("db"))
    for ((nl, bd, nsv, nsc) <- Seq(
        (1, false, Seq(3L, 4L), 2), (2, true, Nil: Seq[Long], 0), (2, false, Seq(5L), 1))) {
      val c = cfg.copy(attnDim = 0, numLayers = nl, bidirectional = bd,
        nonSeqVocabSizes = nsv.map(_.toInt), nNonSeqCont = nsc, nsMlpDim = 4)
      val got = c.layout.specs.filter(s => encoderBlock(s.name)).map(_.size.toLong).sum
      val want = graft.analyze.Capacity.lstmEncoderParams(
        c.vocabSizes.map(_.toLong), c.nCont, c.hidden, c.outDim,
        numLayers = nl, bidirectional = bd,
        nonSeqVocabSizes = nsv, nNonSeqCont = nsc, nsMlpDim = 4)
      assert(got == want, s"layers=$nl bidir=$bd: layout=$got formula=$want")
    }
    // MHA attention mode (heads > 1) counted too
    val cm = cfg.copy(hidden = 6, outDim = 4, attnHeads = 2, bidirectional = true)
    val gotM = cm.layout.specs.filter(s => encoderBlock(s.name)).map(_.size.toLong).sum
    val wantM = graft.analyze.Capacity.lstmEncoderParams(
      cm.vocabSizes.map(_.toLong), cm.nCont, cm.hidden, cm.outDim,
      bidirectional = true, attnHeads = 2)
    assert(gotM == wantM, s"MHA: layout=$gotM formula=$wantM")
  }

  test("SGD on one example reduces the loss substantially") {
    val p = cfg.initParams()
    var first = 0.0; var last = Double.MaxValue
    for (it <- 0 until 200) {
      val g = new Array[Double](lay.totalSize)
      val l = LstmAE.lossGradEmbed(cfg, lay, p, g, cat, cont)._1
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.1 * g(i)
    }
    assert(last < first * 0.5, s"loss $first -> $last")
  }

  test("I1 pretrained embeddings (LSTM arch): injected, frozen under Adam") {
    val dim = cfg.embDims.head
    val vecs = Array.tabulate(cfg.vocabSizes.head + 1, dim)((r, c) =>
      0.02 * (r * dim + c) - 0.05)
    val pre = cfg.copy(pretrainedEmb = Map(0 -> vecs))
    val p = pre.initParams()
    val emb = lay.mat("emb0", p)
    for (r <- vecs.indices; c <- 0 until dim) assert(emb(r, c) == vecs(r)(c))
    // non-emb blocks identical to vanilla init (rng stream untouched)
    val p0 = cfg.initParams()
    lay.specs.filterNot(_.name == "emb0").foreach { s =>
      val (off, _) = lay.offsets(s.name)
      for (i <- 0 until s.size) assert(p(off + i) == p0(off + i))
    }
    val grad = new Array[Double](lay.totalSize)
    LstmAE.lossGradEmbed(pre, lay, p, grad, cat, cont)
    val (embOff, embSpec) = lay.offsets("emb0")
    assert((embOff until embOff + embSpec.size).exists(grad(_) != 0.0))
    val before = p.clone()
    new graft.train.Adam(lay.totalSize, frozen = pre.frozenRanges).step(p, grad, 1e-2)
    for (i <- embOff until embOff + embSpec.size) assert(p(i) == before(i))
    assert(p.indices.exists(i => p(i) != before(i)))
    assert(pre.copy(freezePretrained = false).frozenRanges.isEmpty)
  }

  test("golden values: loss, gradient and embedding bits are pinned per config") {
    // (name, config, non-seq inputs, churn label, dropSeed) -> the loss and
    // the fingerprints of the full gradient, the training call's embedding
    // and the serving (embedOnly) embedding. Every config is bit-exact
    // except attnHeads > 1, whose attention layer norm shares the
    // transformer's LayerNorm kernel: rounding may move those values by at
    // most 1e-12 relative.
    val mha = cfg.copy(hidden = 6, outDim = 4, attnHeads = 2, seed = 98L)
    val cases = Seq(
      ("none", cfg, false, 0.0, 0L),
      ("teacher", cfg.copy(outDim = 5, decoder = "teacher", seed = 27L), false, 0.0, 0L),
      ("auto", cfg.copy(outDim = 5, decoder = "auto", nonSeqVocabSizes = Seq(3),
        nNonSeqCont = 2, nsMlpDim = 4, seed = 79L), true, 0.0, 0L),
      ("churn", cfg.copy(decoder = "churn", seed = 83L), false, 1.0, 0L),
      ("mha", mha, false, 0.0, 0L),
      ("mha-teacher-ns", cfg.copy(hidden = 6, outDim = 6, attnHeads = 3, decoder = "teacher",
        nonSeqVocabSizes = Seq(3), nNonSeqCont = 1, nsMlpDim = 4, seed = 101L), true, 0.0, 0L),
      ("mha-dropout-bidir2", mha.copy(dropout = 0.2, numLayers = 2, bidirectional = true,
        seed = 103L), false, 0.0, 7L),
      ("bidir2", cfg.copy(numLayers = 2, bidirectional = true, seed = 42L), false, 0.0, 0L),
      ("non-seq", cfg.copy(nonSeqVocabSizes = Seq(3, 4), nNonSeqCont = 2, nsMlpDim = 4,
        seed = 71L), true, 0.0, 0L),
      ("dropout", cfg.copy(numLayers = 2, bidirectional = true, dropout = 0.2, seed = 61L),
        false, 0.0, 7L))
    val expected = Map(
      "none" -> (4611109546798657916L,
        Fingerprint(7511605064916613840L, 4.606222170347288, -0.22683984646703248),
        Fingerprint(4593932291826776232L, 0.1322350984417617, 0.5289403937670468),
        Fingerprint(4593932291826776232L, 0.1322350984417617, 0.5289403937670468)),
      "teacher" -> (4610841515452685826L,
        Fingerprint(-4111157402643082354L, 2.946659932506155, -0.5851895327907006),
        Fingerprint(-16776314453998940L, 0.0466196216101822, 0.09641902514602586),
        Fingerprint(-16776314453998940L, 0.0466196216101822, 0.09641902514602586)),
      "auto" -> (4615198261173442354L,
        Fingerprint(-2657338858007998185L, 12.783583533731427, 5.874688523334081),
        Fingerprint(-371927171743732034L, 0.5813700554593242, 2.546810470938552),
        Fingerprint(-371927171743732034L, 0.5813700554593242, 2.546810470938552)),
      "churn" -> (4605139011457679904L,
        Fingerprint(-1897998619960352877L, 7.356126444077644, -4.721159220767866),
        Fingerprint(-886624910084825983L, 0.16193335002479525, 0.6199832708887362),
        Fingerprint(-886624910084825983L, 0.16193335002479525, 0.6199832708887362)),
      "mha" -> (4616544373741050453L,
        Fingerprint(-7095781010248463789L, 403.2741804386576, 275.2281871706486),
        Fingerprint(-7973542212109791414L, 2.041828255742908, 6.0569103632910375),
        Fingerprint(-1027940552395926297L, 1.8572759145444433, 5.165786746115085)),
      "mha-teacher-ns" -> (4610940378868858641L,
        Fingerprint(-8363519241823711245L, 12.954415969052347, 9.67018029681548),
        Fingerprint(3011316433383924698L, 6.527468324006725, 29.867051757703084),
        Fingerprint(-2504974634256474890L, 6.768016167458949, 30.458245447088952)),
      "mha-dropout-bidir2" -> (4610970927963230862L,
        Fingerprint(-1727157218836519881L, 4.421684276882448, -3.9847231621316315),
        Fingerprint(15699857L, 0.0, 0.0),
        Fingerprint(4603651620623870015L, 0.6080026552106312, 2.432010620842525)),
      "bidir2" -> (4611209919516822530L,
        Fingerprint(4693089801909580632L, 5.248220981647276, -2.0369712515866207),
        Fingerprint(5876179583748920379L, 0.10900405622242046, 0.27850935340165967),
        Fingerprint(5876179583748920379L, 0.10900405622242046, 0.27850935340165967)),
      "non-seq" -> (4611316631824286437L,
        Fingerprint(-5157520746745331742L, 6.662865815061041, 0.9902126341810387),
        Fingerprint(-2385725669782754176L, 0.09966580443832122, 0.19970617049981867),
        Fingerprint(-2385725669782754176L, 0.09966580443832122, 0.19970617049981867)),
      "dropout" -> (4611374677644005959L,
        Fingerprint(1409422088528992193L, 12.304935667877906, -3.491022116135909),
        Fingerprint(-7518670709698958529L, 0.279760487459503, 1.0771876069414843),
        Fingerprint(-7488018421205859778L, 0.2777479743412451, 1.0687578963118682)))
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, c, withNs, label, dropSeed) <- cases) {
      val l = c.layout
      val p = c.initParams()
      val nsCatV = if (withNs) Array(2, 0).take(c.nonSeqVocabSizes.size) else null
      val nsContV = if (withNs) Array(0.4, -0.7).take(c.nNonSeqCont) else null
      val grad = new Array[Double](l.totalSize)
      val (loss, emb) = LstmAE.lossGradEmbed(c, l, p, grad, cat, cont, nsCatV, nsContV,
        label, dropSeed = dropSeed)
      val lossFwd = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, nsCatV, nsContV,
        label, dropSeed = dropSeed)._1
      val serve = LstmAE.lossGradEmbed(c, l, p, null, cat, cont, nsCatV, nsContV,
        embedOnly = true)._2
      assert(lossFwd == loss, s"$name: forward-only loss $lossFwd != $loss")
      val got = (java.lang.Double.doubleToLongBits(loss), Fingerprint.of(grad),
        Fingerprint.of(emb), Fingerprint.of(serve))
      val want @ (lossBits, gradFp, embFp, serveFp) = expected(name)
      val tol = if (c.attnHeads > 1) 1e-12 else 0.0
      val wantLoss = java.lang.Double.longBitsToDouble(lossBits)
      val ok = (if (tol == 0) got._1 == lossBits
                else math.abs(loss - wantLoss) <= tol * math.abs(wantLoss)) &&
        got._2.matches(gradFp, tol) && got._3.matches(embFp, tol) && got._4.matches(serveFp, tol)
      if (!ok) failures += s"$name: got $got, want $want"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
