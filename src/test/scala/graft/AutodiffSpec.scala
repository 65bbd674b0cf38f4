package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.nn.{AeConfig, TransformerAE}

/** Gradient check: analytic backward vs central finite differences on a
  * tiny config (SURVEY.md §7.4 hard part #1 mitigation). No Spark. */
class AutodiffSpec extends AnyFunSuite {

  private val cfg = AeConfig(dModel = 4, heads = 2, layers = 2, pf = 3,
    seqLen = 3, vocabSizes = Seq(4), nCont = 2, seed = 11L)
  private val lay = cfg.layout
  private val cat = Array(Array(1), Array(3), Array(2))
  private val cont = Array(Array(0.3, -0.1), Array(0.8, 0.2), Array(-0.5, 0.4))

  test("analytic gradient matches finite differences on every parameter block") {
    val p = cfg.initParams()
    val grad = new Array[Double](lay.totalSize)
    val loss0 = TransformerAE.lossAndGrad(cfg, lay, p, grad, cat, cont)
    assert(!loss0.isNaN && loss0 > 0)

    val eps = 1e-6
    val rng = new scala.util.Random(3)
    // probe a sample of indices from EVERY parameter block
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    lay.specs.foreach { s =>
      val (off, _) = lay.offsets(s.name)
      val picks = Seq.fill(math.min(4, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = TransformerAE.lossAndGrad(cfg, lay, p,
          new Array[Double](lay.totalSize), cat, cont)
        p(idx) = orig - eps
        val lm = TransformerAE.lossAndGrad(cfg, lay, p,
          new Array[Double](lay.totalSize), cat, cont)
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        // wk bias has exactly-zero true gradient (softmax is invariant to a
        // per-row constant); near-zero pairs are FD noise, not mismatches
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        if (rel > 1e-4)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    assert(failures.isEmpty, s"gradient mismatches:\n${failures.mkString("\n")}")
  }

  test("dropout=0.1: FD gradients still match (fixed dropSeed = fixed masks)") {
    // a fixed dropSeed draws identical masks in every call, so finite
    // differences are exact at dropout > 0 — proving the backward applies
    // the SAME masks the forward drew (encoder + decoder + embeddings)
    for (c <- Seq(cfg.copy(dropout = 0.1),
                  cfg.copy(dropout = 0.1, decoderLayers = 1, seed = 13L),
                  cfg.copy(dropout = 0.1, nonSeqVocabSizes = Seq(3),
                           nNonSeqCont = 1, seed = 15L))) {
      val l = c.layout
      val p = c.initParams()
      val grad = new Array[Double](l.totalSize)
      val nsCatV = if (c.hasNonSeq) Array(1) else null
      val nsContV = if (c.hasNonSeq) Array(0.4) else null
      val loss0 = TransformerAE.lossAndGrad(c, l, p, grad, cat, cont,
        nsCat = nsCatV, nsCont = nsContV, dropSeed = 99L)
      assert(!loss0.isNaN && loss0 > 0)
      val eps = 1e-6
      val rng = new scala.util.Random(7)
      val failures = scala.collection.mutable.ArrayBuffer[String]()
      l.specs.foreach { s =>
        val (off, _) = l.offsets(s.name)
        val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
        picks.foreach { idx =>
          val orig = p(idx)
          p(idx) = orig + eps
          val lp = TransformerAE.lossAndGrad(c, l, p, new Array[Double](l.totalSize),
            cat, cont, nsCat = nsCatV, nsCont = nsContV, dropSeed = 99L)
          p(idx) = orig - eps
          val lm = TransformerAE.lossAndGrad(c, l, p, new Array[Double](l.totalSize),
            cat, cont, nsCat = nsCatV, nsCont = nsContV, dropSeed = 99L)
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
      assert(failures.isEmpty,
        s"dropout FD mismatches (dec=${c.decoderLayers}, ns=${c.hasNonSeq}):\n${failures.mkString("\n")}")
    }
  }

  test("dropout=0.1: SGD reduces the loss; serving embed ignores dropout") {
    val c = cfg.copy(dropout = 0.1, seed = 21L)
    val l = c.layout
    val p = c.initParams()
    var first = 0.0; var last = Double.MaxValue
    for (it <- 0 until 150) {
      val g = new Array[Double](l.totalSize)
      val lo = TransformerAE.lossAndGrad(c, l, p, g, cat, cont,
        dropSeed = 1000L + it) // fresh mask per step, like torch
      if (it == 0) first = lo
      last = lo
      for (i <- p.indices) p(i) -= 0.05 * g(i)
    }
    assert(last < first, s"dropout training did not reduce loss: $first -> $last")
    // embed is mask-free: identical with and without dropout in the config
    val e1 = TransformerAE.embedDouble(c, l, p, cat, cont)
    val e2 = TransformerAE.embedDouble(c.copy(dropout = 0.0), l, p, cat, cont)
    assert(e1.toSeq == e2.toSeq)
  }

  test("a few SGD steps on one example reduce the loss") {
    val p = cfg.initParams()
    var last = Double.MaxValue
    var first = 0.0
    for (it <- 0 until 30) {
      val g = new Array[Double](lay.totalSize)
      val l = TransformerAE.lossAndGrad(cfg, lay, p, g, cat, cont)
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.05 * g(i)
    }
    assert(last < first * 0.5, s"loss $first -> $last did not halve")
  }

  test("embed is consistent with the training forward (finite, deterministic)") {
    val p = cfg.initParams()
    val e1 = TransformerAE.embed(cfg, lay, p, cat, cont)
    assert(e1.length == cfg.seqLen * cfg.dModel)
    assert(e1.sameElements(TransformerAE.embed(cfg, lay, p, cat, cont)))
    assert(e1.forall(v => !v.isNaN && !v.isInfinite))
    // different input -> different embedding
    val e2 = TransformerAE.embed(cfg, lay, p, Array(Array(2), Array(3), Array(2)), cont)
    assert(!e1.sameElements(e2))
  }

  test("non-seq branch (I8): extra timestep changes the embedding; gradients match FD") {
    val nscfg = cfg.copy(nonSeqVocabSizes = Seq(3), nNonSeqCont = 2, seed = 31L,
      decoderLayers = 1)
    val nslay = nscfg.layout
    assert(nscfg.tEff == cfg.seqLen + 1)
    val p = nscfg.initParams()
    val nsCat = Array(2)
    val nsCont = Array(0.7, -0.2)
    // embedding responds to non-seq inputs
    val e1 = TransformerAE.embedDouble(nscfg, nslay, p, cat, cont, nsCat, nsCont)
    val e2 = TransformerAE.embedDouble(nscfg, nslay, p, cat, cont, Array(1), nsCont)
    val e3 = TransformerAE.embedDouble(nscfg, nslay, p, cat, cont, nsCat, Array(0.1, 0.9))
    assert(e1.length == nscfg.tEff * nscfg.dModel)
    assert(!e1.sameElements(e2), "changing the non-seq cat code must change the embedding")
    assert(!e1.sameElements(e3), "changing the non-seq cont input must change the embedding")
    // gradient check over every block incl. nsEmb/linNonSeq/headNs*
    val grad = new Array[Double](nslay.totalSize)
    val loss0 = TransformerAE.lossAndGrad(nscfg, nslay, p, grad, cat, cont,
      nsCat = nsCat, nsCont = nsCont)
    assert(!loss0.isNaN && loss0 > 0)
    val eps = 1e-6
    val rng = new scala.util.Random(13)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    nslay.specs.foreach { s =>
      val (off, _) = nslay.offsets(s.name)
      val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = TransformerAE.lossAndGrad(nscfg, nslay, p,
          new Array[Double](nslay.totalSize), cat, cont, nsCat = nsCat, nsCont = nsCont)
        p(idx) = orig - eps
        val lm = TransformerAE.lossAndGrad(nscfg, nslay, p,
          new Array[Double](nslay.totalSize), cat, cont, nsCat = nsCat, nsCont = nsCont)
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
    assert(failures.isEmpty, s"non-seq gradient mismatches:\n${failures.mkString("\n")}")
  }

  test("I16 transformer churn fine-tune: BCE head FD-checked, encoder unfrozen") {
    for (y <- Seq(0.0, 1.0)) {
      val ccfg = cfg.copy(churn = true, seed = 37L,
        nonSeqVocabSizes = Seq(3), nNonSeqCont = 1) // ns timestep included
      val clay = ccfg.layout
      assert(clay.specs.exists(_.name == "churn_w"))
      assert(!clay.specs.exists(_.name.startsWith("headCat")),
        "churn mode replaces the reconstruction heads")
      assert(clay.offsets("churn_w")._2.rows == ccfg.tEff * ccfg.dModel)
      val p = ccfg.initParams()
      val nsCat = Array(1); val nsCont = Array(0.4)
      val grad = new Array[Double](clay.totalSize)
      val loss0 = TransformerAE.lossAndGrad(ccfg, clay, p, grad, cat, cont,
        nsCat = nsCat, nsCont = nsCont, label = y)
      assert(!loss0.isNaN && loss0 > 0)
      val eps = 1e-6
      val rng = new scala.util.Random(17)
      val failures = scala.collection.mutable.ArrayBuffer[String]()
      clay.specs.foreach { s =>
        val (off, _) = clay.offsets(s.name)
        val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
        picks.foreach { idx =>
          val orig = p(idx)
          p(idx) = orig + eps
          val lp = TransformerAE.lossAndGrad(ccfg, clay, p, null, cat, cont,
            nsCat = nsCat, nsCont = nsCont, label = y)
          p(idx) = orig - eps
          val lm = TransformerAE.lossAndGrad(ccfg, clay, p, null, cat, cont,
            nsCat = nsCat, nsCont = nsCont, label = y)
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
      assert(failures.isEmpty, s"churn label=$y mismatches:\n${failures.mkString("\n")}")
      // gradients reach the encoder (unfrozen, model_wrapper.py:302-316)
      val (off, sp) = clay.offsets("l0_wq_w")
      assert((0 until sp.size).exists(i => math.abs(grad(off + i)) > 1e-12),
        "churn gradients must flow into the encoder layers")
    }
    // churn SGD drives BCE toward the label
    val ccfg = cfg.copy(churn = true, seed = 41L)
    val clay = ccfg.layout
    val p = ccfg.initParams()
    var first = 0.0; var last = Double.MaxValue
    for (it <- 0 until 60) {
      val g = new Array[Double](clay.totalSize)
      val l = TransformerAE.lossAndGrad(ccfg, clay, p, g, cat, cont, label = 1.0)
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.1 * g(i)
    }
    assert(last < first * 0.5 && last < 0.2, s"churn loss $first -> $last")
  }

  test("decoder path: gradients match finite differences; loss trains down") {
    val dcfg = cfg.copy(decoderLayers = 1, seed = 23L)
    val dlay = dcfg.layout
    val p = dcfg.initParams()
    val grad = new Array[Double](dlay.totalSize)
    val loss0 = TransformerAE.lossAndGrad(dcfg, dlay, p, grad, cat, cont)
    assert(!loss0.isNaN && loss0 > 0)
    val eps = 1e-6
    val rng = new scala.util.Random(7)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    dlay.specs.foreach { s =>
      val (off, _) = dlay.offsets(s.name)
      val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = TransformerAE.lossAndGrad(dcfg, dlay, p,
          new Array[Double](dlay.totalSize), cat, cont)
        p(idx) = orig - eps
        val lm = TransformerAE.lossAndGrad(dcfg, dlay, p,
          new Array[Double](dlay.totalSize), cat, cont)
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
    assert(failures.isEmpty, s"decoder gradient mismatches:\n${failures.mkString("\n")}")
    // SGD sanity
    var last = Double.MaxValue; var first = 0.0
    for (it <- 0 until 30) {
      val g = new Array[Double](dlay.totalSize)
      val l = TransformerAE.lossAndGrad(dcfg, dlay, p, g, cat, cont)
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.05 * g(i)
    }
    assert(last < first * 0.7, s"decoder loss $first -> $last")
  }

  test("I1 pretrained embeddings: injected at init, frozen slices survive Adam steps") {
    val dim = cfg.embDims.head
    val vecs = Array.tabulate(cfg.vocabSizes.head + 1, dim)((r, c) =>
      0.01 * (r * dim + c) - 0.03)
    val pre = cfg.copy(pretrainedEmb = Map(0 -> vecs))
    val p = pre.initParams()
    // injected exactly (row = code, read back through the layout view)...
    val emb = lay.mat("emb0", p)
    for (r <- vecs.indices; c <- 0 until dim) assert(emb(r, c) == vecs(r)(c))
    // ...and every OTHER block is bit-identical to the vanilla init (the
    // injection must not perturb the rng stream = non-frozen path unchanged)
    val p0 = cfg.initParams()
    lay.specs.filterNot(_.name == "emb0").foreach { s =>
      val (off, _) = lay.offsets(s.name)
      for (i <- 0 until s.size) assert(p(off + i) == p0(off + i))
    }
    // real gradients DO reach the table (backward unchanged)...
    val grad = new Array[Double](lay.totalSize)
    TransformerAE.lossAndGrad(pre, lay, p, grad, cat, cont)
    val (embOff, embSpec) = lay.offsets("emb0")
    assert((embOff until embOff + embSpec.size).exists(grad(_) != 0.0))
    // ...but the frozen slice is untouched by optimizer steps while the
    // rest of the model moves (the from_pretrained freeze contract)
    val before = p.clone()
    val adam = new graft.train.Adam(lay.totalSize, frozen = pre.frozenRanges)
    adam.step(p, grad, 1e-2)
    adam.step(p, grad, 1e-2)
    for (i <- embOff until embOff + embSpec.size) assert(p(i) == before(i))
    assert(p.indices.exists(i => p(i) != before(i)))
    // freezePretrained = false: same vectors, trainable — the step moves them
    val un = pre.copy(freezePretrained = false)
    assert(un.frozenRanges.isEmpty)
    val p2 = un.initParams()
    val grad2 = new Array[Double](lay.totalSize)
    TransformerAE.lossAndGrad(un, lay, p2, grad2, cat, cont)
    val b2 = p2.clone()
    new graft.train.Adam(lay.totalSize, frozen = un.frozenRanges).step(p2, grad2, 1e-2)
    assert((embOff until embOff + embSpec.size).exists(i => p2(i) != b2(i)))
    // malformed injections are rejected up front
    intercept[IllegalArgumentException] {
      cfg.copy(pretrainedEmb = Map(0 -> Array(Array(0.1))))
    }
    intercept[IllegalArgumentException] {
      cfg.copy(pretrainedEmb = Map(5 -> vecs))
    }
  }

  test("golden values: loss, gradient and embedding bits are pinned per config") {
    import breeze.linalg.DenseMatrix
    // (name, config, non-seq inputs, churn label, dropSeed) -> the loss bits
    // and the fingerprints of the full gradient and of embedDouble
    val cases = Seq(
      ("encoder", cfg, false, 0.0, 0L),
      ("decoder", cfg.copy(decoderLayers = 1, seed = 23L), false, 0.0, 0L),
      ("churn", cfg.copy(churn = true, seed = 37L, nonSeqVocabSizes = Seq(3), nNonSeqCont = 1),
        true, 1.0, 0L),
      ("non-seq", cfg.copy(nonSeqVocabSizes = Seq(3), nNonSeqCont = 2, seed = 31L), true, 0.0, 0L),
      ("dropout", cfg.copy(dropout = 0.1, decoderLayers = 1, nonSeqVocabSizes = Seq(3),
        nNonSeqCont = 1, seed = 15L), true, 0.0, 99L))
    val expected = Map(
      "encoder" -> (4616084611128114132L,
        Fingerprint(7339126773010277895L, 151.29704523523307, 21.652914717311155),
        Fingerprint(8744547759530157145L, 9.927481339023506, 11.340551710254745)),
      "decoder" -> (4617690293900483728L,
        Fingerprint(-742622128581048892L, 96.25824157219789, -29.63000239758643),
        Fingerprint(7161939938857316721L, 10.38831087297484, -12.79945649491145)),
      "churn" -> (4603815823292439310L,
        Fingerprint(-9172875949987463305L, 43.55386562805632, -3.9525037877863842),
        Fingerprint(-3558683535451419344L, 13.655064045752999, -2.664728482927047)),
      "non-seq" -> (4618714558397687370L,
        Fingerprint(-323782648104608730L, 70.4590171773686, -2.7097841707376933),
        Fingerprint(-3266186632848987116L, 13.281906480125796, 5.54615354587912)),
      "dropout" -> (4621803481878143680L,
        Fingerprint(3402955396685782256L, 98.74506043583808, 44.674925446843105),
        Fingerprint(1578419796355735575L, 13.432538724700951, 5.728753163534358)))
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, c, withNs, label, dropSeed) <- cases) {
      val l = c.layout
      val p = c.initParams()
      val nsCatV = if (withNs) Array(1) else null
      val nsContV = if (withNs) Array(0.7, -0.2).take(c.nNonSeqCont) else null
      val grad = new Array[Double](l.totalSize)
      val loss = TransformerAE.lossAndGrad(c, l, p, grad, cat, cont, nsCat = nsCatV,
        nsCont = nsContV, label = label, dropSeed = dropSeed)
      val lossFwd = TransformerAE.lossAndGrad(c, l, p, null, cat, cont, nsCat = nsCatV,
        nsCont = nsContV, label = label, dropSeed = dropSeed)
      assert(lossFwd == loss, s"$name: forward-only loss $lossFwd != $loss")
      val emb = TransformerAE.embedDouble(c, l, p, cat, cont, nsCatV, nsContV)
      val got = (java.lang.Double.doubleToLongBits(loss), Fingerprint.of(grad), Fingerprint.of(emb))
      if (got != expected(name)) failures += s"$name: got $got, want ${expected(name)}"
    }
    // the integrated-gradients path: encoder-space seed, embedding-space
    // input, and the input gradients written to the caller's buffers
    locally {
      val p = cfg.initParams()
      val grad = new Array[Double](lay.totalSize)
      val seed = DenseMatrix.tabulate(cfg.tEff, cfg.dModel)((i, j) => 0.1 * (i + 1) - 0.05 * j)
      val embIn = DenseMatrix.tabulate(cfg.seqLen, cfg.embDims.sum)((i, j) => 0.2 * i - 0.1 * j)
      val embGrad = DenseMatrix.zeros[Double](cfg.seqLen, cfg.embDims.sum)
      val contGrad = Array.ofDim[Double](cfg.seqLen, cfg.nCont)
      val loss = TransformerAE.lossAndGrad(cfg, lay, p, grad, cat, cont, encSeed = seed,
        contGradOut = contGrad, seqEmbInput = embIn, seqEmbGradOut = embGrad)
      assert(loss == 0.0)
      val got = (Fingerprint.of(grad), Fingerprint.of(embGrad.toArray), Fingerprint.of(contGrad.flatten))
      val want = (Fingerprint(2263368813473985391L, 8.831687416108183, 3.9241785199391543),
        Fingerprint(-6934979667595736519L, 0.38693362369870693, -0.09899003648366361),
        Fingerprint(-7829996413351538582L, 0.7345436018067824, -0.2391408420875597))
      if (got != want) failures += s"explain: got $got, want $want"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
