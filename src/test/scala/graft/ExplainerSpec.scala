package graft

import breeze.linalg.DenseMatrix
import graft.nn.{AeConfig, TransformerAE}

/** IG sanity (completeness axiom, seeded input-grad path) + DeepLift /
  * DeepLiftShap properties (gradient×Δx form, baseline averaging,
  * IG-equivalence in the locally-linear regime). */
class ExplainerSpec extends SparkSpec {

  private val cfg = AeConfig(dModel = 4, heads = 2, layers = 1, pf = 3,
    seqLen = 2, vocabSizes = Seq(3), nCont = 2, seed = 5L)
  private val lay = cfg.layout
  private val cat = Array(Array(1), Array(2))

  private def outputAt(cont: Array[Array[Double]], dim: Int): Double =
    TransformerAE.embedDouble(cfg, lay, p, cat, cont)(dim)

  private val p = cfg.initParams()

  test("seeded backward input-grad matches finite differences") {
    val cont = Array(Array(0.4, -0.2), Array(0.1, 0.7))
    val seed = DenseMatrix.zeros[Double](2, 4); seed(1, 2) = 1.0 // output dim 6
    val gradOut = Array.ofDim[Double](2, 2)
    TransformerAE.lossAndGrad(cfg, lay, p, new Array[Double](lay.totalSize),
      cat, cont, encSeed = seed, contGradOut = gradOut)
    val eps = 1e-6
    for (i <- 0 until 2; j <- 0 until 2) {
      val up = cont.map(_.clone()); up(i)(j) += eps
      val dn = cont.map(_.clone()); dn(i)(j) -= eps
      val numeric = (outputAt(up, 6) - outputAt(dn, 6)) / (2 * eps)
      assert(math.abs(numeric - gradOut(i)(j)) < 1e-4,
        s"($i,$j): analytic=${gradOut(i)(j)} numeric=$numeric")
    }
  }

  test("IG completeness incl. cat embeddings: attributions sum ~ f(x) - f(0)") {
    // joint interpolation of cat EMBEDDINGS and cont features toward the
    // zero baseline, exactly as Explainer.integratedGradients does. ReLU
    // kinks make the midpoint rule O(1/steps), hence the high step count.
    val cont = Array(Array(0.4, -0.2), Array(0.1, 0.7))
    val zero = Array(Array(0.0, 0.0), Array(0.0, 0.0))
    val dim = 6
    val steps = 512
    val embSum = cfg.embDims.sum
    val seed = DenseMatrix.zeros[Double](2, 4); seed(dim / 4, dim % 4) = 1.0
    // the row's embedding endpoint
    val embX = DenseMatrix.zeros[Double](2, embSum)
    for (i <- 0 until 2)
      embX(i, 0 until embSum) := lay.mat("emb0", p)(cat(i)(0), ::)
    var total = 0.0
    val gradOut = Array.ofDim[Double](2, 2)
    val gradEmb = DenseMatrix.zeros[Double](2, embSum)
    for (k <- 1 to steps) {
      val a = (k - 0.5) / steps // midpoint rule, matches Explainer
      val xi = Array.tabulate(2, 2)((i, j) => cont(i)(j) * a)
      TransformerAE.lossAndGrad(cfg, lay, p, new Array[Double](lay.totalSize),
        cat, xi, encSeed = seed, contGradOut = gradOut,
        seqEmbInput = embX * a, seqEmbGradOut = gradEmb)
      for (i <- 0 until 2; j <- 0 until 2) total += cont(i)(j) * gradOut(i)(j) / steps
      for (i <- 0 until 2; j <- 0 until embSum) total += embX(i, j) * gradEmb(i, j) / steps
    }
    // f(baseline): zero embeddings emulated by zeroing the looked-up rows
    val p0 = p.clone()
    for (code <- Seq(1, 2)) lay.mat("emb0", p0)(code, ::) := 0.0
    val delta = outputAt(cont, dim) -
      TransformerAE.embedDouble(cfg, lay, p0, cat, zero)(dim)
    assert(math.abs(total - delta) < 5e-3,
      s"completeness violated: IG sum=$total vs delta=$delta")
  }

  // ---- DeepLift / DeepLiftShap (operator-level, through the DataFrame API)

  private val seqCat = Seq(Seq("et_1", "et_2"))
  private val seqCont = Seq(Seq("v_1", "v_2"), Seq("w_1", "w_2"))

  /** One-row wide frame: codes (1,2); cont(ts)(c) = ((.4,-.2),(.1,.7))·s. */
  private def wideDf(s: Double) = {
    import spark.implicits._
    Seq((1L, 1, 2, 0.4 * s, 0.1 * s, -0.2 * s, 0.7 * s))
      .toDF("user_id", "et_1", "et_2", "v_1", "v_2", "w_1", "w_2")
  }

  private def attrsOf(df: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    val row = df.collect().head
    df.columns.zipWithIndex.collect {
      case (c, i) if c.startsWith("attr_") => c -> row.getDouble(i)
    }.toMap
  }

  test("DeepLift is gradient-times-input: cont attrs FD-check against the model") {
    val dim = 6
    val dl = attrsOf(graft.analyze.Explainer.deepLift(
      wideDf(1.0), cfg, p, "user_id", seqCat, seqCont, targetDim = dim))
    val cont = Array(Array(0.4, -0.2), Array(0.1, 0.7))
    val eps = 1e-6
    val names = Map((0, 0) -> "attr_v_1", (1, 0) -> "attr_v_2",
      (0, 1) -> "attr_w_1", (1, 1) -> "attr_w_2")
    for (((i, j), name) <- names) {
      val up = cont.map(_.clone()); up(i)(j) += eps
      val dn = cont.map(_.clone()); dn(i)(j) -= eps
      val numericGrad = (outputAt(up, dim) - outputAt(dn, dim)) / (2 * eps)
      val expected = cont(i)(j) * numericGrad // zero baseline
      assert(math.abs(dl(name) - expected) < 1e-4,
        s"$name: deeplift=${dl(name)} expected x*grad=$expected")
    }
  }

  test("DeepLiftShap: self-baseline zeroes attributions; sample mean is exact") {
    val dim = 6
    val selfCat = Array(Array(Array(1), Array(2)))
    val selfCont = Array(Array(Array(0.4, -0.2), Array(0.1, 0.7)))
    val zeroed = attrsOf(graft.analyze.Explainer.deepLift(
      wideDf(1.0), cfg, p, "user_id", seqCat, seqCont, targetDim = dim,
      baselineCat = selfCat, baselineCont = selfCont))
    zeroed.foreach { case (n, v) =>
      assert(math.abs(v) < 1e-12, s"$n nonzero against self-baseline: $v") }

    // attribution over {b1, b2} = mean of single-baseline attributions
    // (captum DeepLiftShap's definition; exact here, multiplier is shared)
    val b1c = Array(Array(0), Array(1)); val b1x = Array(Array(0.0, 0.0), Array(0.0, 0.0))
    val b2c = Array(Array(2), Array(0)); val b2x = Array(Array(0.2, 0.1), Array(-0.3, 0.5))
    def run(bc: Array[Array[Array[Int]]], bx: Array[Array[Array[Double]]]) =
      attrsOf(graft.analyze.Explainer.deepLift(
        wideDf(1.0), cfg, p, "user_id", seqCat, seqCont, targetDim = dim,
        baselineCat = bc, baselineCont = bx))
    val both = run(Array(b1c, b2c), Array(b1x, b2x))
    val m1 = run(Array(b1c), Array(b1x))
    val m2 = run(Array(b2c), Array(b2x))
    both.foreach { case (n, v) =>
      assert(math.abs(v - (m1(n) + m2(n)) / 2) < 1e-12,
        s"$n: shap=${v} mean=${(m1(n) + m2(n)) / 2}") }
  }

  test("deepLiftAll: per-dim batch equals single-dim deepLift, one pass") {
    val dims = Seq(0, 3, 6)
    val all = graft.analyze.Explainer.deepLiftAll(
      wideDf(1.0), cfg, p, "user_id", seqCat, seqCont, dims)
      .collect().map { r =>
        r.getLong(1) -> r // (target_dim, row)
      }.toMap
    assert(all.keySet == dims.map(_.toLong).toSet)
    for (d <- dims) {
      val single = graft.analyze.Explainer.deepLift(
        wideDf(1.0), cfg, p, "user_id", seqCat, seqCont, targetDim = d)
      val sRow = single.collect().head
      val aRow = all(d.toLong)
      single.columns.zipWithIndex.foreach { case (c, i) =>
        if (c.startsWith("attr_")) {
          val ai = aRow.getDouble(aRow.schema.fieldIndex(c))
          assert(ai == sRow.getDouble(i), s"dim $d col $c: $ai != ${sRow.getDouble(i)}")
        }
      }
    }
  }

  test("sumAcrossTime + importanceSummary match hand computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two rows, one 2-step seq feature + one already-flat feature
    val attrs = Seq(
      (1L, 1.0, -3.0, 0.5),
      (2L, 2.0, 1.0, -0.25)
    ).toDF("user_id", "attr_f_1", "attr_f_2", "attr_g")
    val summed = graft.analyze.Explainer.sumAcrossTime(attrs, Seq("f"), 2)
    assert(summed.columns.toSet == Set("user_id", "attr_g", "attr_f"))
    val byId = summed.collect().map(r =>
      r.getLong(0) -> r.getDouble(summed.columns.indexOf("attr_f"))).toMap
    assert(byId(1L) == -2.0 && byId(2L) == 3.0) // 1-3, 2+1

    // reference semantics: mean over ALL rows of the pos / neg parts
    val s = graft.analyze.Explainer.importanceSummary(summed)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // attr_f: pos part (0, 3) -> mean 1.5; neg part (-2, 0) -> mean -1.0
    assert(s("f") == ((1.5, -1.0, 2.5)))
    // attr_g: pos (0.5, 0) -> 0.25; neg (0, -0.25) -> -0.125
    assert(s("g") == ((0.25, -0.125, 0.375)))
  }

  test("DeepLift equals IG in the locally-linear regime") {
    // shrink every input toward the baseline (cont scaled 1e-3, embedding
    // table scaled 1e-3): along the whole IG path grad ~ grad(x) + O(eps),
    // so DeepLift (one gradient at x) and IG (path mean) coincide to O(eps)
    val dim = 6
    val p2 = p.clone()
    lay.mat("emb0", p2) :*= 1e-4
    val dl = attrsOf(graft.analyze.Explainer.deepLift(
      wideDf(1e-4), cfg, p2, "user_id", seqCat, seqCont, targetDim = dim))
    val ig = attrsOf(graft.analyze.Explainer.integratedGradients(
      wideDf(1e-4), cfg, p2, "user_id", seqCat, seqCont, targetDim = dim,
      steps = 128))
    val scale = ig.values.map(math.abs).max
    assert(scale > 0)
    ig.foreach { case (n, v) =>
      assert(math.abs(dl(n) - v) < 5e-3 * scale + 1e-15,
        s"$n: deeplift=${dl(n)} ig=$v (scale=$scale)") }
  }

  // ---- golden outputs: every value and the schema, bit for bit

  /** Three rows over the edge cases of the input path: a null code, codes
    * past the vocabulary and below 0 (clamped), null conts (read 0). */
  private def goldenWide = {
    import spark.implicits._
    Seq[(Long, Option[Int], Option[Int], Option[Double], Option[Double], Option[Double], Option[Double])](
      (1L, Some(1), Some(2), Some(0.4), Some(0.1), Some(-0.2), Some(0.7)),
      (2L, None, Some(7), None, Some(0.3), Some(0.5), None),
      (3L, Some(-1), Some(0), Some(1.5), Some(-0.6), Some(0.0), Some(2.0)))
      .toDF("user_id", "et_1", "et_2", "v_1", "v_2", "w_1", "w_2")
  }

  /** The schema's JSON hash, then each row's values in (id, keys) order. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): Fingerprint = {
    val rows = df.collect().map(r => r.toSeq.map {
      case l: Long => l.toDouble
      case d: Double => d
    }.toArray).sortBy(r => (r(0), r(1)))
    Fingerprint.of(df.schema.json.hashCode.toDouble +: rows.flatten)
  }

  test("golden: deepLiftAll over two target dims against a two-row baseline sample") {
    val baseCat = Array(Array(Array(0), Array(1)), Array(Array(2), Array(5)))
    val baseCont = Array(Array(Array(0.2, 0.1), Array(-0.3, 0.5)),
      Array(Array(1.0, -1.0), Array(0.25, 0.0)))
    val got = fingerprint(graft.analyze.Explainer.deepLiftAll(goldenWide, cfg, p,
      "user_id", seqCat, seqCont, Seq(1, 6), baseCat, baseCont))
    assert(got == GoldenDeepLiftAll, s"got $got")
  }

  test("golden: integratedGradients") {
    val got = fingerprint(graft.analyze.Explainer.integratedGradients(goldenWide, cfg, p,
      "user_id", seqCat, seqCont, targetDim = 6, steps = 8))
    assert(got == GoldenIg, s"got $got")
  }

  private val GoldenDeepLiftAll =
    Fingerprint(6876259246150009525L, 9.158672992609142E8, 9.158674104884286E8)
  private val GoldenIg =
    Fingerprint(2945610099829800634L, 9.473905526448444E8, 9.473905409874343E8)
}
