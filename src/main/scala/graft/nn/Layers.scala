package graft.nn

import breeze.linalg.{*, DenseMatrix, DenseVector, sum}
import breeze.numerics.{sigmoid, tanh}

/**
 * The layers both autoencoders compose, each written once — the role
 * attention_mechanisms.py plays for the reference's transformer.py and
 * lstm_autoencoder_sequence.py. A forward pass is an object that keeps what
 * its backward needs; serving runs the same forward and drops it.
 * Backward methods accumulate parameter gradients into the flat gradient
 * array through [[Params]] and return the input gradient.
 */
private[nn] object Layers {
  type M = DenseMatrix[Double]
  type V = DenseVector[Double]

  /** Named views over the flat parameter array `p` and its same-layout
    * gradient `grad` (null when only the forward runs). A linear layer `n`
    * owns `${n}_w` (in x out) and `${n}_b`. */
  final class Params(lay: ParamLayout, val p: Array[Double], val grad: Array[Double]) {
    def w(n: String): M = lay.mat(n, p)
    def v(n: String): V = lay.vec(n, p)
    def gw(n: String): M = lay.mat(n, grad)
    def gv(n: String): V = lay.vec(n, grad)
    /** The tables `${n}0`, `${n}1`, ... of `count` embedding columns. */
    def tables(n: String, count: Int, of: Array[Double]): Array[M] =
      Array.tabulate(count)(c => lay.mat(s"$n$c", of))

    /** Rows of x times w plus b. */
    def linear(n: String, x: M): M = {
      val y = x * w(s"${n}_w")
      y(*, ::) :+= v(s"${n}_b")
      y
    }
    def linear(n: String, x: V): V = (w(s"${n}_w").t * x) + v(s"${n}_b")
    /** Backward of `linear`: adds x.t * dY and dY's row sums to the
      * gradient; returns dY * w.t. */
    def linearBwd(n: String, x: M, dY: M): M = {
      gw(s"${n}_w") :+= x.t * dY
      val gB = gv(s"${n}_b")
      for (i <- 0 until dY.rows) gB :+= dY(i, ::).t
      dY * w(s"${n}_w").t
    }
    def linearBwd(n: String, x: V, dY: V): V = {
      gw(s"${n}_w") :+= x * dY.t
      gv(s"${n}_b") :+= dY
      w(s"${n}_w") * dY
    }
  }

  /** Inverted-dropout masks drawn from one RNG seeded with `dropSeed`, in
    * call order. The same (example, dropSeed) pair sees the same masks in
    * every call, which keeps finite differences exact at dropout > 0 and
    * lets the backward reuse the forward's masks. Rate 0 gives a null mask
    * and draws nothing. */
  final class Dropout(dropSeed: Long) {
    private lazy val rng = new java.util.Random(dropSeed)
    private def keep(rate: Double): Double =
      if (rng.nextDouble() < rate) 0.0 else 1.0 / (1.0 - rate)
    def mat(rate: Double, r: Int, c: Int): M =
      if (rate <= 0) null else DenseMatrix.tabulate(r, c)((_, _) => keep(rate))
    def vec(rate: Double, n: Int): V =
      if (rate <= 0) null else DenseVector.tabulate(n)(_ => keep(rate))
  }

  def masked(m: M, mask: M): M = if (mask == null) m else m *:* mask

  /** Softmax in place over a(off), a(off + stride), ... (n values): one
    * row of a column-major matrix, or a vector. */
  def softmax(a: Array[Double], off: Int, stride: Int, n: Int): Unit = {
    var mx = Double.NegativeInfinity
    var j = 0
    while (j < n) { mx = math.max(mx, a(off + j * stride)); j += 1 }
    var s = 0.0
    j = 0
    while (j < n) {
      val e = math.exp(a(off + j * stride) - mx)
      a(off + j * stride) = e
      s += e
      j += 1
    }
    j = 0
    while (j < n) { a(off + j * stride) /= s; j += 1 }
  }
  def softmax(v: V): Unit = softmax(v.data, v.offset, v.stride, v.length)
  def softmaxRow(m: M, i: Int): Unit = {
    require(!m.isTranspose)
    softmax(m.data, m.offset + i, m.majorStride, m.cols)
  }

  /** Softmax backward: the gradient of the scores given the
    * probabilities p and their gradient dp. */
  def softmaxBwd(p: V, dp: V): V = (dp - sum(p *:* dp)) *:* p

  /** The softmax cross-entropy head in place over its logits: returns the
    * NLL of class y and leaves (p - onehot(y)) / div, the logit gradient of
    * NLL / div. */
  def softmaxCe(a: Array[Double], off: Int, stride: Int, n: Int, y: Int, div: Double): Double = {
    softmax(a, off, stride, n)
    val iy = off + y * stride
    val nll = -math.log(math.max(a(iy), 1e-12))
    a(iy) -= 1.0
    if (div != 1.0) {
      var j = 0
      while (j < n) { a(off + j * stride) /= div; j += 1 }
    }
    nll
  }
  def softmaxCe(v: V, y: Int, div: Double): Double =
    softmaxCe(v.data, v.offset, v.stride, v.length, y, div)
  def softmaxCeRow(m: M, i: Int, y: Int, div: Double): Double = {
    require(!m.isTranspose)
    softmaxCe(m.data, m.offset + i, m.majorStride, m.cols, y, div)
  }

  /** Column c's code clamped to a table of `rows` rows; null codes read 0. */
  def code(codes: Array[Int], c: Int, rows: Int): Int =
    math.min(math.max(if (codes != null) codes(c) else 0, 0), rows - 1)

  /** Embedding lookup: each table's row at its column's code, side by side
    * from dst(0). */
  def lookup(tables: Array[M], codes: Array[Int], dst: V): Unit = {
    var off = 0
    for (c <- tables.indices) {
      val tb = tables(c)
      dst(off until off + tb.cols) := tb(code(codes, c, tb.rows), ::).t
      off += tb.cols
    }
  }
  /** Backward of `lookup`: adds each slice of src to its table row. */
  def scatter(tablesG: Array[M], codes: Array[Int], src: V): Unit = {
    var off = 0
    for (c <- tablesG.indices) {
      val tb = tablesG(c)
      tb(code(codes, c, tb.rows), ::) :+= src(off until off + tb.cols).t
      off += tb.cols
    }
  }
  /** The seq input, one row per timestep: the lookups, then the nCont
    * continuous values. */
  def seqInput(tables: Array[M], catCodes: Array[Array[Int]],
      cont: Array[Array[Double]], t: Int, nCont: Int): M = {
    val embSum = tables.map(_.cols).sum
    val x0 = DenseMatrix.zeros[Double](t, embSum + nCont)
    for (i <- 0 until t) {
      val row = x0(i, ::).t
      lookup(tables, catCodes(i), row)
      for (c <- 0 until nCont) row(embSum + c) = cont(i)(c)
    }
    x0
  }
  def seqScatter(tablesG: Array[M], catCodes: Array[Array[Int]], dX0: M, t: Int): Unit =
    for (i <- 0 until t) scatter(tablesG, catCodes(i), dX0(i, ::).t)

  private val LnEps = 1e-5

  /** Row LayerNorm of x with gain `${n}_g` and shift `${n}_b`. */
  final class LayerNorm(P: Params, n: String, x: M) {
    private val g = P.v(s"${n}_g")
    private val b = P.v(s"${n}_b")
    private val xhat = DenseMatrix.zeros[Double](x.rows, x.cols)
    private val inv = new Array[Double](x.rows)
    val out: M = DenseMatrix.zeros[Double](x.rows, x.cols)
    for (i <- 0 until x.rows) {
      val row = x(i, ::).t
      val mu = sum(row) / row.length
      val c = row - mu
      val istd = 1.0 / math.sqrt(sum(c *:* c) / row.length + LnEps)
      inv(i) = istd
      xhat(i, ::) := (c * istd).t
      out(i, ::) := ((c * istd) *:* g + b).t
    }
    def backward(dOut: M): M = {
      val dG = P.gv(s"${n}_g"); val dB = P.gv(s"${n}_b")
      val cols = xhat.cols.toDouble
      val dX = DenseMatrix.zeros[Double](xhat.rows, xhat.cols)
      for (i <- 0 until xhat.rows) {
        val dy = dOut(i, ::).t
        val xh = xhat(i, ::).t
        dG :+= dy *:* xh
        dB :+= dy
        val dxhat = dy *:* g
        val s1 = sum(dxhat)
        val s2 = sum(dxhat *:* xh)
        dX(i, ::) := ((dxhat - (xh * (s2 / cols)) - (s1 / cols)) * inv(i)).t
      }
      dX
    }
  }

  /**
   * Multi-head scaled dot-product attention with its q/k/v/o projections
   * `${n}q` ... `${n}o` (transformer.py:30-47, attention_mechanisms.py:63-99):
   * q reads xq, k and v read xkv (self-attention when they are one matrix).
   * `causal` masks the future; the weights go through dropout at `rate`
   * before @V.
   */
  final class Attention(P: Params, n: String, heads: Int, xq: M, xkv: M,
      causal: Boolean, drop: Dropout, rate: Double) {
    private val q = P.linear(s"${n}q", xq)
    private val k = P.linear(s"${n}k", xkv)
    private val v = P.linear(s"${n}v", xkv)
    private val hd = q.cols / heads
    private val scale = math.sqrt(hd.toDouble)
    private val attn = new Array[M](heads)
    private val attnMask = new Array[M](heads)
    private val ctx = DenseMatrix.zeros[Double](xq.rows, q.cols)
    for (hh <- 0 until heads) {
      val sl = hh * hd until (hh + 1) * hd
      val s = (q(::, sl) * k(::, sl).t) / scale
      if (causal) for (i <- 0 until s.rows; j <- i + 1 until s.cols) s(i, j) = -1e30
      for (i <- 0 until s.rows) softmaxRow(s, i)
      attn(hh) = s
      attnMask(hh) = drop.mat(rate, s.rows, s.cols)
      ctx(::, sl) := masked(s, attnMask(hh)) * v(::, sl)
    }
    val out: M = P.linear(s"${n}o", ctx)

    /** Returns (dResid + d xq, d xkv); self-attention folds d xkv into the
      * first and returns null as the second. */
    def backward(dOut: M, dResid: M): (M, M) = {
      val dCtx = P.linearBwd(s"${n}o", ctx, dOut)
      val dQ = DenseMatrix.zeros[Double](q.rows, q.cols)
      val dK = DenseMatrix.zeros[Double](k.rows, k.cols)
      val dV = DenseMatrix.zeros[Double](v.rows, v.cols)
      for (hh <- 0 until heads) {
        val sl = hh * hd until (hh + 1) * hd
        val a = attn(hh)
        val dCtxH = dCtx(::, sl)
        dV(::, sl) :+= masked(a, attnMask(hh)).t * dCtxH
        val dA = masked(dCtxH * v(::, sl).t, attnMask(hh))
        val dS = DenseMatrix.zeros[Double](a.rows, a.cols)
        for (i <- 0 until a.rows) dS(i, ::) := softmaxBwd(a(i, ::).t, dA(i, ::).t).t
        dS :/= scale
        dQ(::, sl) :+= dS * k(::, sl)
        dK(::, sl) :+= dS.t * q(::, sl)
      }
      val dXq = dResid + P.linearBwd(s"${n}q", xq, dQ)
      val dXk = P.linearBwd(s"${n}k", xkv, dK)
      val dXv = P.linearBwd(s"${n}v", xkv, dV)
      if (xkv eq xq) (dXq + dXk + dXv, null) else (dXq, dXk + dXv)
    }
  }

  /** ReLU feed-forward block `${n}ff1` -> ReLU -> dropout -> `${n}ff2`
    * (transformer.py:158); ReLU's subgradient at 0 is 0. */
  final class Ffn(P: Params, n: String, x: M, drop: Dropout, rate: Double) {
    private val pre = P.linear(s"${n}ff1", x)
    private val actMask = drop.mat(rate, pre.rows, pre.cols)
    private val act = masked(pre.map(v => if (v > 0) v else 0.0), actMask)
    val out: M = P.linear(s"${n}ff2", act)
    /** Returns dResid + d x. */
    def backward(dOut: M, dResid: M): M = {
      val dPre = masked(P.linearBwd(s"${n}ff2", act, dOut), actMask)
      for (i <- 0 until dPre.rows; j <- 0 until dPre.cols)
        if (pre(i, j) <= 0) dPre(i, j) = 0.0
      dResid + P.linearBwd(s"${n}ff1", x, dPre)
    }
  }

  /** Per-step LSTM state in processing order: h and c for steps 0..t (row
    * 0 holds the initial state) and the four gate activations. */
  final class CellCache(t: Int, h: Int) {
    val hs: M = DenseMatrix.zeros[Double](t + 1, h)
    val cs: M = DenseMatrix.zeros[Double](t + 1, h)
    val ig: M = DenseMatrix.zeros[Double](t, h)
    val fg: M = DenseMatrix.zeros[Double](t, h)
    val gg: M = DenseMatrix.zeros[Double](t, h)
    val og: M = DenseMatrix.zeros[Double](t, h)
  }

  /** One LSTM cell (nn.LSTM gate equations) with parameters
    * `${pre}{w,u,b}{i,f,g,o}$suf`, looked up once. */
  final class LstmCell(P: Params, pre: String, suf: String) {
    private val names = Array("i", "f", "g", "o")
    private val w = names.map(g => P.w(s"${pre}w$g$suf"))
    private val u = names.map(g => P.w(s"${pre}u$g$suf"))
    private val b = names.map(g => P.v(s"${pre}b$g$suf"))
    private def gate(k: Int, x: V, hp: V): V = w(k).t * x + u(k).t * hp + b(k)

    /** One step from (hp, cp) on input x; returns (h, c). With a cache,
      * records step s's gates and new state for the backward. */
    def step(x: V, hp: V, cp: V, cache: CellCache, s: Int): (V, V) = {
      val iv = sigmoid(gate(0, x, hp))
      val fv = sigmoid(gate(1, x, hp))
      val gv = tanh(gate(2, x, hp))
      val ov = sigmoid(gate(3, x, hp))
      val cv = (fv *:* cp) + (iv *:* gv)
      val hv = ov *:* tanh(cv)
      if (cache != null) {
        cache.ig(s, ::) := iv.t; cache.fg(s, ::) := fv.t
        cache.gg(s, ::) := gv.t; cache.og(s, ::) := ov.t
        cache.cs(s + 1, ::) := cv.t
        cache.hs(s + 1, ::) := hv.t
      }
      (hv, cv)
    }

    /** Backward of step s given its input x, the gradient dh of its h and
      * dcNext of its c; returns (d x, d h_prev, d c_prev). */
    def stepBwd(cc: CellCache, s: Int, x: V, dh: V, dcNext: V): (V, V, V) = {
      val cv = cc.cs(s + 1, ::).t
      val tc = tanh(cv)
      val ov = cc.og(s, ::).t; val iv = cc.ig(s, ::).t
      val fv = cc.fg(s, ::).t; val gv = cc.gg(s, ::).t
      val dO = dh *:* tc *:* ov *:* (1.0 - ov)
      val dC = (dh *:* ov *:* (1.0 - (tc *:* tc))) + dcNext
      val dF = dC *:* cc.cs(s, ::).t *:* fv *:* (1.0 - fv)
      val dI = dC *:* gv *:* iv *:* (1.0 - iv)
      val dG = dC *:* iv *:* (1.0 - (gv *:* gv))
      val hp = cc.hs(s, ::).t
      for ((g, dGate) <- names.zip(Seq(dI, dF, dG, dO))) {
        P.gw(s"${pre}w$g$suf") :+= x * dGate.t
        P.gw(s"${pre}u$g$suf") :+= hp * dGate.t
        P.gv(s"${pre}b$g$suf") :+= dGate
      }
      (w(0) * dI + w(1) * dF + w(2) * dG + w(3) * dO,
        u(0) * dI + u(1) * dF + u(2) * dG + u(3) * dO,
        dC *:* fv)
    }
  }
}
