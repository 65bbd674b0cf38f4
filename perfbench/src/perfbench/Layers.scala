package perfbench

import java.util.SplittableRandom

import graft.nn.{AeConfig, LstmAE, LstmAeConfig, TransformerAE}

/** Turns traced spans into the per-layer metrics, and times the `nn`
  * kernels directly on the driver. */
object Layers {

  def named(stats: Map[Int, SpanStats], name: String): Seq[SpanStats] =
    stats.values.filter(_.span.name == name).toSeq.sortBy(_.span.id)

  /** Per-call medians of the standard span fields. */
  def fields(prefix: String, ss: Seq[SpanStats], cores: Int): Map[String, Double] =
    if (ss.isEmpty) Map.empty
    else {
      def m(f: SpanStats => Double) = Stats.median(ss.map(f))
      Map(s"$prefix.s" -> m(_.wallS), s"$prefix.jobs" -> m(_.jobs.toDouble),
        s"$prefix.tasks" -> m(_.tasks.toDouble), s"$prefix.driver_s" -> m(_.driverS),
        s"$prefix.core_util" -> m(_.coreUtil(cores)),
        s"$prefix.input_rows" -> m(_.inputRows.toDouble),
        s"$prefix.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
        s"$prefix.gc_s" -> m(_.gcS), s"$prefix.codegen_ms" -> m(_.codegenMs))
    }

  /** Milliseconds of timed sweeps per kernel. */
  val SweepMs = 400L

  /** Median microseconds per call of `f` over `n` inputs: a warm-up sweep,
    * then sweeps for about [[SweepMs]]. */
  def perCallUs(n: Int)(f: Int => Unit): Double = {
    (0 until n).foreach(f)
    val rounds = scala.collection.mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + SweepMs * 1000000L
    while (rounds.size < 3 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      rounds += (System.nanoTime() - t0) / 1e3 / n
    }
    Stats.median(rounds.toSeq)
  }

  /** Random model inputs of the given shape (codes include 0 = UNK). */
  private def inputs(seqLen: Int, vocab: Seq[Int], nCont: Int, n: Int) = {
    val r = new SplittableRandom(7)
    Array.fill(n)((
      Array.fill(seqLen)(vocab.map(v => r.nextInt(v + 1)).toArray),
      Array.fill(seqLen)(Array.fill(nCont)(r.nextDouble()))))
  }

  def tfEmbedUs(cfg: AeConfig): Double = {
    val lay = cfg.layout
    val p = cfg.initParams()
    val xs = inputs(cfg.seqLen, cfg.vocabSizes, cfg.nCont, 64)
    perCallUs(xs.length)(i => TransformerAE.embed(cfg, lay, p, xs(i)._1, xs(i)._2))
  }

  def tfLossGradUs(cfg: AeConfig): Double = {
    val lay = cfg.layout
    val p = cfg.initParams()
    val g = new Array[Double](p.length)
    val xs = inputs(cfg.seqLen, cfg.vocabSizes, cfg.nCont, 64)
    perCallUs(xs.length)(i => TransformerAE.lossAndGrad(cfg, lay, p, g, xs(i)._1, xs(i)._2))
  }

  def lstmLossGradUs(cfg: LstmAeConfig): Double = {
    val lay = cfg.layout
    val p = cfg.initParams()
    val g = new Array[Double](p.length)
    val xs = inputs(cfg.seqLen, cfg.vocabSizes, cfg.nCont, 64)
    perCallUs(xs.length)(i => LstmAE.lossGradEmbed(cfg, lay, p, g, xs(i)._1, xs(i)._2))
  }
}
