package graft

import org.apache.spark.sql.functions._
import graft.nn.{LstmAE, LstmAeConfig}
import graft.train.Noise

/** I18 noise augmentation + LSTM encoder forward. */
class NoiseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val seqDf = (for (u <- 1 to 10; r <- 1 to 20)
    yield (u.toLong, r.toLong, (r % 5 + 1).toLong, r * 1.0))
    .toDF("user_id", "rank", "code", "v")

  test("cat substitution: deterministic per seed, stays within vocab, rate ~ p") {
    val a = Noise.substituteCat(seqDf, "code", p = 0.3, vocab = 5, seed = 7)
    val b = Noise.substituteCat(seqDf, "code", p = 0.3, vocab = 5, seed = 7)
    assert(a.collect().sameElements(b.collect()))
    val codes = a.select("code").as[Long].collect()
    assert(codes.forall(c => c >= 1 && c <= 5))
    val changed = a.join(seqDf.withColumnRenamed("code", "orig"),
      Seq("user_id", "rank")).filter($"code" =!= $"orig").count()
    assert(changed > 10 && changed < 90) // ~0.3*200 with slack
  }

  test("gaussian noise: deterministic per seed, untouched rows exact") {
    val a = Noise.gaussianCont(seqDf, "v", p = 0.5, sigma = 0.1, seed = 3)
    val joined = a.withColumnRenamed("v", "nv")
      .join(seqDf, Seq("user_id", "rank", "code"))
    val untouched = joined.filter($"nv" === $"v").count()
    assert(untouched > 50 && untouched < 150)
  }

  test("bounded shuffle: displacement <= k, permutation per entity") {
    val k = 3
    val sh = Noise.boundedShuffle(seqDf, Seq("user_id"), k, seed = 5)
    val rows = sh.select($"user_id", $"rank", $"shuffled_rank".cast("long")).collect()
    assert(rows.forall(r => math.abs(r.getLong(1) - r.getLong(2)) <= k))
    // shuffled ranks form a permutation of 1..20 per user
    val perUser = rows.groupBy(_.getLong(0))
    assert(perUser.values.forall(_.map(_.getLong(2)).sorted.sameElements(1L to 20L)))
    // with k>0 at least something moved
    assert(rows.exists(r => r.getLong(1) != r.getLong(2)))
  }

  /** Serving forward of a seeded-init LSTM encoder. */
  private def embed(cfg: LstmAeConfig, cat: Array[Array[Int]],
      cont: Array[Array[Double]], nsCat: Array[Int] = null,
      nsCont: Array[Double] = null): Array[Double] =
    LstmAE.lossGradEmbed(cfg, cfg.layout, cfg.initParams(), null, cat, cont,
      nsCat, nsCont, embedOnly = true)._2

  private val lstm = LstmAeConfig(hidden = 8, outDim = 6, attnDim = 0,
    seqLen = 3, vocabSizes = Seq(5), nCont = 2)

  test("LSTM encoder forward: deterministic, finite, ReLU-nonnegative") {
    val cat = Array(Array(1), Array(2), Array(3))
    val cont = Array(Array(0.1, 0.5), Array(0.2, 0.4), Array(0.3, 0.3))
    val e1 = embed(lstm, cat, cont)
    assert(e1.length == 6)
    assert(e1.sameElements(embed(lstm, cat, cont)))
    assert(e1.forall(v => v >= 0 && !v.isNaN && !v.isInfinite))
    assert(!e1.sameElements(embed(lstm, Array(Array(4), Array(2), Array(3)), cont)))
  }

  test("LSTM non-seq fuse path: MLP'd ns embeddings + ns cont change the embedding") {
    val c = lstm.copy(nonSeqVocabSizes = Seq(4), nNonSeqCont = 1, nsMlpDim = 3)
    val cat = Array(Array(1), Array(2), Array(3))
    val cont = Array(Array(0.1, 0.5), Array(0.2, 0.4), Array(0.3, 0.3))
    val e1 = embed(c, cat, cont, Array(2), Array(0.7))
    assert(e1.length == 6 && e1.forall(v => v >= 0 && !v.isNaN))
    assert(e1.sameElements(embed(c, cat, cont, Array(2), Array(0.7))))
    assert(!e1.sameElements(embed(c, cat, cont, Array(1), Array(0.7))),
      "changing the ns cat code must change the embedding")
    assert(!e1.sameElements(embed(c, cat, cont, Array(2), Array(0.1))),
      "changing the ns cont value must change the embedding")
  }

  test("I5 MHA pooling: embedding is finite and time-order sensitive") {
    val c = lstm.copy(hidden = 4, attnHeads = 2, seed = 9L)
    val cat = Array(Array(1), Array(2), Array(3))
    val cont = Array(Array(0.1, 0.2), Array(0.5, 0.6), Array(0.9, 1.0))
    val e1 = embed(c, cat, cont)
    assert(e1.forall(v => !v.isNaN && !v.isInfinite))
    // self-attention + sum-over-time pooling is order-free on its own; the
    // order reaches the pooled vector through the LSTM outputs it attends over
    assert(!e1.sameElements(embed(c, cat.reverse, cont.reverse)))
  }

  test("I5 wiring: attnHeads > 1 routes the encoder context through MHA") {
    val t = 5
    val cat = Array.fill(t)(Array(1))
    val cont = Array.tabulate(t)(i => Array(i / 10.0, 1.0 - i / 10.0))
    val bah = lstm.copy(seqLen = t, seed = 3L)
    val mha = bah.copy(attnHeads = 4)
    assert(mha.layout.specs.exists(_.name == "mq_w") &&
      !bah.layout.specs.exists(_.name == "mq_w"))
    val eB = embed(bah, cat, cont)
    val eM = embed(mha, cat, cont)
    assert(eM.length == 6 && eM.forall(v => !v.isNaN && !v.isInfinite))
    assert(!eB.sameElements(eM))
  }
}
