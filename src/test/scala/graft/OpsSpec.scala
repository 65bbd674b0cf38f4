package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Dsir, ImageIoDecoder, IvfIndex, Multimodal, NgramLm, Profile, QualityFilter, Text, Vectors}

/** Invariant specs for the LLM-pipeline operators on tiny inline data. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),  // near-dup of 1
    (3L, "completely different content with nothing shared here at all"),
    (4L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups exact duplicates only") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
    val dupGroup = g.find(_.getLong(2) == 2)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 1L) // keep min id
    assert(g.length == 4) // 5 docs, one pair merged
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated doc") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash-LSH pairs are a subset of exact jaccard pairs at same tau") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 4L))) // identical docs always collide
  }

  test("word_shingles equals the HOF formulation on the real corpus") {
    // the codegen'd expression must emit exactly the shingle universe of
    // array_distinct(transform(sequence(...), slice+concat_ws)) — the
    // formulation the DuckDB oracles mirror
    val real = graft.core.Tables.load(spark, sf, "documents")
    def hofShingles(n: Int) = {
      val toks = graft.ops.Text.tokens(col("text"))
      when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array())
    }
    for (n <- Seq(2, 3, 5)) {
      val fast = real.select(col("doc_id"),
          explode(graft.functions.WordShingles.wordShingles(col("text"), n)).as("sh"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val hof = real.select(col("doc_id"),
          explode(array_distinct(hofShingles(n))).as("sh"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(fast == hof, s"n=$n: universes differ " +
        s"(fast-only=${(fast -- hof).take(3)}, hof-only=${(hof -- fast).take(3)})")
    }
  }

  test("dedup groups: connected components resolve to the component minimum") {
    // pair graph: {1,2,4} via shared text, plus a manual chain 7-8-9
    // (7-8, 8-9 but never 7-9) to prove transitivity, and 5-6 isolated
    val pairs = Seq((1L, 2L), (1L, 4L), (2L, 4L), (7L, 8L), (8L, 9L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val g = Dedup.dedupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 1L, 2L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 5L -> 5L, 6L -> 5L))
  }

  test("top shingles: ranked by document frequency with lexicographic ties") {
    val top = Dedup.topShingles(docs, "text", "doc_id", n = 3, k = 3).collect()
    // docs 1, 2, 4 share the "the quick brown fox jumps over the lazy"
    // prefix, so its shingles all have df 3; lexicographic tiebreak puts
    // "brown fox jumps" first
    assert(top.head.getString(0) == "brown fox jumps" && top.head.getLong(1) == 3L)
    assert(top.forall(_.getLong(1) == 3L))
    assert(top.map(_.getString(0)).toSeq == top.map(_.getString(0)).toSeq.sorted)
  }

  test("repetition score: repeated shingles raise the ratio, distinct text scores 0") {
    val rep = Text.repetitionScore(Seq(
      (1L, "a b c a b c a b c"),      // "a b c" repeated: high rep
      (2L, "one two three four five") // all distinct: rep 0
    ).toDF("doc_id", "text"), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep(1L).getDouble(3) > 0.5)
    assert(rep(2L).getDouble(3) == 0.0)
    assert(rep(2L).getLong(1) == 3L && rep(2L).getLong(2) == 3L)
  }

  test("fast (xxhash64) minhash agrees with the md5 oracle family") {
    // both variants verify candidates with exact Jaccard, so outputs are
    // subsets of the exact pairs; the hash family only affects which true
    // pairs the bands surface. On real sf data the two must agree closely.
    val real = graft.core.Tables.load(spark, sf, "documents")
    val md5p = Dedup.minhashLshPairs(real, "text", "doc_id", 3, 16, 4, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Dedup.minhashLshPairs(real, "text", "doc_id", 3, 16, 4, 0.4,
        fastHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(real, "text", "doc_id", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.subsetOf(exact))
    val denom = math.max(md5p.size, 1)
    val agree = fast.intersect(md5p).size.toDouble / denom
    assert(agree >= 0.8, s"fast/md5 minhash agreement too low: $agree " +
      s"(fast=${fast.size}, md5=${md5p.size})")
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Text.simhash16(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) <= 6)
  }

  test("cosine: self-similarity 1, brute-force top-k ranks by similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0).select($"vec_id".as("qid"), $"embedding")
    val c = vecs.filter($"vec_id" =!= 0).select($"vec_id".as("cid"), $"embedding")
    val top = Vectors.bruteForceTopK(q, c, 3).orderBy("rnk")
      .select("cid").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("multimodal decode stub: deterministic metadata from payload bytes") {
    val meta = Multimodal.decodeMetadata(spark,
      Multimodal.withBinaryPayload(docs, "text"), "doc_id")
    val m = meta.filter($"doc_id" === 5).head()
    assert(m.getLong(1) == "short text".getBytes("UTF-8").length)
    assert(m.getLong(2) == 64 + 10 % 512 && m.getLong(4) == 10 % 30 + 1)
    assert(meta.count() == 5)
  }

  test("multimodal frame sampling: deterministic counts and feature shape") {
    val withPayload = Multimodal.withBinaryPayload(docs, "text")
    val frames = Multimodal.sampleFrames(spark, withPayload, "doc_id",
      stride = 2, maxFrames = 3, frameLen = 16, featDim = 4).collect()
    // per doc: min(ceil(nFrames/stride), maxFrames) rows, nFrames = len%30+1
    val expected = docs.collect().map { r =>
      val n = r.getString(1).getBytes("UTF-8").length % 30 + 1
      r.getLong(0) -> math.min((n + 1) / 2, 3)
    }.toMap
    val got = frames.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(got == expected, s"got $got want $expected")
    assert(frames.forall(_.getSeq[Float](3).size == 4))
    assert(frames.forall(r => r.getAs[Array[Byte]](2).length <= 16))
    // deterministic: a second run produces identical feature norms
    val again = Multimodal.sampleFrames(spark, withPayload, "doc_id",
      stride = 2, maxFrames = 3, frameLen = 16, featDim = 4).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](3).sum)).toSet
    assert(key(frames) == key(again))
  }

  test("multimodal: a custom MediaDecoder plugs in with no operator change") {
    // a "codec" that reports exactly 2 frames and constant 3-byte frames —
    // the operators must route every decode call through it
    object TwoFrameDecoder extends graft.ops.MediaDecoder {
      override def probe(p: Array[Byte]): (Long, Long, Long) = (320L, 240L, 2L)
      override def decodeFrame(p: Array[Byte], i: Long, len: Int): Array[Byte] =
        Array[Byte](1, 2, i.toByte)
      override def features(f: Array[Byte], dim: Int): Array[Float] =
        Array.fill(dim)(f.length.toFloat)
    }
    val withPayload = Multimodal.withBinaryPayload(docs, "text")
    val meta = Multimodal.decodeMetadata(spark, withPayload, "doc_id",
      decoder = TwoFrameDecoder).collect()
    assert(meta.forall(r => r.getLong(2) == 320L && r.getLong(4) == 2L))
    val frames = Multimodal.sampleFrames(spark, withPayload, "doc_id",
      stride = 1, maxFrames = 8, frameLen = 16, featDim = 2,
      decoder = TwoFrameDecoder).collect()
    assert(frames.length == docs.count() * 2) // 2 frames per doc, stride 1
    assert(frames.forall(r => r.getAs[Array[Byte]](2).toSeq.take(2) == Seq(1.toByte, 2.toByte)))
    assert(frames.forall(r => r.getSeq[Float](3) == Seq(3.0f, 3.0f)))
  }

  test("context-window chunking: coverage, overlap, tail semantics") {
    // 10 tokens, chunk 4, overlap 1 (stride 3) -> windows start 0,3,6,9:
    // nChunks = ceil((10-4)/3)+1 = 3 ... check formula: (10-4+2)/3+1 = 3
    // windows [1..4],[4..7],[7..10] — full coverage, 1-token overlaps
    val doc = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2L, "a b")).toDF("doc_id", "text")
    val ch = Text.chunk(doc, "text", "doc_id", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(ch((1L, 0L)) == ((4L, "t0 t1 t2 t3")))
    assert(ch((1L, 1L)) == ((4L, "t3 t4 t5 t6")))
    assert(ch((1L, 2L)) == ((4L, "t6 t7 t8 t9")))
    assert(!ch.contains((1L, 3L)))
    // short doc: one (short) window, no padding
    assert(ch((2L, 0L)) == ((2L, "a b")))
    // every token of every doc appears in at least one chunk
    val covered = ch.collect { case ((id, _), (_, txt)) if id == 1L => txt.split(" ") }
      .flatten.toSet
    assert(covered == (0 until 10).map(i => s"t$i").toSet)
  }

  test("sequence packing: greedy fill, cap respected, order preserved") {
    // chunks of 4,4,2 tokens with max 8: greedy -> pack0 = [c0,c1] (8),
    // pack1 = [c2] (2); an oversized chunk becomes its own pack unsplit
    val chunks = Seq(
      (1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "e f g h"), (1L, 2L, 2L, "i j"),
      (2L, 0L, 12L, "x " * 11 + "x")
    ).toDF("doc_id", "chunk_idx", "n_tokens", "chunk_text")
    val packs = Text.packChunks(chunks, "doc_id", maxTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(packs((1L, 0L)) == ((2L, 8L, "a b c d e f g h")))
    assert(packs((1L, 1L)) == ((1L, 2L, "i j")))
    assert(packs((2L, 0L))._2 == 12L) // oversize pack kept whole, flagged by size
    assert(packs.size == 3)
    // composed with chunk(): every pack <= max (given chunk <= max), and
    // re-joining a doc's packs in order reproduces the chunk stream
    val doc = Seq((7L, (0 until 25).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val ch = graft.ops.Text.chunk(doc, "text", "doc_id", chunkTokens = 6, overlap = 0)
    val pk = Text.packChunks(ch, "doc_id", maxTokens = 13)
      .orderBy("pack_idx").collect()
    assert(pk.forall(_.getLong(3) <= 13))
    val rejoined = pk.map(_.getString(4)).mkString(" ")
    assert(rejoined == (0 until 25).map(i => s"w$i").mkString(" "))
  }

  test("chunk/pack accept a custom tokenizer; whitespace twin is identical") {
    val doc = Seq((1L, "a b c d e f g"), (2L, "h i"), (3L, "   ")).toDF("doc_id", "text")
    // tokensCol equal to the whitespace split (blank doc -> empty array,
    // mirroring the trim gate) must reproduce the default output exactly
    val pre = doc.withColumn("toks",
      when(length(trim($"text")) > 0, Text.tokens($"text"))
        .otherwise(array().cast("array<string>")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val d = Text.chunk(doc, "text", "doc_id", chunkTokens = 3, overlap = 1)
    val c = Text.chunk(pre, "text", "doc_id", chunkTokens = 3, overlap = 1,
      tokensCol = Some("toks"))
    assert(canon(c) == canon(d) && d.count() > 0)
    // blank doc yields no rows (the stated zero-token contract)
    assert(!d.select("doc_id").as[Long].collect().contains(3L))
    // a real tokenizer's counts drive pack boundaries: doubling the counts
    // under the same cap halves what fits per pack
    val ch = Text.chunk(doc, "text", "doc_id", chunkTokens = 2, overlap = 0)
      .withColumn("bpe_tokens", $"n_tokens" * 2)
    val whitespace = Text.packChunks(ch, "doc_id", maxTokens = 4)
    val bpe = Text.packChunks(ch, "doc_id", maxTokens = 4, tokenCountCol = "bpe_tokens")
    assert(canon(bpe.drop("n_tokens")) != canon(whitespace.drop("n_tokens")))
    assert(bpe.filter($"doc_id" === 1L).count() >
      whitespace.filter($"doc_id" === 1L).count())
  }

  test("cross-doc packing: conservation, fill ratio dominates doc-scoped") {
    // many short docs: doc-scoped packing strands most of each pack's
    // budget; cross-doc packing fills toward maxTokens
    val doc = (1L to 40L).map(i => (i, s"w${i}a w${i}b w${i}c")).toDF("doc_id", "text")
    val ch = Text.chunk(doc, "text", "doc_id", chunkTokens = 8, overlap = 0)
    val perDoc = Text.packChunks(ch, "doc_id", maxTokens = 24)
    val xdoc = Text.packChunksAcrossDocs(ch, "doc_id", maxTokens = 24, nBuckets = 4)
    // token + chunk conservation across the repartition/fold
    assert(xdoc.agg(sum("n_tokens")).head.getLong(0) ==
      perDoc.agg(sum("n_tokens")).head.getLong(0))
    assert(xdoc.agg(sum("n_chunks")).head.getLong(0) == ch.count())
    // every pack within cap (no chunk exceeds it here), spanning docs
    assert(xdoc.filter($"n_tokens" > 24).count() == 0)
    assert(xdoc.filter($"n_docs" > 1).count() > 0)
    val fill = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(avg("n_tokens")).head.getDouble(0)
    assert(fill(xdoc) > fill(perDoc))
    // deterministic under different parallelism (content-derived buckets)
    val again = Text.packChunksAcrossDocs(ch.repartition(7), "doc_id",
      maxTokens = 24, nBuckets = 4)
    assert(again.collect().map(_.toSeq).toSet == xdoc.collect().map(_.toSeq).toSet)
  }

  test("cross-doc packing edge cases: oversize chunk isolated, empty input empty") {
    // an oversize chunk becomes its own (overflowing) pack — never merged
    // with neighbors, never truncated (same contract as the doc-scoped fold)
    val chunks = Seq(
      (1L, 0L, 3L, "a b c"), (1L, 1L, 30L, ("x " * 29).trim), (1L, 2L, 3L, "d e f")
    ).toDF("doc_id", "chunk_idx", "n_tokens", "chunk_text")
    val packs = Text.packChunksAcrossDocs(chunks, "doc_id", maxTokens = 10, nBuckets = 4)
      .orderBy("pack_idx").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    // pack 0 = [c0] (3), pack 1 = [c1] (30, overflowing alone), pack 2 = [c2]
    assert(packs.toSeq == Seq((0L, 1L, 3L), (1L, 1L, 30L), (2L, 1L, 3L)))
    // empty chunk table -> empty pack table, correct schema
    val empty = Text.packChunksAcrossDocs(chunks.filter($"doc_id" < 0),
      "doc_id", maxTokens = 10, nBuckets = 4)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq ==
      Seq("bucket", "pack_idx", "n_docs", "n_chunks", "n_tokens", "pack_text"))
    assert(Text.packChunks(chunks.filter($"doc_id" < 0), "doc_id", 10).count() == 0)
  }

  test("BPE / n-gram LMs / quality classifier persist and reload identically") {
    import graft.ops.Bpe
    val dir = tempDir("graft_persist").toString
    val docs = graft.core.Tables.load(spark, sf, "documents").limit(80)
    // BPE: fitted merges round-trip in rank order; tokenization identical
    val m = Bpe.fit(docs, "text", nMerges = 24)
    Bpe.save(m, spark, s"$dir/bpe")
    val m2 = Bpe.load(spark, s"$dir/bpe")
    assert(m2.pairs == m.pairs)
    // bigram LM + Kneser-Ney: per-doc scores identical after reload
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lm = NgramLm.fit(docs, "text")
    NgramLm.save(lm, s"$dir/lm")
    assert(scores(NgramLm.load(spark, s"$dir/lm").score(docs, "text", "doc_id")) ==
      scores(lm.score(docs, "text", "doc_id")))
    val kn = NgramLm.fitKneserNey(docs, "text")
    NgramLm.saveKneserNey(kn, s"$dir/kn")
    assert(scores(NgramLm.loadKneserNey(spark, s"$dir/kn").score(docs, "text", "doc_id")) ==
      scores(kn.score(docs, "text", "doc_id")))
    // quality classifier: probabilities identical after reload
    val labeled = docs.withColumn("label", (col("source") === "src2").cast("int"))
    val qm = QualityFilter.fit(labeled, "text", "label", numFeatures = 1 << 12)
    QualityFilter.save(qm, spark, s"$dir/qf")
    val qm2 = QualityFilter.load(spark, s"$dir/qf")
    val a = QualityFilter.score(qm, docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = QualityFilter.score(qm2, docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b && qm2.numFeatures == (1 << 12))
  }

  test("chunkSentences: greedy sentence packing, overflow sentence, empty doc") {
    val docs = Seq(
      (1L, "aa bb. cc dd ee! ff gg? hh"),   // sentences of 2,3,2,1 tokens
      (2L, "one two three four five six."), // single over-budget sentence
      (3L, "   ")                           // no sentences -> no rows
    ).toDF("doc_id", "text")
    val out = Text.chunkSentences(docs, "text", "doc_id", maxTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    // doc 1: [aa bb.][cc dd ee!] = 5 -> chunk 0; [ff gg?][hh] = 3 -> chunk 1
    assert(out((1L, 0L)) == ((5L, "aa bb. cc dd ee!")))
    assert(out((1L, 1L)) == ((3L, "ff gg? hh")))
    // doc 2: the 6-token sentence becomes its own overflowing chunk
    assert(out((2L, 0L)) == ((6L, "one two three four five six.")))
    assert(out.size == 3, "blank doc must emit nothing")
  }

  test("ImageIoDecoder: real PNG decode through the unchanged operators") {
    // tiny deterministic PNG fixture generated with the same JDK codec
    val img = new java.awt.image.BufferedImage(8, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 8)
      img.setRGB(x, y, ((x * 31) << 16) | ((y * 47) << 8) | (x + y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    // probe reads the REAL container dimensions
    assert(ImageIoDecoder.probe(png) == ((8L, 5L, 1L)))
    // decodeFrame: 4x4 RGB nearest-neighbor thumbnail (3*16 = 48 <= 64),
    // pixel-exact against the source image
    val fr = ImageIoDecoder.decodeFrame(png, 0L, 64)
    assert(fr.length == 48)
    for (y <- 0 until 4; x <- 0 until 4) {
      val px = img.getRGB(x * 8 / 4, y * 5 / 4)
      val o = (y * 4 + x) * 3
      assert((fr(o) & 0xFF) == ((px >> 16) & 0xFF))
      assert((fr(o + 1) & 0xFF) == ((px >> 8) & 0xFF))
      assert((fr(o + 2) & 0xFF) == (px & 0xFF))
    }
    // the operators run UNCHANGED with the real codec plugged in; an
    // unreadable payload probes (0,0,0) and yields no frame rows (skip
    // broken media, never fail the task)
    val media = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val meta = Multimodal.decodeMetadata(spark, media, "doc_id",
        decoder = ImageIoDecoder)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(meta(1L) == ((8L, 5L, 1L)))
    assert(meta(2L) == ((0L, 0L, 0L)))
    val frames = Multimodal.sampleFrames(spark, media, "doc_id",
      decoder = ImageIoDecoder).collect()
    assert(frames.length == 1 && frames.head.getLong(0) == 1L)
    assert(frames.head.getAs[Array[Byte]]("frame_bytes").length == 48)
  }

  test("WavDecoder: real WAV decode — windows, downmix, energies — through the unchanged operators") {
    import graft.ops.WavDecoder
    // 2-second 8 kHz stereo fixture: left = 440 Hz sine, right = silence
    val rate = 8000
    val n = rate * 2
    val data = new Array[Byte](n * 4)
    for (i <- 0 until n) {
      val v = (math.sin(2 * math.Pi * 440 * i / rate) * 12000).toInt
      data(i * 4) = (v & 0xFF).toByte
      data(i * 4 + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    // probe: (sample rate, channels, 1-second windows)
    assert(WavDecoder.probe(wav) == ((8000L, 2L, 2L)))
    // window 1: 8000 mono samples; stereo downmix halves the sine amplitude
    val w1 = WavDecoder.decodeFrame(wav, 1L, 2 * rate)
    assert(w1.length == 2 * rate)
    val samples = Array.tabulate(rate)(i =>
      ((w1(i * 2 + 1) << 8) | (w1(i * 2) & 0xFF)).toShort.toInt)
    assert(samples.max > 5000 && samples.max < 6500, s"max ${samples.max}")
    // RMS energies: every slice of a steady sine carries energy,
    // sine/2 RMS = 12000/2/sqrt(2)/32768 ~ 0.1294
    val e = WavDecoder.features(w1, 4)
    assert(e.forall(x => x > 0.12f && x < 0.14f), e.toSeq.toString)
    // the operators run UNCHANGED with the audio codec plugged in;
    // non-audio payloads probe (0,0,0) and emit no windows
    val media = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val meta = Multimodal.decodeMetadata(spark, media, "doc_id",
        decoder = WavDecoder)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(meta(1L) == ((8000L, 2L, 2L)))
    assert(meta(2L) == ((0L, 0L, 0L)))
    val frames = Multimodal.sampleFrames(spark, media, "doc_id",
      stride = 1, maxFrames = 8, frameLen = 2 * rate,
      decoder = WavDecoder).collect()
    assert(frames.forall(_.getLong(0) == 1L) && frames.length == 2,
      s"expected the 2 windows of doc 1, got ${frames.length}")
  }

  test("binaryCode: hand-computed sign-bit packing; hammingDist exact") {
    // 8 dims, 2 words x 4 bits: word bits are low-to-high in pixel order
    // (fold adds the high j first), so [+,-,+,+] -> 0b1101 = 13 and
    // [-,-,-,+] -> 0b1000 = 8
    val df = Seq(Tuple1(Array(1f, -1f, 1f, 1f, -1f, -1f, -1f, 1f))).toDF("v")
    val code = df.select(Vectors.binaryCode($"v", nWords = 2, bitsPerWord = 4))
      .head().getSeq[Long](0)
    assert(code == Seq(13L, 8L))
    // out-of-range components contribute 0 bits (ANSI-safe short vectors)
    val short = Seq(Tuple1(Array(1f, 1f, 1f))).toDF("v")
      .select(Vectors.binaryCode($"v", nWords = 1, bitsPerWord = 4))
      .head().getSeq[Long](0)
    assert(short == Seq(7L))
    val hd = Seq((Array(13L, 8L), Array(12L, 8L))).toDF("a", "b")
      .select(Vectors.hammingDist($"a", $"b")).head().getLong(0)
    assert(hd == 1L) // 13 xor 12 = 1 -> one bit
  }

  test("binary rerank ANN: equals brute force at m = |corpus|; pool bounded") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 20).select($"vec_id".as("cid"), $"embedding")
    val n = c.count().toInt
    val exact = Vectors.bruteForceTopK(q, c, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val full = Vectors.binaryRerankTopK(q, c, k = 3, m = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(full == exact, "rerank over the full pool must equal brute force")
    // a tight pool still returns exactly k per query
    val tight = Vectors.binaryRerankTopK(q, c, k = 3, m = 5).collect()
    assert(tight.groupBy(_.getLong(0)).forall(_._2.length == 3))
  }

  test("perceptualHash: hand-computed stub-codec grid; banding equals all-pairs") {
    // "abc" -> luma = [97,98,99, 0*61], sum 294; every nonzero byte's
    // cross-multiplied threshold passes (97*64 > 294), zeros fail ->
    // word0 = 2^0+2^1+2^2 = 7, rest 0
    val one = Multimodal.perceptualHash(spark,
      Multimodal.withBinaryPayload(Seq((1L, "abc")).toDF("doc_id", "text"), "text"),
      "doc_id").head().getSeq[Long](1)
    assert(one == Seq(7L, 0L, 0L, 0L))
    // banded near-dup must equal the quadratic scan (pigeonhole exactness)
    val seeded = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (7L, "the quick brown fox jumps over a lazy dog")    // near prefix
    ).toDF("doc_id", "text"))
    val ph = Multimodal.perceptualHash(spark,
      Multimodal.withBinaryPayload(seeded, "text"), "doc_id")
    val codes = ph.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    for (maxDist <- Seq(0, 3)) {
      val brute = (for {
        a <- codes.keys; b <- codes.keys if a < b
        if ham(codes(a), codes(b)) <= maxDist
      } yield (a, b)).toSet
      val banded = Multimodal.phashNearDup(ph, "doc_id", maxDist).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"banding lost/invented pairs at maxDist=$maxDist")
    }
    // identical docs are ham-0 pairs by construction
    val zero = Multimodal.phashNearDup(ph, "doc_id", 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zero.contains((1L, 4L)) && zero.contains((1L, 6L)))
  }

  test("phashAdmit: banded admission equals the quadratic scan; cap freezes") {
    val seeded = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "completely different content with nothing shared here at all")
    ).toDF("doc_id", "text"))
    val withPayload = Multimodal.withBinaryPayload(seeded, "text")
    val idxDocs = withPayload.filter($"doc_id" <= 4)
    val newDocs = withPayload.filter($"doc_id" > 4)
    val index = Multimodal.phashBandIndex(
      Multimodal.perceptualHash(spark, idxDocs, "doc_id"), "doc_id")
    val got = Multimodal.phashAdmit(newDocs, index, "doc_id", maxDist = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // brute-force expectation from the raw codes
    val codes = Multimodal.perceptualHash(spark, withPayload, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toLong
    for (nid <- Seq(5L, 6L, 7L)) {
      val matches = (1L to 4L).map(e => e -> ham(codes(nid), codes(e)))
        .filter(_._2 <= 3)
      val want =
        if (matches.isEmpty) ((false, None, None))
        else ((true, Some(matches.map(_._1).min), Some(matches.map(_._2).min)))
      assert(got(nid) == want, s"admission verdict for $nid")
    }
    // doc 6 duplicates docs 1/4 exactly -> admitted as dup of 1, ham 0
    assert(got(6L) == ((true, Some(1L), Some(0L))))
    // a cap of 0 freezes every bucket: everything admits as novel
    val frozen = Multimodal.phashAdmit(newDocs, index, "doc_id",
      maxDist = 3, maxBucket = 0).collect()
    assert(frozen.forall(!_.getBoolean(1)))
  }

  test("phashAdmitPacked equals the aggregation-based admission") {
    val seeded = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "completely different content with nothing shared here at all")
    ).toDF("doc_id", "text"))
    val withPayload = Multimodal.withBinaryPayload(seeded, "text")
    val idxDocs = withPayload.filter($"doc_id" <= 4)
    val newDocs = withPayload.filter($"doc_id" > 4)
    val index = Multimodal.phashBandIndex(
      Multimodal.perceptualHash(spark, idxDocs, "doc_id"), "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))
      .toSet
    val agg = rows(Multimodal.phashAdmit(newDocs, index, "doc_id", maxDist = 3))
    val packed = rows(Multimodal.phashAdmitPacked(newDocs,
      Multimodal.packedPhashIndex(index, "doc_id"), "doc_id", maxDist = 3))
    assert(packed == agg, "packed admission diverged from the aggregation form")
  }

  test("ImageIoDecoder.luma: BT.601 on a constant image; zero phash at the mean") {
    val img = new java.awt.image.BufferedImage(8, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 8) img.setRGB(x, y, (100 << 16) | (150 << 8) | 200)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    // (299*100 + 587*150 + 114*200) / 1000 = 140 for every resampled pixel
    val g = ImageIoDecoder.luma(png, 8, 8)
    assert(g.length == 64 && g.forall(b => (b & 0xFF) == 140))
    // constant grid: no byte exceeds the mean (strict >), so the hash is 0
    val code = Multimodal.perceptualHash(spark,
      Seq((1L, png)).toDF("doc_id", "payload"), "doc_id",
      decoder = ImageIoDecoder).head().getSeq[Long](1)
    assert(code == Seq(0L, 0L, 0L, 0L))
    // unreadable payloads luma to the all-zero grid, not an exception
    assert(ImageIoDecoder.luma("nope".getBytes("UTF-8"), 8, 8).forall(_ == 0))
  }

  test("BPE tokenizer: hand-computed fit merges; encode is lossless and rank-ordered") {
    import graft.ops.Bpe
    // fit on "aa aa ab": pair (a,a) count 2 beats (a,b) count 1, then
    // (a,b) is the only pair left — hand-computed merge order
    val corpus = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val m = Bpe.fit(corpus, "text", nMerges = 2)
    assert(m.pairs == Seq("a" -> "a", "a" -> "b"))
    // fitted merges fully compress the training words
    assert(Bpe.encode("aa ab", m).toSeq == Seq("aa", "ab"))
    // rank-ordered chain: t+h -> th, then th+e -> the (later merges
    // consume earlier outputs); never merges across words; lossless
    val toks = Bpe.encode("the then other", Bpe.FixedEnglishMerges)
    assert(toks.contains("the"))
    assert(toks.mkString("") == "thethenother")
    // blank text encodes to zero tokens
    assert(Bpe.encode("   ", Bpe.FixedEnglishMerges).isEmpty)
    // tokenize: distributed counts equal the driver encode; id passthrough
    val out = Bpe.tokenize(corpus, "text", "doc_id", m).collect().head
    assert(out.getLong(0) == 1L)
    assert(out.getLong(2) == Bpe.encode("aa aa ab", m).length.toLong)
    assert(out.getString(3) == Bpe.encode("aa aa ab", m).mkString(" "))
  }

  test("substring dedup: maximal verbatim spans with exact boundaries") {
    val s20 = (1 to 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"p1 p2 p3 $s20 q1 q2"),
      (2L, s"$s20 r1"),
      (3L, "totally unrelated words only here nothing shared at all")
    ).toDF("doc_id", "text")
    // the 20-token block sits at positions 3..22 of doc 1 and 0..19 of
    // doc 2 — one maximal span row, exact boundaries, doc 3 untouched
    val spans = Dedup.substringDupSpans(docs, "text", "doc_id",
        k = 5, minSpanTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(spans.toSeq == Seq((1L, 2L, 3L, 0L, 20L)))
    // two disjoint repeats on one diagonal stay two maximal spans (the
    // gaps-and-islands split), not one merged over the gap
    val a12 = (1 to 12).map(i => s"a$i").mkString(" ")
    val b10 = (1 to 10).map(i => s"b$i").mkString(" ")
    val d2 = Seq((4L, s"$a12 u1 u2 u3 $b10"), (5L, s"$a12 v1 v2 v3 $b10"))
      .toDF("doc_id", "text")
    val sp2 = Dedup.substringDupSpans(d2, "text", "doc_id",
        k = 5, minSpanTokens = 8)
      .orderBy("a_start").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sp2.toSeq == Seq((0L, 0L, 12L), (15L, 15L, 10L)))
    // the occurrence cap drops boilerplate shingles before the join
    assert(Dedup.substringDupSpans(docs, "text", "doc_id", 5, 10,
      maxShingleDf = 1).count() == 0)
  }

  test("cutSpans removes exactly the flagged token ranges from the dup side") {
    val d = Seq((1L, "a b c d e f"), (2L, "x a b c d y"), (3L, "untouched doc"))
      .toDF("doc_id", "text")
    val spans = Seq((1L, 2L, 0L, 1L, 4L))
      .toDF("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    val out = Dedup.cutSpans(d, spans, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (("a b c d e f", 0L))) // keep side untouched
    assert(out(2L) == (("x y", 4L)))         // positions 1..4 excised
    assert(out(3L) == (("untouched doc", 0L)))
    // overlapping spans cut their UNION, not double-count
    val spans2 = Seq((1L, 2L, 0L, 1L, 3L), (1L, 2L, 0L, 2L, 3L))
      .toDF("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    val out2 = Dedup.cutSpans(d, spans2, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out2(2L) == (("x y", 4L))) // 1..3 union 2..4 = 1..4
  }

  test("packing is id-type generic: string ids keep their native type") {
    // UUID/URL-style string keys flow through both folds without casting —
    // output id column stays StringType, per-doc semantics unchanged
    val chunks = Seq(
      ("urn:b", 0L, 3L, "a b c"), ("urn:b", 1L, 3L, "d e f"),
      ("urn:a", 0L, 2L, "x y")
    ).toDF("doc_id", "chunk_idx", "n_tokens", "chunk_text")
    val packs = Text.packChunks(chunks, "doc_id", maxTokens = 4)
    assert(packs.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val rows = packs.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(4))).toSet
    assert(rows == Set(("urn:a", 0L, "x y"),
      ("urn:b", 0L, "a b c"), ("urn:b", 1L, "d e f")))
    val x = Text.packChunksAcrossDocs(chunks, "doc_id", maxTokens = 8, nBuckets = 2)
    assert(x.agg(sum("n_chunks")).head.getLong(0) == 3L)
    // dedup group resolution is equally id-generic (no cast in the loop)
    val pairs = Seq(("urn:a", "urn:b"), ("urn:b", "urn:c"))
      .toDF("doc_a", "doc_b")
    val groups = graft.ops.Dedup.dedupGroups(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(groups == Map("urn:a" -> "urn:a", "urn:b" -> "urn:a", "urn:c" -> "urn:a"))
  }

  test("hash split: deterministic, exhaustive labels, fractions respected") {
    val many = (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val split = Text.hashSplit(many, "doc_id",
      Seq("train" -> 0.8, "dev" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "dev", "test"))
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1400 && counts("train") < 1800) // ~0.8 +- hash noise
    // content-derived: identical under repartition, disjoint by construction
    val again = Text.hashSplit(many.repartition(7), "doc_id",
      Seq("train" -> 0.8, "dev" -> 0.1, "test" -> 0.1))
    assert(again.collect().map(_.toSeq).toSet == split.collect().map(_.toSeq).toSet)
  }

  test("decontamination flags benchmark-overlapping docs only") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // heavy overlap
      (2L, "completely different content with nothing shared here at all"))
      .toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, bench, "text", "doc_id",
      n = 3, minOverlap = 5).collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(1L))
    assert(hits.head.getLong(1) >= 5L && hits.head.getLong(2) == 1L)
  }

  test("PII scrub masks and counts emails, phones, IPs") {
    val d = Seq(
      (1L, "mail me at jane.doe+x@mail.example.com or call 555-123-4567 now"),
      (2L, "server at 192.168.1.250 and 10.0.0.7 responded"),
      (3L, "no pii here at all"),
      // a phone-shaped local part: masked as ONE email, counted as ZERO
      // phones — counts run on the same progressively-masked text the
      // clean_text pipeline sees
      (4L, "reach 555-123-4567@example.com today")
    ).toDF("doc_id", "text")
    val out = Text.scrubPii(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out(1L) == (("mail me at <EMAIL> or call <PHONE> now", 1L, 1L, 0L)))
    assert(out(2L) == (("server at <IP> and <IP> responded", 0L, 0L, 2L)))
    assert(out(3L) == (("no pii here at all", 0L, 0L, 0L)))
    assert(out(4L) == (("reach <EMAIL> today", 1L, 0L, 0L)))
  }

  test("text quality + langid produce bounded scores") {
    val q = Text.qualityScore(docs, "text", "doc_id").collect()
    assert(q.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
    val l = Text.languageId(docs, "text", "doc_id").collect()
    assert(l.forall(r => Set("en", "es", "und").contains(r.getString(1))))
  }

  test("multi-probe LSH: recall vs brute force dominates single-probe") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 20).select($"vec_id".as("cid"), $"embedding")
    val exact = Vectors.bruteForceTopK(q, c, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int) = {
      val got = Vectors.lshTopK(q, c, 3, nProbe = nProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r1 = recall(1); val r4 = recall(4)
    assert(r4 >= r1, s"multi-probe recall $r4 below single-probe $r1")
    assert(r4 > 0.0)
    // probing never returns more than k per query
    val mp = Vectors.lshTopK(q, c, 3, nProbe = 4).collect()
    assert(mp.groupBy(_.getLong(0)).forall(_._2.length <= 3))
  }

  test("span corruption: splicing targets back into the holes reconstructs the document") {
    val d = graft.core.Tables.load(spark, sf, "documents")
    val rows = graft.ops.Text.spanCorrupt(d, "text", "doc_id", density = 0.15, spanLen = 3)
      .join(d.select(col("doc_id"), col("text")), Seq("doc_id")).collect()
    assert(rows.exists(_.getLong(5) >= 1), "corpus should contain maskable docs")
    rows.foreach { r =>
      val orig = r.getString(6).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val (n, nMasked, nSpans) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n == orig.length && nMasked == nSpans * 3)
      val sent = (b: Long) => s"<extra_id_$b>"
      if (nSpans == 0) {
        assert(r.getString(1).split(" ").filter(_.nonEmpty).toSeq == orig)
        assert(r.getString(2).isEmpty)
      } else {
        // target: sentinel b then its 3 hidden tokens, in block order
        val tgt = r.getString(2).split(" ").toSeq
        val spans = (0L until nSpans).map { b =>
          val i = tgt.indexOf(sent(b))
          assert(i >= 0, s"doc ${r.getLong(0)}: target missing ${sent(b)}")
          b -> tgt.slice(i + 1, i + 4)
        }.toMap
        assert(tgt.length == nSpans * 4, "target = (sentinel + 3 tokens) per span")
        // splice each span back into its hole
        val rebuilt = r.getString(1).split(" ").toSeq.flatMap { t =>
          if (t.startsWith("<extra_id_")) spans(t.stripPrefix("<extra_id_").stripSuffix(">").toLong)
          else Seq(t)
        }
        assert(rebuilt == orig, s"doc ${r.getLong(0)}: splice-back must reconstruct")
        // realized mask rate tracks the requested density (3/20)
        assert(math.abs(nMasked.toDouble / n - 0.15) < 0.15,
          s"doc ${r.getLong(0)}: masked fraction ${nMasked.toDouble / n} far from density")
      }
    }
  }

  test("fim: PSM reorder is a token permutation, prefix/suffix never empty, rate limits apply") {
    val d = graft.core.Tables.load(spark, sf, "documents")
    val rows = graft.ops.Text.fimTransform(d, "text", "doc_id", rate = 0.5)
      .join(d.select(col("doc_id"), col("text")), Seq("doc_id")).collect()
    assert(rows.exists(_.getBoolean(2)) && rows.exists(!_.getBoolean(2)),
      "rate=0.5 should transform some docs and pass others through")
    rows.foreach { r =>
      val orig = r.getString(6).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val (np, nm, ns) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(np + nm + ns == orig.length, s"doc ${r.getLong(0)}: counts must partition")
      if (r.getBoolean(2)) {
        val t = r.getString(1).split(" ").toSeq
        assert(np >= 1 && ns >= 1, "prefix and suffix are never empty")
        // reassemble PRE..SUF..MID sections back into the original order
        val pre = t.slice(1, t.indexOf("<SUF>"))
        val suf = t.slice(t.indexOf("<SUF>") + 1, t.indexOf("<MID>"))
        val mid = t.drop(t.indexOf("<MID>") + 1)
        assert((pre ++ mid ++ suf) == orig,
          s"doc ${r.getLong(0)}: PSM splice must be a reorder of the original tokens")
      } else assert(r.getString(1).split(" ").toSeq == orig)
    }
    // rate limits
    assert(graft.ops.Text.fimTransform(d, "text", "doc_id", rate = 0.0)
      .filter(col("fim_applied")).count() == 0)
    val all = graft.ops.Text.fimTransform(d, "text", "doc_id", rate = 1.0)
    assert(all.filter(!col("fim_applied")).count() ==
      all.filter(col("n_prefix") + col("n_middle") + col("n_suffix") < 3).count())
  }

  test("winnowing: shared run of w+k-1 tokens guarantees a shared fingerprint; overlap pairs surface it") {
    import spark.implicits._
    val run = "alpha bravo charlie delta echo foxtrot golf" // 7 = w+k-1 tokens at k=4,w=4
    val docs = Seq(
      (1L, s"zeta eta theta $run iota kappa"),
      (2L, s"one two $run three four five six"),
      (3L, "unrelated words entirely disjoint from everything else here")
    ).toDF("doc_id", "text")
    val fps = graft.ops.Text.winnowFingerprints(docs, "text", "doc_id", k = 4, w = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing a >= w+k-1 token run must share a fingerprint value")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "no gram in common -> no fingerprint in common")
    // the pair stage surfaces exactly the planted pair; identical docs hit containment 1
    val pairs = graft.ops.Dedup.winnowOverlapPairs(docs, "text", "doc_id",
      k = 4, w = 4, minShared = 1).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val twin = Seq((1L, run + " tail one"), (2L, run + " tail one")).toDF("doc_id", "text")
    val c = graft.ops.Dedup.winnowOverlapPairs(twin, "text", "doc_id",
      k = 4, w = 4, minShared = 1).head()
    assert(c.getDouble(3) == 1.0, s"identical docs must have containment 1, got $c")
  }

  test("prototypicality: rank 1 is the cluster max, sizes partition the corpus, prune keeps n - floor(f*n)") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val total = e.count()
    val p = Vectors.prototypePrune(e, "vec_id", "embedding", k = 4, dropFraction = 0.25)
      .collect()
    assert(p.length == total, "scoring must cover every vector")
    val byCluster = p.groupBy(_.getLong(1))
    byCluster.foreach { case (c, rows) =>
      val n = rows.length
      // cluster_n is consistent and ranks are the 1..n permutation
      assert(rows.forall(_.getLong(4) == n))
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to n.toLong))
      // rank orders by proto_cos descending (ties broken by id)
      val sorted = rows.sortBy(_.getLong(3))
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0).getDouble(2) >= w(1).getDouble(2),
          s"cluster $c: rank order violates proto_cos order")
      }
      // keep verdicts: exactly n - floor(0.25 n), and they are the tail ranks
      val kept = rows.filter(_.getBoolean(5))
      assert(kept.length == n - math.floor(0.25 * n).toInt)
      assert(kept.forall(_.getLong(3) > math.floor(0.25 * n).toLong))
    }
    // dropFraction = 0 keeps everything
    val all = Vectors.prototypePrune(e, "vec_id", "embedding", k = 4, dropFraction = 0.0)
    assert(all.filter(!col("keep")).count() == 0)
  }

  test("d4 composition: prototype pruning runs strictly within semDedup survivors") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val survivors = Vectors.semDedup(e, "vec_id", "embedding", k = 4, tau = 0.25)
      .filter(col("keep")).select("vec_id")
    val surv = survivors.collect().map(_.getLong(0)).toSet
    val pruned = Vectors.prototypePrune(e.join(survivors, Seq("vec_id")),
        "vec_id", "embedding", k = 4, dropFraction = 0.25)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    assert(pruned.subsetOf(surv), "D4 output must be a subset of dedup survivors")
    assert(pruned.nonEmpty && pruned.size < surv.size,
      s"pruning should drop a strict, non-total fraction (kept ${pruned.size} of ${surv.size})")
  }

  test("seedAssign: literal-fused and centroid-join paths agree exactly, ties included") {
    val base = graft.core.Tables.load(spark, sf, "embeddings")
    // force rounded-cosine TIES: clone a few vectors under fresh ids, so
    // several rows sit at cosine exactly 1.0 to the same seeds and the
    // earliest-seed tiebreak is actually exercised
    val clones = base.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val e = base.unionByName(clones)
    for (k <- Seq(1, 4, 13)) {
      val viaLiteral = Vectors.seedAssignLiteral(e, "vec_id", "embedding", k)
        .select("vec_id", "cluster", "proto_cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaJoin = Vectors.seedAssignJoin(e, "vec_id", "embedding", k)
        .select("vec_id", "cluster", "proto_cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaJoin == viaLiteral,
        s"k=$k: join path must reproduce the literal fold exactly")
    }
    // the join path also carries the vector through unchanged
    val v = Vectors.seedAssignJoin(e, "vec_id", "embedding", 4)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val orig = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(v == orig)
  }

  test("banded cosine LSH: subset of exact pairs with recall >= 0.9") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val exact = Vectors.cosineDupPairs(e, "vec_id", "embedding", tau = 0.3,
        bucketed = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Vectors.cosineDupPairs(e, "vec_id", "embedding", tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact path rejects")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"banded LSH recall $recall below 0.9 " +
      s"(lsh=${lsh.size}, exact=${exact.size})")
  }

  test("banded cosine LSH: bucket cap bounds per-band fan-out") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val cap = 20
    val bb = Vectors.bandedBuckets(e, "vec_id", "embedding",
      nBands = 20, nPlanes = 4, dim = 64, maxBucket = cap)
    val maxGroup = bb.groupBy("band", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(maxGroup <= cap, s"bucket group of $maxGroup exceeds cap $cap")
    // the cap actually bites on this corpus (uncapped max bucket > cap),
    // and capped output is still a subset of the uncapped assignment
    val uncapped = Vectors.bandedBuckets(e, "vec_id", "embedding",
      nBands = 20, nPlanes = 4, dim = 64, maxBucket = Int.MaxValue)
    val uncappedMax = uncapped.groupBy("band", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(uncappedMax > cap, "fixture too small for the cap to bind")
    assert(bb.count() < uncapped.count())
    // plane family is deterministic: same (nBands, nPlanes, dim, seed) ⇒
    // identical pairs, distinct planes across all bands
    val fams = Vectors.planePairs(20, 4, 64)
    assert(fams == Vectors.planePairs(20, 4, 64))
    val flat = fams.flatten.map { case (i, j) => (math.min(i, j), math.max(i, j)) }
    assert(flat.distinct.size == flat.size)
    assert(flat.forall { case (i, j) => i >= 0 && j < 64 && i != j })
  }

  test("IVF ANN: high recall vs brute force on the real embeddings") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 10).select($"vec_id".as("cid"), $"embedding")
    val exact = Vectors.bruteForceTopK(q, c, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Vectors.ivfTopK(q, c, 3, nCells = 6, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall") // random embeddings:
    // cells carry little structure, but probing 4/6 cells must recover most
    assert(ivf.groupBy(_._1).forall(_._2.size <= 3))
  }

  test("shingleDfCap: profiled p99.9 cap drops boilerplate, keeps dedup signal") {
    // 500 docs of unique filler + one shared boilerplate sentence, plus a
    // genuine near-dup pair: the ~6 boilerplate shingles (df ~ 500) are
    // 0.01% of the ~48k-shingle universe — far above p99.9 (df 1), beyond
    // even the approxQuantile rank-error band — so the profiled cap
    // (floored at minCap=100) removes exactly them
    val rng = new scala.util.Random(7)
    def filler() = Seq.fill(96)("w" + rng.nextInt(1000000)).mkString(" ")
    val boiler = "all rights reserved terms of service apply here"
    val base = (1 to 500).map(i => (i.toLong, s"${filler()} $boiler"))
    val nearDup = Seq(
      (900L, s"the quick brown fox jumps over the lazy dog tonight $boiler"),
      (901L, s"the quick brown fox jumps over the lazy cat tonight $boiler"))
    val corpus = (base ++ nearDup).toDF("doc_id", "text")
    val cap = Dedup.shingleDfCap(corpus, "text", "doc_id", n = 3)
    assert(cap == 100, s"expected the minCap floor (p99.9 of dfs ~ 1), got $cap")
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.3, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((900L, 901L)),
      s"boilerplate-only pairs must be capped away, near-dup kept: $pairs")
    // without the cap the boilerplate shingles alone join all 502 docs
    // pairwise (~126k candidate rows) — the profiled cap is what bounds it
    val capped = Dedup.shingles(corpus, "text", "doc_id", 3)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df_n"))
      .filter(col("df_n") > cap).count()
    assert(capped >= 5, "the boilerplate shingles must exceed the cap")
  }

  test("tokenStats avg_token_len: codegen'd derivation equals the HOF fold") {
    val real = graft.core.Tables.load(spark, sf, "documents")
    val fast = Text.tokenStats(real, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val t = Text.tokens(col("text"))
    val hof = real.select(col("doc_id"),
        size(t).cast("long"),
        size(array_distinct(t)).cast("long"),
        round(aggregate(transform(t, x => length(x)), lit(0),
          (acc, x) => acc + x).cast("double") / size(t), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(fast == hof)
  }

  test("IvfIndex: fit once / query many — no KMeans job per query batch") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 10).select($"vec_id".as("cid"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    // count only THIS thread's jobs via an exclusive job group (the
    // SparkContext is shared across suites; a global job count races)
    val tracker = spark.sparkContext.statusTracker
    def jobsDuring[A](group: String)(f: => A): (A, Int) = {
      spark.sparkContext.setJobGroup(group, group)
      val a = try f finally spark.sparkContext.clearJobGroup()
      (a, tracker.getJobIdsForGroup(group).length)
    }
    val (idx, fitJobs) = jobsDuring("ivf-fit")(IvfIndex.fit(c.cache(), nCells = 6))
    idx.assigned.cache().count() // materialize the inverted file once
    val (r1, q1Jobs) = jobsDuring("ivf-q1")(rows(idx.topK(q, 3, nProbe = 4)))
    val (r2, q2Jobs) = jobsDuring("ivf-q2")(rows(idx.topK(q, 3, nProbe = 4)))
    // identical results, and each query batch is join-only — far fewer
    // scheduler jobs than the KMeans fit (which iterates); a refit per
    // batch would put fit's job count inside each query group
    assert(r1 == r2)
    assert(r1.nonEmpty)
    assert(q1Jobs == q2Jobs, s"query batches should cost the same ($q1Jobs vs $q2Jobs)")
    assert(q1Jobs < fitJobs,
      s"query batches ($q1Jobs, $q2Jobs jobs) should be cheaper than fit ($fitJobs)")
    // one-shot wrapper agrees with the fit/query split (same seed)
    val oneShot = rows(Vectors.ivfTopK(q, c, 3, nCells = 6, nProbe = 4))
    assert(oneShot == r1)
    idx.assigned.unpersist(); c.unpersist()
  }

  test("IvfIndex save/load round-trip: identical topK, cell-partitioned corpus") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 10).select($"vec_id".as("cid"), $"embedding")
    val idx = IvfIndex.fit(c, nCells = 5)
    val dir = tempDir("ivf").toString
    idx.save(dir)
    // the inverted file is partitioned by cell on disk (DPP-prunable)
    val cellDirs = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == 5, s"expected 5 cell partitions, got ${cellDirs.length}")
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(loaded.topK(q, 3, nProbe = 3)) == rows(idx.topK(q, 3, nProbe = 3)))
  }

  test("IvfIndex incremental add: frozen-centroid assignment, exact at full probe") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding")
    val base = e.filter($"vec_id" >= 5 && $"vec_id" < 60)
      .select($"vec_id".as("cid"), $"embedding")
    val extra = e.filter($"vec_id" >= 60).select($"vec_id".as("cid"), $"embedding")
    val idx = IvfIndex.fit(base, nCells = 4)
    val grown = idx.add(extra)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // centroids are frozen by add (no refit)
    assert(grown.centroids eq idx.centroids)
    // probing every cell makes IVF exactly brute force over the GROWN
    // corpus — only true if add assigned every new vector to exactly one
    // cell (nothing lost, nothing duplicated)
    val brute = rows(Vectors.bruteForceTopK(q, base.unionByName(extra), k = 3))
    assert(rows(grown.topK(q, 3, nProbe = 4)) == brute)
    // on-disk twin: save + appendTo + load serves the same grown corpus
    val dir = tempDir("ivf_add").toString
    idx.save(dir)
    idx.appendTo(dir, extra)
    val loaded = IvfIndex.load(spark, dir)
    assert(rows(loaded.topK(q, 3, nProbe = 4)) == brute)
    // selective probe over the grown index still returns k rows per query
    assert(grown.topK(q, 3, nProbe = 2).groupBy("qid").count()
      .collect().forall(_.getLong(1) == 3L))
  }

  test("mixCorpus: copy counts follow weights; zero-weight sources vanish") {
    val src = Seq((1L, "s0"), (2L, "s0"), (3L, "skeep"), (4L, "sup"),
      (5L, "sup"), (6L, "sother")).toDF("doc_id", "source")
    val out = Text.mixCorpus(src, "doc_id", "source",
      Map("s0" -> 0.0, "sup" -> 3.0, "skeep" -> 1.0)).collect()
    val byDoc = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L)) // weight 0 dropped
    assert(byDoc(3L) == 1)                             // weight 1 kept once
    assert(byDoc(4L) == 3 && byDoc(5L) == 3)           // integer upsample
    assert(byDoc(6L) == 1)                             // default weight 1.0
    // copies are indexed 0..n-1
    assert(out.filter(_.getLong(0) == 4L).map(_.getLong(2)).sorted.toSeq == Seq(0L, 1L, 2L))
    // fractional weights keep a deterministic ~w fraction across many ids
    val many = (1L to 2000L).map((_, "s")).toDF("doc_id", "source")
    val kept = Text.mixCorpus(many, "doc_id", "source", Map("s" -> 0.25)).count()
    assert(kept > 400 && kept < 600, s"kept $kept of 2000 at w=0.25")
    // and the same ids are kept on re-run (content-derived, not RNG)
    val kept2 = Text.mixCorpus(many, "doc_id", "source", Map("s" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept3 = Text.mixCorpus(many, "doc_id", "source", Map("s" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == kept3 && kept2.size == kept)
  }

  test("resolveDuplicates: singletons keep; group winner is longest then min id") {
    val corpus = Seq((1L, "aaaa", 4L), (2L, "aaaaaa", 6L), (3L, "bb", 2L),
      (4L, "cccccc", 6L), (5L, "cccccc", 6L)).toDF("doc_id", "text", "n_chars")
    val groups = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "canonical_id")
    val out = Dedup.resolveDuplicates(corpus, groups, "doc_id", col("n_chars"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getBoolean(2))).toMap
    assert(out(3L) == ((-1L, true)))        // singleton: no group, kept
    assert(out(1L) == ((1L, false)))        // shorter member loses
    assert(out(2L) == ((1L, true)))         // longest wins
    assert(out(4L) == ((4L, true)))         // tie -> min id wins
    assert(out(5L) == ((4L, false)))
    assert(out.size == 5)                   // every corpus doc decided
  }

  test("bigram LM: seen bigrams score c12/c1; unseen back off; OOV floored") {
    val train = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // counts: uni a=3 b=3 c=1 (N=7, V=3); bi (a,b)=3 (b,a)=1 (b,c)=1
    val m = NgramLm.fit(train, "text")
    assert(m.totalTokens == 7 && m.vocabSize == 3)
    val scored = m.score(Seq((10L, "a b"), (11L, "b b"), (12L, "z z"))
      .toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    assert(scored(10L) == ((1L, r6(math.log(3.0 / 3.0)))))          // seen
    assert(scored(11L) == ((1L, r6(math.log(0.4 * (4.0 / 10.0)))))) // backoff to uni(b)
    assert(scored(12L) == ((1L, r6(math.log(0.4 * (1.0 / 10.0)))))) // OOV floor
    // pruning to top-1 vocab keeps only bigrams with w1 in the top slice
    val pruned = m.pruned(1)
    assert(pruned.bigrams.select("w1").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("a"))
  }

  test("simhashNearDup: banding equals the quadratic scan; dups at distance 0") {
    val seeded = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "the quick brown fox jumps over a lazy dog")
    ).toDF("doc_id", "text"))
    val sigs = Text.simhash16(seeded, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (maxDist <- Seq(0, 1, 3)) {
      val brute = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxDist
      } yield (a, b)).toSet
      val banded = Dedup.simhashNearDup(seeded, "text", "doc_id", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"banding lost/invented pairs at maxDist=$maxDist")
    }
    val zero = Dedup.simhashNearDup(seeded, "text", "doc_id", 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zero.contains((1L, 4L)) && zero.contains((1L, 6L)))
  }

  test("simhash64: banding equals quadratic scan; near-dups close, strangers far") {
    val seeded = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text"))
    val sigs = Text.simhash64(seeded, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    // identical docs: identical signatures
    assert(sigs(1L) == sigs(4L) && ham(sigs(1L), sigs(6L)) == 0)
    // near-dup pair within a few bits; unrelated doc far away
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
    for (maxDist <- Seq(0, 3)) {
      val brute = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        if ham(sigs(a), sigs(b)) <= maxDist
      } yield (a, b)).toSet
      val banded = Dedup.simhashNearDup64(seeded, "text", "doc_id", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"64-bit banding diverged at maxDist=$maxDist")
    }
  }

  test("mergeComponents: incremental merge equals a full rebuild") {
    import graft.ops.Graph
    val rnd = new scala.util.Random(13)
    val all = Seq.fill(50)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val (p1, p2) = all.splitAt(25)
    val full = Graph.connectedComponents(all.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = Graph.mergeComponents(
        Graph.connectedComponents(p1.toDF("doc_a", "doc_b")),
        p2.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == full, "incremental merge diverged from the full rebuild")
    // a singleton from batch 1 (self-mapped root, untouched by batch 2)
    // must survive the merge
    val lone = Graph.mergeComponents(
        Seq((100L, 100L), (1L, 1L), (2L, 1L)).toDF("doc_id", "canonical_id"),
        Seq((2L, 3L)).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lone == Map(100L -> 100L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("mmrRerank: lambda=1 is relevance order; twins get skipped at lambda=0.5") {
    // candidates for query 0: two IDENTICAL high-rel vectors (10, 11)
    // and a dissimilar lower-rel one (12)
    val cands = Seq(
      (0L, 10L, 0.9, Seq(1f, 0f, 0f)),
      (0L, 11L, 0.89, Seq(1f, 0f, 0f)),
      (0L, 12L, 0.5, Seq(0f, 1f, 0f))).toDF("qid", "cid", "rel", "embedding")
    // pure relevance at lambda = 1
    val rel = Vectors.mmrRerank(cands, k = 3, lambda = 1.0)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(rel == Seq(10L, 11L, 12L))
    // at lambda = 0.5 the twin's redundancy (cos = 1) is fatal:
    // 0.5*0.89 - 0.5*1 = -0.055 < 0.5*0.5 - 0.5*0 = 0.25
    val div = Vectors.mmrRerank(cands, k = 3, lambda = 0.5)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(div == Seq(10L, 12L, 11L), s"diversification failed: $div")
    // k bounds output; reruns are deterministic
    assert(Vectors.mmrRerank(cands, k = 2, lambda = 0.5).count() == 2)
    val again = Vectors.mmrRerank(cands, k = 3, lambda = 0.5)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(again == div)
  }

  test("meanPool: hand-computed centroid, unit norm, zero-group guard") {
    val vecs = Seq(
      ("a", Array(1f, 0f, 0f, 0f)), ("a", Array(0f, 1f, 0f, 0f)),
      ("b", Array(0f, 0f, 2f, 0f)),
      ("z", Array(0f, 0f, 0f, 0f))).toDF("grp", "embedding")
    val got = Vectors.meanPool(vecs, "grp", "embedding").collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
    // group a: mean (.5,.5,0,0) -> renormalized (1/sqrt2, 1/sqrt2, 0, 0)
    val s2 = math.round(1 / math.sqrt(2) * 1e6) / 1e6
    assert(got("a") == Map(0L -> s2, 1L -> s2, 2L -> 0.0, 3L -> 0.0))
    // singleton group: direction preserved, unit length
    assert(got("b") == Map(0L -> 0.0, 1L -> 0.0, 2L -> 1.0, 3L -> 0.0))
    // all-zero group: zero vector, no NaN
    assert(got("z").values.forall(_ == 0.0))
  }

  test("hardNegatives: positives excluded before ranking, k true next-bests") {
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 10).select($"vec_id".as("cid"), $"embedding")
    val pos = q.select($"qid", ($"qid" + 10).as("cid"))
    val negs = Vectors.hardNegatives(q, pos, c, k = 3).collect()
    val posSet = pos.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negs.forall(r => !posSet((r.getLong(0), r.getLong(1)))),
      "a known positive leaked into the negatives")
    assert(negs.groupBy(_.getLong(0)).forall(_._2.length == 3))
    // equals the full ranking with each query's OWN positives dropped
    // (per-query exclusion, not corpus-global removal)
    val n = c.count().toInt
    val all = Vectors.bruteForceTopK(q, c, n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = all.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.toSeq.filterNot(t => posSet((qid, t._2)))
        .sortBy(t => (-t._3, t._2)).take(3).zipWithIndex
        .map { case ((_, cid, _), i) => (qid, cid, i + 1L) }
    }.toSet
    assert(negs.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet == want)
  }

  test("vocabGrowth: hand-computed cumulative vocab at each checkpoint") {
    val tiny = Seq((1L, "a b"), (2L, "a c"), (3L, "d d")).toDF("doc_id", "text")
    val g = Text.vocabGrowth(tiny, "text", "doc_id", nCheckpoints = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(g(1L) == ((1L, 1L, 2L, 2L)))  // {a,b}
    assert(g(2L) == ((2L, 2L, 4L, 3L)))  // +c, a repeats
    assert(g(3L) == ((3L, 3L, 6L, 4L)))  // +d (counted once)
    // vocab is monotone and ends at the full distinct count
    val vs = g.toSeq.sortBy(_._1).map(_._2._4)
    assert(vs == vs.sorted && vs.last == 4L)
  }

  test("zipfStats: two-point exact slope -1; uniform corpus slopes 0") {
    // freqs a=4, b=2 at ranks 1, 2: slope = (ln2 - ln4)/(ln2 - 0) = -1,
    // intercept = mean(y) - slope*mean(x) = ln4 exactly
    val two = Seq((1L, "a a a a b b")).toDF("doc_id", "text")
    val r = Text.zipfStats(two, "text").head()
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    assert(r.getLong(0) == 2L && r.getDouble(1) == -1.0)
    assert(r.getDouble(2) == r6(math.log(4.0)))
    // every term equally frequent: zero covariance, slope 0
    val uni = Seq((1L, "p q r s p q r s")).toDF("doc_id", "text")
    assert(Text.zipfStats(uni, "text").head().getDouble(1) == 0.0)
  }

  test("weightedTake: deterministic, rescale-invariant, k rows, heavy weights win") {
    import graft.prep.Sampling
    val rnd = new scala.util.Random(3)
    val pop = (1L to 200L).map(i => (i, 1.0 + rnd.nextInt(100)))
      .toDF("doc_id", "w")
    val a = Sampling.weightedTake(pop, "doc_id", "w", 50)
      .collect().map(_.getLong(0)).toSet
    assert(a.size == 50)
    // deterministic rerun
    val b = Sampling.weightedTake(pop, "doc_id", "w", 50)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // a proportional sampler is invariant under weight rescaling
    val scaled = Sampling.weightedTake(
        pop.withColumn("w", col("w") * 1000.0), "doc_id", "w", 50)
      .collect().map(_.getLong(0)).toSet
    assert(scaled == a, "rescaling weights must not change the selection")
    // a weight dominating the pool by orders of magnitude is always taken
    val spiked = pop.union(Seq((999L, 1e12)).toDF("doc_id", "w"))
    assert(Sampling.weightedTake(spiked, "doc_id", "w", 1)
      .head().getLong(0) == 999L)
  }

  test("noveltyScore: exact dups share everything; unique doc scores 1") {
    val nv = Text.noveltyScore(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    // docs 1 and 4 are byte-identical: every shingle has df >= 2 -> the
    // fully-shared docs have zero unique shingles
    assert(nv(1L)._2 == 0L && nv(1L)._3 == 0.0)
    assert(nv(1L) == nv(4L))
    // doc 3 shares nothing: all its shingles are df = 1 -> novelty 1.0
    assert(nv(3L)._1 == nv(3L)._2 && nv(3L)._3 == 1.0)
    // doc 5 ("short text") has < 3 tokens: no shingles, not emitted
    assert(!nv.contains(5L))
    // near-dup doc 2 sits strictly between
    assert(nv(2L)._3 > 0.0 && nv(2L)._3 < 1.0)
  }

  test("hashEmbedding: unit norm, dup identity, near-dups closer than strangers") {
    val emb = Text.hashEmbedding(docs, "text", "doc_id")
    val vecs = emb.collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
    assert(vecs.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // L2-normalized up to the 6-dp rounding
    vecs.values.foreach(v =>
      assert(math.abs(v.values.map(x => x * x).sum - 1.0) < 1e-4))
    // dimension indices live in [0, 64)
    assert(vecs.values.flatMap(_.keys).forall(i => i >= 0 && i < 64))
    // byte-identical docs embed identically; the near-dup is closer to
    // doc 1 than the unrelated doc (sparse dot = cosine on unit vectors)
    assert(vecs(1L) == vecs(4L))
    def cos(a: Map[Long, Double], b: Map[Long, Double]) =
      a.map { case (k, x) => x * b.getOrElse(k, 0.0) }.sum
    assert(cos(vecs(1L), vecs(2L)) > cos(vecs(1L), vecs(3L)))
  }

  test("gopherAttrition: funnel identities hold and agree with gopherRules") {
    val seeded = spark.read.parquet(s"$sf/documents.parquet")
    val att = Text.gopherAttrition(seeded, "text", "doc_id",
        minWords = 30, maxWords = 80,
        stopwords = Seq("the", "a", "data", "table", "row", "value"))
      .orderBy("rule_idx").collect()
    assert(att.length == 7)
    val nDocs = att.head.getLong(2)
    // survivors are monotone nonincreasing and s_i = s_{i-1} - k_i
    var prev = nDocs
    att.foreach { r =>
      val (killed, surv) = (r.getLong(4), r.getLong(5))
      assert(surv == prev - killed, s"rule ${r.getString(1)}: $prev - $killed != $surv")
      prev = surv
    }
    // the funnel's end equals the composite keep count
    val kept = Text.gopherRules(seeded, "text", "doc_id",
        minWords = 30, maxWords = 80,
        stopwords = Seq("the", "a", "data", "table", "row", "value"))
      .filter(col("keep")).count()
    assert(att.last.getLong(5) == kept)
  }

  test("clusterSafeSplit: every dup-cluster member lands in the same split") {
    val docsDf = (1L to 12L).toDF("doc_id")
    // {1,2,3} and {7,8} are near-dup clusters
    val groups = Dedup.dedupGroups(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b"))
    val out = Dedup.clusterSafeSplit(docsDf, groups, "doc_id",
        Seq("train" -> 0.5, "test" -> 0.5)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 12)
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "cluster {1,2,3} split apart")
    assert(out(7L) == out(8L), "cluster {7,8} split apart")
    // singletons follow their own id's hash - same label as a plain
    // hashSplit of the id
    val plain = Text.hashSplit((1L to 12L).toDF("doc_id"), "doc_id",
        Seq("train" -> 0.5, "test" -> 0.5)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (i <- Seq(4L, 5L, 6L, 9L, 10L, 11L, 12L)) assert(out(i) == plain(i))
  }

  test("temperatureMix: alpha=1 proportional, alpha->0 flattens, hand-computed shares") {
    import graft.ops.Select
    // token masses 100 vs 400 -> shares .2/.8; alpha=.5: sqrt -> 10/20 -> q = 1/3, 2/3
    val rows = Seq(("a", 60L), ("a", 40L), ("b", 400L)).toDF("src", "tok")
    val half = Select.temperatureMix(rows, "src", "tok", alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(half("a") == ((100L, 0.2, 0.333333, 1.666667)))
    assert(half("b") == ((400L, 0.8, 0.666667, 0.833333)))
    // alpha = 1 reproduces raw shares (boost 1 everywhere)
    val prop = Select.temperatureMix(rows, "src", "tok", alpha = 1.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(prop("a") == ((0.2, 1.0)) && prop("b") == ((0.8, 1.0)))
    // small alpha pulls toward uniform: q(a) rises monotonically
    val flat = Select.temperatureMix(rows, "src", "tok", alpha = 0.01)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(flat("a") > 0.45 && flat("a") < 0.55)
  }

  test("interleaveOrder: every prefix tracks the target mixture; deterministic") {
    import graft.ops.Select
    val docs = (1L to 30L).map(i => (i, if (i <= 10) "a" else "b"))
      .toDF("id", "src")
    val rates = Seq(("a", 0.333333), ("b", 0.666667)).toDF("src", "q")
    val out = Select.interleaveOrder(docs, "src", "id", rates)
      .orderBy("sort_key").collect()
    assert(out.length == 30)
    // in every prefix of length 3k the a:b ratio stays within one item
    // of 1:2 (the low-discrepancy property)
    val srcs = out.map(_.getString(1))
    for (k <- 1 to 10) {
      val nA = srcs.take(3 * k).count(_ == "a")
      assert(math.abs(nA - k) <= 1, s"prefix ${3 * k}: a-count $nA, want ~$k")
    }
    // replay is bit-identical (salted-md5 order, no RNG)
    val again = Select.interleaveOrder(docs, "src", "id", rates)
      .orderBy("sort_key").collect().map(_.getLong(0)).toSeq
    assert(again == out.map(_.getLong(0)).toSeq)
  }

  test("waterfill budgets: hand-computed levels, exact budget, cap respected") {
    import graft.ops.Select
    // caps (maxEpochs 1) = [10, 20, 40, 80], budget 100:
    // 10*4=40<=100 sat; 20*3=60<=90 sat; 40*2=80<=70 unsat -> level
    // (100-30)/2 = 35 -> allocs [10, 20, 35, 35]
    val stats = Seq(("a", 10L), ("b", 20L), ("c", 40L), ("d", 80L))
      .toDF("source", "n_tok")
    val got = Select.waterfillBudgets(stats, "source", "n_tok",
        budget = 100.0, maxEpochs = 1.0)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got("a") == ((10.0, 1.0, true)))
    assert(got("b") == ((20.0, 1.0, true)))
    assert(got("c") == ((35.0, 0.875, false)))
    assert(got("d") == ((35.0, 0.4375, false)))
    assert(got.values.map(_._1).sum == 100.0) // allocations exhaust the budget
    // budget above total capacity: everything saturates at cap
    val loose = Select.waterfillBudgets(stats, "source", "n_tok",
        budget = 1e6, maxEpochs = 2.0)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    assert(loose.forall { case (alloc, ep, sat) => sat && ep == 2.0 } &&
      loose.map(_._1).sum == 300.0)
  }

  test("Kneser-Ney LM: hand-computed discount, continuation backoff, floors") {
    // train "a b a b a c": bi (a,b)=2 (b,a)=2 (a,c)=1
    // ctx a: c1=3 fan=2; b: c1=2 fan=1 | cont a=1 b=1 c=1 | B=3 V=3 -> 7
    val m = NgramLm.fitKneserNey(Seq((1L, "a b a b a c")).toDF("doc_id", "text"), "text")
    assert(m.nBigramTypes == 3 && m.vocabSize == 3)
    val ctx = m.contexts.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ctx == Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L))))
    val scored = m.score(Seq(
        (10L, "a b"),  // seen: (2-.75)/3 + .75*2/3 * (1+1)/7
        (11L, "c a"),  // unseen context c: continuation floor of a
        (12L, "z q"))  // fully OOV: continuation floor of q
      .toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    assert(scored(10L) == r6(math.log(1.25 / 3.0 + 0.75 * 2 / 3.0 * (2.0 / 7))))
    assert(scored(11L) == r6(math.log(2.0 / 7)))
    assert(scored(12L) == r6(math.log(1.0 / 7)))
    // every KN probability is a genuine probability (< 1, > 0): log < 0
    assert(scored.values.forall(_ < 0.0))
  }

  test("line dedup: repeated lines drop, order survives, emptied docs vanish") {
    val docs = Seq(
      (1L, "unique alpha\nSHARED FOOTER\nunique beta"),
      (2L, "shared footer\nunique gamma"),   // case/trim-insensitive match
      (3L, "  shared footer  "),             // all boilerplate -> doc vanishes
      (4L, "solo line only")).toDF("doc_id", "text")
    val out = Text.dedupLines(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("unique alpha\nunique beta", 2L))) // order preserved
    assert(out(2L) == (("unique gamma", 1L)))
    assert(!out.contains(3L))                              // emptied doc dropped
    assert(out(4L) == (("solo line only", 1L)))
    // threshold respected: the footer lives in 3 docs, so minDf=4 keeps it
    val relaxed = Text.dedupLines(docs, "text", "doc_id", minDf = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(relaxed(3L).trim.toLowerCase == "shared footer")
    // shuffle-join fallback is result-identical to the broadcast path
    val shuffled = Text.dedupLines(docs, "text", "doc_id", broadcastHot = false)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(shuffled == out)
  }

  test("DSIR selection: target-like docs win; k bound; deterministic rerun") {
    // target domain talks about "alpha beta", the raw corpus mixes in
    // "noise junk" docs; selection with prob ∝ exp(llr) must overwhelmingly
    // pick the target-like half
    val docs = ((1L to 40L).map(i => (i, "alpha beta alpha beta gamma")) ++
      (41L to 80L).map(i => (i, "noise junk noise junk filler"))).toDF("doc_id", "text")
    val target = NgramLm.fit(docs.filter(col("doc_id") <= 40), "text")
    val raw = NgramLm.fit(docs, "text")
    val sel = Dsir.select(docs, "text", "doc_id", target, raw, k = 20)
    val picked = sel.collect().map(_.getLong(0)).toSet
    assert(picked.size == 20)
    assert(picked.count(_ <= 40L) >= 18, s"picked ${picked.count(_ <= 40L)}/20 target-like")
    // content-derived Gumbel: identical selection on rerun
    val again = Dsir.select(docs, "text", "doc_id", target, raw, k = 20)
      .collect().map(_.getLong(0)).toSet
    assert(again == picked)
    // k larger than the corpus degrades to "every doc with bigrams"
    assert(Dsir.select(docs, "text", "doc_id", target, raw, k = 500).count() == 80)
  }

  test("quality classifier separates an obviously separable corpus") {
    val good = (1L to 30L).map(i => (i, s"clean well formed sentence number $i with structure", 1))
    val bad = (31L to 60L).map(i => (i, s"zz qq xx $i garbage garbage garbage zz qq", 0))
    val docs = (good ++ bad).toDF("doc_id", "text", "label")
    val m = QualityFilter.fit(docs, "text", "label", numFeatures = 1 << 12)
    // score held-out docs drawn from the same two distributions
    val held = Seq((100L, "clean well formed sentence with structure"),
      (101L, "zz qq xx garbage garbage zz")).toDF("doc_id", "text")
    val s = QualityFilter.score(m, held, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(100L) > 0.5 && s(101L) < 0.5, s"scores $s")
    // scores are probabilities
    val all = QualityFilter.score(m, docs, "text", "doc_id").collect()
    assert(all.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
    assert(all.length == 60)
  }

  test("cache hygiene: dedup operators leave no cached blocks after the action") {
    // the suites share one session (and the MlOps registry legitimately
    // holds one slot), so assert no NEW persistent RDDs survive the action
    spark.sqlContext.clearCache()
    def newBlocksAfter(body: => Unit): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      body
      val deadline = System.nanoTime + 30L * 1000000000L
      var extra = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      while (extra.nonEmpty && System.nanoTime < deadline) {
        Thread.sleep(50)
        extra = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      }
      extra
    }
    val j = newBlocksAfter {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.4)
        .write.format("noop").mode("overwrite").save()
    }
    assert(j.isEmpty, s"ngramJaccardPairs leaked cached RDDs: $j")
    val m = newBlocksAfter {
      Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.4)
        .write.format("noop").mode("overwrite").save()
    }
    assert(m.isEmpty, s"minhashLshPairs leaked cached RDDs: $m")
    // back-to-back identical invocations rebind the same cache entry —
    // the refcount must keep invocation 2 cached while invocation 1's
    // async listener drains, and still leave the session clean at the end
    val m2 = newBlocksAfter {
      Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.4)
        .write.format("noop").mode("overwrite").save()
      Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.4)
        .write.format("noop").mode("overwrite").save()
    }
    assert(m2.isEmpty, s"repeated minhashLshPairs leaked cached RDDs: $m2")
    val g = newBlocksAfter {
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
      Dedup.dedupGroups(pairs).write.format("noop").mode("overwrite").save()
    }
    assert(g.isEmpty, s"dedupGroups leaked cached RDDs: $g")
  }

  test("bloom-prefiltered incremental dedup equals the exact path") {
    val corpus = docs.filter(col("doc_id") <= 3)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1
      (11L, "a genuinely new document body"),
      (12L, "a genuinely new document body"),               // in-batch dup of 11
      (13L, "another fresh one")
    ).toDF("doc_id", "text")
    val idx = Dedup.hashIndex(corpus, "text")
    val exact = Dedup.dedupIncremental(batch, "text", "doc_id", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // across fpp regimes (incl. one so loose most probes are positive),
    // the result NEVER changes — false positives are exact-verified
    for (fpp <- Seq(0.5, 0.05, 0.001)) {
      val bloom = Dedup.dedupIncrementalBloom(batch, "text", "doc_id", idx,
          fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloom == exact, s"fpp=$fpp diverged: $bloom vs $exact")
    }
    assert(exact == Set(11L, 13L))
  }

  test("Bpe.tokensCol equals Bpe.tokenize, fixed AND fitted merges") {
    import graft.ops.Bpe
    val real = graft.core.Tables.load(spark, sf, "documents")
    val fitted = Bpe.fit(real, "text", nMerges = 30)
    for (m <- Seq(Bpe.FixedEnglishMerges, fitted)) {
      val viaMap = Bpe.tokenize(real, "text", "doc_id", m)
        .select(col("doc_id"), col("bpe_tokens"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val viaCol = real.select(col("doc_id"),
          Bpe.tokensCol(col("text"), m).as("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(viaCol == viaMap,
        s"catalyst replace chain diverged from String.replace (merges=${m.size})")
    }
  }

  test("fertilityStats: more merges never raise token counts; ratios consistent") {
    import graft.ops.Bpe
    val real = graft.core.Tables.load(spark, sf, "documents")
    val none = Bpe.fertilityStats(real, "text", "source", Bpe.Merges(Seq.empty))
      .collect().map(r => r.getString(0) -> r).toMap
    val some = Bpe.fertilityStats(real, "text", "source", Bpe.FixedEnglishMerges)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(none.keySet == some.keySet && none.nonEmpty)
    for ((src, r0) <- none) {
      val r1 = some(src)
      // zero merges => one token per char: n_bpe_tokens == n_chars
      assert(r0.getLong(3) == r0.getLong(4))
      // merging only ever shrinks the token stream
      assert(r1.getLong(3) <= r0.getLong(3))
      // fertility = tokens/words to 6 dp
      val fert = BigDecimal(r1.getLong(3).toDouble / r1.getLong(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r1.getDouble(5) - fert) < 2e-6)
    }
  }

  test("minhash admission: exact copy admitted as dup, novel text passes") {
    val corpus = docs
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"), // copy of 1/4
      (12L, "entirely novel words that never appeared before anywhere else today")
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(corpus, "text", "doc_id", n = 3, k = 16, bands = 4)
    val out = Dedup.admitNearDups(batch, idx, "text", "doc_id",
        n = 3, k = 16, bands = 4, tau = 0.4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(11L).getBoolean(1) && out(11L).getLong(2) == 1L &&
      out(11L).getDouble(3) == 1.0)
    assert(!out(12L).getBoolean(1) && out(12L).isNullAt(2))
    // fast-hash family: same verdict on the exact copy
    val idxF = Dedup.minhashBandIndex(corpus, "text", "doc_id", 3, 16, 4, fastHash = true)
    val outF = Dedup.admitNearDups(batch, idxF, "text", "doc_id",
        3, 16, 4, 0.4, fastHash = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(outF(11L).getBoolean(1) && outF(11L).getDouble(3) == 1.0)
    assert(!outF(12L).getBoolean(1))
  }

  test("packed admission equals the aggregation-based admission, both hash families") {
    val real = graft.core.Tables.load(spark, sf, "documents")
    val corpus = real.filter(col("doc_id") % 10 =!= 0)
    val batch = real.filter(col("doc_id") % 10 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    for (fast <- Seq(false, true)) {
      val idx = Dedup.minhashBandIndex(corpus, "text", "doc_id", 3, 16, 4,
        fastHash = fast)
      val agg = canon(Dedup.admitNearDups(batch, idx, "text", "doc_id",
        3, 16, 4, 0.4, fastHash = fast))
      val packed = canon(Dedup.admitNearDupsPacked(batch,
        Dedup.packedAdmitIndex(idx, "doc_id"), "text", "doc_id",
        3, 16, 4, 0.4, fastHash = fast))
      assert(packed == agg, s"fastHash=$fast verdicts diverged")
      assert(agg.exists(_._2), "expected at least one admitted dup on the corpus")
    }
  }

  test("minhash index is incremental: union of parts equals whole") {
    val part1 = docs.filter(col("doc_id") <= 3)
    val part2 = docs.filter(col("doc_id") > 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[String](3))).toSet
    val whole = canon(Dedup.minhashBandIndex(docs, "text", "doc_id", 3, 16, 4))
    val parts = canon(Dedup.minhashBandIndex(part1, "text", "doc_id", 3, 16, 4)
      .union(Dedup.minhashBandIndex(part2, "text", "doc_id", 3, 16, 4)))
    assert(whole == parts) // signatures are content-derived, never corpus-derived
  }

  test("epochShuffle: per-epoch permutation, deterministic, epochs differ") {
    val real = graft.core.Tables.load(spark, sf, "documents")
    val n = real.count()
    val out = Text.epochShuffle(real, "doc_id", epochs = 2, nShards = 8)
    val rows = out.collect()
    assert(rows.length == 2 * n)
    // each epoch covers every doc exactly once; shards in range
    for (e <- 0 to 1)
      assert(rows.count(_.getLong(1) == e) == n)
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 8))
    // sort keys are distinct (a true ordering) and epochs order differently
    assert(rows.map(_.getString(3)).distinct.length == rows.length)
    def order(e: Int) = rows.filter(_.getLong(1) == e)
      .sortBy(_.getString(3)).map(_.getLong(0)).toSeq
    assert(order(0) != order(1))
    // determinism: a second evaluation is row-identical
    val again = Text.epochShuffle(real, "doc_id", 2, 8).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("contaminationScore: self-contamination is 1.0, disjoint is 0.0") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = Dedup.contaminationScore(docs, bench, "text", "doc_id",
        n = 3, minFrac = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    // docs 1 and 4 ARE the bench doc: every shingle shared
    assert(out(1L).getDouble(3) == 1.0 && out(1L).getBoolean(4))
    assert(out(4L).getDouble(3) == 1.0)
    // doc 3 shares nothing; scored 0, unflagged — but still present
    assert(out(3L).getLong(2) == 0L && out(3L).getDouble(3) == 0.0 &&
      !out(3L).getBoolean(4))
    // near-dup doc 2 sits strictly between
    assert(out(2L).getDouble(3) > 0.0 && out(2L).getDouble(3) < 1.0)
    // n_shared agrees with decontaminate's absolute count where both emit
    val dec = Dedup.decontaminate(docs, bench, "text", "doc_id", 3, minOverlap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, r) <- out if r.getLong(2) > 0)
      assert(dec(id) == r.getLong(2))
  }

  test("corpusDiff: all four statuses, bodies compared by hash") {
    val oldSnap = Seq((1L, "alpha"), (2L, "bravo"), (3L, "charlie"))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, "alpha"), (2L, "bravo EDITED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val d = Dedup.corpusDiff(oldSnap, newSnap, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("calibrateScores: per-group percent ranks, id tiebreak, [0,1]") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 20.0), ("a", 4L, 40.0),
      ("b", 5L, 999.0)).toDF("source", "doc_id", "score")
    val out = Text.calibrateScores(df, "score", Seq("source"), "doc_id")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // group a: ranks 1..4 -> (rank-1)/3; the tie at 20.0 breaks on id
    assert(out(1L) == 0.0 && math.abs(out(2L) - 1.0 / 3) < 1e-6 &&
      math.abs(out(3L) - 2.0 / 3) < 1e-6 && out(4L) == 1.0)
    // singleton group is 0 (no peer set to rank against), not NaN
    assert(out(5L) == 0.0)
  }

  test("dedupFrames: identical payloads collapse per frame index, hash-keyed") {
    import graft.ops.Multimodal
    val d = Seq((1L, "same payload content"), (2L, "same payload content"),
      (3L, "a different body entirely")).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark,
      Multimodal.withBinaryPayload(d, "text"), "doc_id")
    val groups = Multimodal.dedupFrames(frames, "doc_id").collect()
    // docs 1 and 2 share every frame; doc 3 shares none
    assert(groups.nonEmpty && groups.forall(_.getLong(1) == 2L))
    assert(groups.forall(_.getLong(2) == 1L)) // canon_doc = min id
    val framesPerDoc = frames.filter(col("doc_id") === 1L).count()
    assert(groups.length == framesPerDoc ||
      groups.length < framesPerDoc) // fewer if two frame indices coincide
  }

  test("packAssignments agrees with the aggregated cross-doc packs") {
    val real = graft.core.Tables.load(spark, sf, "documents")
    val chunks = Text.chunk(real, "text", "doc_id", chunkTokens = 40, overlap = 8)
    val packs = Text.packChunksAcrossDocs(chunks, "doc_id",
        maxTokens = 96, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4)))).toMap // (bucket,pack) -> (n_chunks, n_tokens)
    val asg = Text.packAssignments(chunks, "doc_id", maxTokens = 96, nBuckets = 8)
      .collect()
    val grouped = asg.groupBy(r => (r.getLong(2), r.getLong(3)))
    assert(grouped.keySet == packs.keySet)
    for ((k, rows) <- grouped) {
      val (nc, nt) = packs(k)
      assert(rows.length.toLong == nc, s"pack $k chunk count")
      assert(rows.map(_.getLong(5)).sum == nt, s"pack $k token sum")
      // offsets tile the pack contiguously: sorted offsets == running sums
      val sorted = rows.sortBy(_.getLong(4))
      var cum = 0L
      for (r <- sorted) {
        assert(r.getLong(4) == cum, s"pack $k offset gap")
        cum += r.getLong(5)
      }
    }
  }

  test("preferencePairs: tie determinism, singleton drop, margin prune") {
    import graft.ops.Chat
    val cand = Seq(
      (1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 1.0), // clear best/worst
      (2L, 20L, 4.0), (2L, 21L, 4.0),                 // full tie
      (3L, 30L, 7.0)                                  // singleton
    ).toDF("prompt_id", "doc_id", "score")
    val out = Chat.preferencePairs(cand, "prompt_id", "doc_id", "score")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L)) // singleton prompt dropped
    assert(out(1L).getLong(1) == 11L && out(1L).getLong(2) == 12L &&
      out(1L).getDouble(5) == 8.0)
    // full tie: chosen = min id, rejected = max id, margin 0
    assert(out(2L).getLong(1) == 20L && out(2L).getLong(2) == 21L &&
      out(2L).getDouble(5) == 0.0)
    // margin prune removes the tie pair
    val pruned = Chat.preferencePairs(cand, "prompt_id", "doc_id", "score",
      minMargin = 0.5).collect().map(_.getLong(0)).toSet
    assert(pruned == Set(1L))
  }

  test("benford: digit extraction across magnitudes; geometric data conforms, uniform alarms") {
    import graft.ops.Profile
    // digit extraction: sign, scale and decimals are irrelevant
    val probe = Seq(0.05, -523.0, 999.0, 1.0, 0.0, 7e9).toDF("v")
    val got = Profile.benford(probe, "v").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(5L.toInt) == 2L && got(9) == 1L && got(1) == 1L && got(7) == 1L)
    assert(got.values.sum == 5L, "zero carries no leading digit")
    // a geometric sequence is exactly Benford in the limit; 10^k grids
    // hit digit 1 only — use growth 1.07 over 300 steps for a close fit
    val geo = (1 to 300).map(i => math.pow(1.07, i)).toDF("v")
    val gRows = Profile.benford(geo, "v").collect()
    val gChi = gRows.head.getAs[Double]("chi2")
    // uniform integers 100-999 put ~1/9 mass on every digit — far off
    val uni = (100 to 999).map(_.toDouble).toDF("v")
    val uChi = Profile.benford(uni, "v").collect().head.getAs[Double]("chi2")
    assert(gChi < 20 && uChi > 100, s"geo $gChi vs uniform $uChi")
    // expectations are the law itself and sum to 1
    assert(math.abs(gRows.map(_.getAs[Double]("p_exp")).sum - 1.0) < 1e-4)
    assert(gRows.length == 9, "all nine digits present even when unobserved")
  }

  test("correlationMatrix: exact linear dependence and sign") {
    import graft.ops.Profile
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0),
      (4.0, 8.0, -4.5)).toDF("x", "y", "z")
    val m = Profile.correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("x", "y")) == 1.0) // y = 2x exactly
    assert(m(("x", "z")) < -0.99 && m(("y", "z")) < -0.99)
  }

  test("pageRank: uniform on a cycle, hub dominates a star") {
    import graft.ops.Graph
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val pc = Graph.pageRank(cycle, "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pc.size == 3 && pc.values.forall(v => math.abs(v - 1.0 / 3) < 1e-6))
    // star with back-edges: hub collects damped mass from all leaves
    val star = Seq((2L, 1L), (3L, 1L), (4L, 1L),
      (1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val ps = Graph.pageRank(star, "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ps(1L) > ps(2L) && ps(2L) == ps(3L) && ps(3L) == ps(4L))
    // symmetric graph, no dangling mass: ranks sum to ~1
    assert(math.abs(ps.values.sum - 1.0) < 1e-5)
  }

  test("hits: hand-computed hubs/authorities; iteration-stable on the fixed point") {
    import graft.ops.Graph
    // a -> c, b -> c: the unique authority is c (auth 1), a and b are
    // equal hubs (1/sqrt(2) each) — the fixed point from iteration 1 on
    val g = Seq(("a", "c"), ("b", "c")).toDF("src", "dst")
    def score(it: Int) = Graph.hits(g, "src", "dst", iterations = it)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val s1 = score(1)
    val inv = math.round(1.0 / math.sqrt(2) * 1e6) / 1e6
    assert(s1("c") == ((0.0, 1.0)))
    assert(s1("a") == ((inv, 0.0)) && s1("b") == ((inv, 0.0)))
    assert(score(4) == s1) // converged: more iterations change nothing
    // star with a distinguished source: s -> {x, y, z}; s is the only
    // hub, targets are equal authorities; both vectors unit L2
    val star = Seq(("s", "x"), ("s", "y"), ("s", "z")).toDF("src", "dst")
    val st = Graph.hits(star, "src", "dst", iterations = 3)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(st("s")._1 == 1.0 && st("s")._2 == 0.0)
    val a3 = math.round(1.0 / math.sqrt(3) * 1e6) / 1e6
    assert(Seq("x", "y", "z").forall(v => st(v) == ((0.0, a3))))
    // duplicate and self-referencing-free: repeated edges don't double-count
    val dup = Seq(("a", "c"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    assert(Graph.hits(dup, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap == score(2))
    // checkpointEvery is honored, not decorative: 0 (never, the
    // tiny-graph escape hatch) and 2 (every other half) both reproduce
    // the default's scores exactly
    for (ce <- Seq(0, 2)) {
      val alt = Graph.hits(g, "src", "dst", iterations = 2,
          checkpointEvery = ce)
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(alt == score(2), s"checkpointEvery=$ce diverged")
    }
  }

  test("hits: equals a plain-Scala power iteration with per-half normalization") {
    import graft.ops.Graph
    // seeded random bipartite graph, duplicates included: 60 sources,
    // 40 sinks (disjoint id ranges), 400 listed edges
    val rnd = new scala.util.Random(9)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, 1000L + rnd.nextInt(40)))
    val g = edges.toDF("src", "dst")
    val iters = 5
    // the classic formulation: every half-iteration L2-normalized
    val want: Map[Long, (Double, Double)] = {
      val e = edges.distinct
      def norm(m: Map[Long, Double]) = {
        val n = math.sqrt(m.values.map(x => x * x).sum)
        m.map { case (k, x) => k -> (if (n > 0) x / n else 0.0) }
      }
      var hub = e.map(_._1 -> 1.0).toMap
      var auth = Map.empty[Long, Double]
      for (_ <- 1 to iters) {
        auth = norm(e.groupBy(_._2).map { case (d, es) => d -> es.map(x => hub(x._1)).sum })
        hub = norm(e.groupBy(_._1).map { case (s, es) => s -> es.map(x => auth(x._2)).sum })
      }
      (e.map(_._1) ++ e.map(_._2)).distinct
        .map(v => v -> ((hub.getOrElse(v, 0.0), auth.getOrElse(v, 0.0)))).toMap
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(a.abs, b.abs)
    for (ce <- Seq(0, 1, 3)) {
      val raw = Graph.hitsScores(g, "src", "dst", iters, ce).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(raw.keySet == want.keySet)
      for ((v, (h, a)) <- raw)
        assert(close(h, want(v)._1) && close(a, want(v)._2),
          s"checkpointEvery=$ce v=$v: ($h, $a) vs ${want(v)}")
      val rounded = Graph.hits(g, "src", "dst", iters, ce).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(rounded == want.map { case (v, (h, a)) => v -> ((r6(h), r6(a))) },
        s"checkpointEvery=$ce")
    }
  }

  test("hits: an empty edge list gives zero rows") {
    import graft.ops.Graph
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (ce <- Seq(0, 1))
      assert(Graph.hits(empty, "src", "dst", iterations = 3, checkpointEvery = ce)
        .collect().isEmpty)
  }

  test("hits: 200 iterations on K(40,40) stay finite when checkpointed; unchecked they fail a named require") {
    import graft.ops.Graph
    // every half multiplies the unnormalized scores by 40: 400 halves
    // pass 40^192 ~ 1e307, past the double range
    val k = (for (s <- 0L until 40L; d <- 100L until 140L) yield (s, d)).toDF("src", "dst")
    val inv = BigDecimal(1 / math.sqrt(40)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Graph.hits(k, "src", "dst", iterations = 200, checkpointEvery = 1)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out.size == 80)
    assert(out.forall { case (v, (h, a)) =>
      if (v < 100) h == inv && a == 0.0 else h == 0.0 && a == inv }, out)
    // unchecked, the 400 halves would be one 400-deep plan: refused
    // before any job runs
    val e = intercept[IllegalArgumentException] {
      Graph.hits(k, "src", "dst", iterations = 200, checkpointEvery = 0).collect()
    }
    assert(e.getMessage.contains("hits: 400 half-iterations between checkpoints"),
      e.getMessage)
  }

  test("hits: the q_hits call shape (3 iterations, checkpointEvery = 0) runs at most 20 jobs") {
    import graft.ops.Graph
    val edges = graft.core.Tables.load(spark, sf, "lineitem").select(
      (col("l_orderkey").cast("long") * 2).as("src"),
      (col("l_partkey").cast("long") * 2 + 1).as("dst"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    val rows = try {
      val r = Graph.hits(edges, "src", "dst", iterations = 3, checkpointEvery = 0).collect()
      org.apache.spark.sql.graftbridge.CatalystBridge.drainListenerBus(sc)
      r
    } finally sc.removeSparkListener(l)
    assert(rows.nonEmpty)
    assert(jobs.get <= 20, s"${jobs.get} jobs")
  }

  test("triangleCounts: square+diagonal hand-count; canon kills dups/loops/reversals") {
    import graft.ops.Graph
    // square 1-2-3-4 with diagonal 1-3: triangles {1,2,3} and {1,3,4};
    // noise rows (reversed, duplicate, self-loop) must not change it
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (2L, 1L), (3L, 1L), (3L, 3L)).toDF("s", "d")
    val out = Graph.triangleCounts(e, "s", "d")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.getAs[java.lang.Double]("clustering")).map(_.toDouble))).toMap
    assert(out(1L) == (3L, 2L, Some(0.666667)))
    assert(out(2L) == (2L, 1L, Some(1.0)))
    assert(out(3L) == (3L, 2L, Some(0.666667)))
    assert(out(4L) == (2L, 1L, Some(1.0)))
    // triangle-free path: zero triangles, clustering null at degree 1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val p = Graph.triangleCounts(path, "s", "d")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getAs[java.lang.Double]("clustering"))).toMap
    assert(p(1L) == (0L, null) && p(2L)._1 == 0L &&
      p(2L)._2.doubleValue == 0.0)
    // clique K4: every vertex in C(3,2)=3 triangles, clustering 1
    val k4 = (1 to 4).combinations(2)
      .map(c => (c(0).toLong, c(1).toLong)).toSeq.toDF("s", "d")
    Graph.triangleCounts(k4, "s", "d").collect().foreach { r =>
      assert(r.getLong(2) == 3L && r.getAs[Double]("clustering") == 1.0)
    }
  }

  test("kCore: triangle survives the 2-core, pendant+chain peel off; fixpoint stable") {
    import graft.ops.Graph
    // triangle a-b-c, pendant d on a, chain e-f
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("e", "f"))
      .toDF("s", "d")
    def core(rounds: Int) = Graph.kCore(e, "s", "d", k = 2, rounds = rounds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // round 1 drops d/e/f (degree 1); triangle is 2-regular and stays
    val got = core(2)
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // extra rounds are no-ops past the fixpoint
    assert(core(5) == got)
    // k above the max degree empties the core
    assert(Graph.kCore(e, "s", "d", k = 4, rounds = 3).count() == 0L)
  }

  test("labelPropagation: bridged triangles split into two communities, min-label ties") {
    import graft.ops.Graph
    // two triangles joined by the bridge c-x; 3 deterministic sync
    // rounds settle on {a,b,c}->a and {x,y,z}->c (hand-traced)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")).toDF("s", "d")
    val got = Graph.labelPropagation(e, "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"))
    // an isolated self-paired vertex never appears (self-loops dropped),
    // but a vertex whose only neighbor vanishes keeps its last label:
    // single edge graph converges immediately to the min endpoint
    val single = Seq(("p", "q")).toDF("s", "d")
    val s1 = Graph.labelPropagation(single, "s", "d", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // sync update on an edge: each adopts the other's CURRENT label —
    // p<->q swap forever under pure sync; round 2 restores identity
    assert(s1 == Map("p" -> "p", "q" -> "q"))
  }

  test("modularity: hand Q on bridged triangles, perfect split, one community") {
    import graft.ops.Graph
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")).toDF("s", "d")
    def labs(m: (String, String)*) = m.toSeq.toDF("v", "label")
    // LPA-3's own partition: {a,b,c}->a, {x,y,z}->c
    // m=7, e_in=6, D_a=7, D_c=7 -> Q = (4*7*6 - 98)/196 = 70/196
    val part = labs("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c")
    val r = Graph.modularity(e, "s", "d", part).head()
    assert(r.getLong(0) == 7L && r.getLong(1) == 2L && r.getLong(2) == 6L)
    assert(r.getDouble(3) == 0.357143)
    // two disjoint triangles, own communities: the textbook Q = 0.5
    val e2 = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x")).toDF("s", "d")
    assert(Graph.modularity(e2, "s", "d", part).head().getDouble(3) == 0.5)
    // everything in one community: Q = 0 exactly
    val one = labs("a" -> "1", "b" -> "1", "c" -> "1",
      "x" -> "1", "y" -> "1", "z" -> "1")
    assert(Graph.modularity(e, "s", "d", one).head().getDouble(3) == 0.0)
    // LPA's own labels reproduce the hand partition's score
    val lpa = Graph.labelPropagation(e, "s", "d", iterations = 3)
    assert(Graph.modularity(e, "s", "d", lpa).head().getDouble(3) == 0.357143)
  }

  test("personalizedPageRank: teleport to seeds only, isolated seed holds share") {
    import graft.ops.Graph
    val e = Seq(("a", "b")).toDF("s", "d")
    val seeds1 = Seq("a").toDF("v")
    val r2 = Graph.personalizedPageRank(e, "s", "d", seeds1, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // iter1: a = 0.15 (teleport), b = 0.85*1; iter2: b = 0.85*0.15
    assert(r2 == Map("a" -> 0.15, "b" -> 0.1275))
    // isolated seed s: in the vertex set, holds its teleport share; its
    // rank mass dangles away (documented drop semantics)
    val seeds2 = Seq("a", "s").toDF("v")
    val r1 = Graph.personalizedPageRank(e, "s", "d", seeds2, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r1 == Map("a" -> 0.075, "s" -> 0.075, "b" -> 0.425))
    // zero iterations: the seeded initial vector itself
    val r0 = Graph.personalizedPageRank(e, "s", "d", seeds1, iterations = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r0 == Map("a" -> 1.0, "b" -> 0.0))
  }

  test("bradleyTerry: MM fixed point matches the MLE on hand cases") {
    import graft.ops.Rank
    // A beats B 2:1 -> MLE P(A>B) = 2/3 -> theta (4/3, 2/3) at mean 1;
    // the MM update hits the fixed point on iteration 1 here
    val o = Seq(("A", "B"), ("A", "B"), ("B", "A")).toDF("w", "l")
    val got = Rank.bradleyTerry(o, "w", "l", iterations = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("A") == ((1.333333, 2L, 3L)))
    assert(got("B") == ((0.666667, 1L, 3L)))
    // zero-win entity pins to 0, winner absorbs the rescaled mass
    val z = Seq(("A", "C"), ("A", "C")).toDF("w", "l")
    val gz = Rank.bradleyTerry(z, "w", "l", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gz == Map("A" -> 2.0, "C" -> 0.0))
    // symmetric record -> equal strengths at the mean
    val s = Seq(("A", "B"), ("B", "A")).toDF("w", "l")
    val gs = Rank.bradleyTerry(s, "w", "l", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gs == Map("A" -> 1.0, "B" -> 1.0))
  }

  test("cohenKappa: textbook 2x2 case, degenerate and disjoint raters") {
    import graft.ops.Agreement
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(10)(("y", "n")) ++ Seq.fill(5)(("n", "y"))
    val df = rows.toDF("a", "b")
    val r = Agreement.cohenKappa(df, "a", "b").head()
    // po = 35/50 = 0.7; pe = (30*25 + 20*25)/2500 = 0.5; kappa = 0.4
    assert(r.getLong(0) == 50L && r.getDouble(1) == 0.7 &&
      r.getDouble(2) == 0.5 && r.getDouble(3) == 0.4)
    // null ratings excluded from every term
    val withNulls = df.unionByName(
      Seq((null: String, "y"), ("y", null: String)).toDF("a", "b"))
    assert(Agreement.cohenKappa(withNulls, "a", "b").head() == r)
    // both raters constant-identical: pe = 1 -> kappa undefined (null)
    val const = Seq.fill(5)(("y", "y")).toDF("a", "b")
    assert(Agreement.cohenKappa(const, "a", "b").head().isNullAt(3))
    // disjoint label use: pe = 0, po = 0 -> kappa 0
    val disj = Seq.fill(5)(("y", "n")).toDF("a", "b")
    val d = Agreement.cohenKappa(disj, "a", "b").head()
    assert(d.getDouble(2) == 0.0 && d.getDouble(3) == 0.0)
  }

  test("krippendorffAlpha: hand case, reference formula, missing-data rule") {
    import graft.ops.Agreement
    // 3 items x 2 raters: (a,a), (b,b), (a,b)
    // Ao = 4/6, Ae = (3*2 + 3*2)/(6*5) = 0.4, alpha = .266667/.6
    val df = Seq((1L, 0, "a"), (1L, 1, "a"), (2L, 0, "b"), (2L, 1, "b"),
      (3L, 0, "a"), (3L, 1, "b")).toDF("item", "rater", "lab")
    val r = Agreement.krippendorffAlpha(df, "item", "rater", "lab").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 0.666667 && r.getDouble(3) == 0.4 &&
      r.getDouble(4) == 0.444445)
    // single-rating items carry no signal and must not change anything
    val withSingles = df.unionByName(
      Seq((9L, 0, "a"), (8L, 2, "b")).toDF("item", "rater", "lab"))
    assert(Agreement.krippendorffAlpha(withSingles, "item", "rater", "lab")
      .head() == r)
    // duplicate (item, rater) slot rows resolve to ONE rating (min
    // label) instead of inflating the counts: an exact dup and a
    // conflicting dup that loses the min rule both leave alpha unchanged
    val withDups = df.unionByName(
      Seq((1L, 0, "a"), (1L, 0, "b"), (3L, 1, "b")).toDF("item", "rater", "lab"))
    assert(Agreement.krippendorffAlpha(withDups, "item", "rater", "lab")
      .head() == r)
    // perfect agreement on a mixed-label corpus -> alpha 1
    val perfect = Seq((1L, 0, "a"), (1L, 1, "a"), (2L, 0, "b"), (2L, 1, "b"))
      .toDF("item", "rater", "lab")
    assert(Agreement.krippendorffAlpha(perfect, "item", "rater", "lab")
      .head().getDouble(4) == 1.0)
    // one-label universe: Ae = 1 -> alpha undefined
    val onelab = Seq((1L, 0, "a"), (1L, 1, "a")).toDF("item", "rater", "lab")
    assert(Agreement.krippendorffAlpha(onelab, "item", "rater", "lab")
      .head().isNullAt(4))
    // independent reference: alpha = 1 - Do/De over a 3-rater fixture
    // with a missing cell (item 2 has 2 ratings)
    val mix = Seq((1L, 0, "x"), (1L, 1, "x"), (1L, 2, "y"),
      (2L, 0, "y"), (2L, 2, "y"), (3L, 0, "x"), (3L, 1, "y"), (3L, 2, "z"))
      .toDF("item", "rater", "lab")
    val got = Agreement.krippendorffAlpha(mix, "item", "rater", "lab")
      .head().getDouble(4)
    val items = Map(1L -> Seq("x", "x", "y"), 2L -> Seq("y", "y"),
      3L -> Seq("x", "y", "z"))
    val n = items.values.map(_.size).sum.toDouble
    val doSum = items.values.map { ls =>
      val dis = (for (i <- ls.indices; j <- ls.indices if i != j)
        yield if (ls(i) != ls(j)) 1 else 0).sum
      dis.toDouble / (ls.size - 1)
    }.sum
    val nc = items.values.flatten.groupBy(identity).view.mapValues(_.size)
    val deRate = 1.0 - nc.values.map(c => c.toDouble * (c - 1)).sum / (n * (n - 1))
    val ref = 1.0 - (doSum / n) / deRate
    assert(math.abs(got - ref) < 1e-5, s"alpha $got vs reference $ref")
  }

  test("containmentPairs: excerpt scores 1.0 one-way, mutual on exact dup") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),          // the excerpt
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"), // superset
      (3L, "one two three four five six seven"),             // unrelated
      (4L, "one two three four five six seven")              // exact dup of 3
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", n = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // 1 fully inside 2 -> C(1->2) = 1.0; the reverse is 4/18 and filtered
    assert(got((1L, 2L)) == 1.0 && !got.contains((2L, 1L)))
    // exact dups contain each other
    assert(got((3L, 4L)) == 1.0 && got((4L, 3L)) == 1.0)
    // jaccard at the same tau misses the excerpt but keeps the dup
    val jac = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac == Set((3L, 4L)))
  }

  test("minKProb: kFrac=1 equals score; tail mean below doc mean; exact tail size") {
    import graft.ops.NgramLm
    val docs = graft.core.Tables.load(spark, sf, "documents").limit(60)
    val lm = NgramLm.fit(docs.filter(col("doc_id") % 10 =!= 0), "text")
    val full = lm.minKProb(docs, "text", "doc_id", kFrac = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val scored = lm.score(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(full.keySet == scored.keySet)
    full.foreach { case (id, (nb, nt, mk)) =>
      val (n2, avg) = scored(id)
      assert(nb == n2 && nt == nb)
      // per-bigram 6-dp rounding before averaging vs after: <= 1e-6 apart
      assert(math.abs(mk - avg) <= 1e-5, s"doc $id: $mk vs $avg")
    }
    val tail = lm.minKProb(docs, "text", "doc_id", kFrac = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    tail.foreach { case (id, (nb, nt, mk)) =>
      assert(nt == math.max(math.ceil(0.2 * nb).toLong, 1L), s"doc $id tail size")
      assert(mk <= full(id)._3 + 1e-9, s"doc $id: tail mean must not exceed doc mean")
    }
  }

  test("isotonicBins: equals classic PAV; monotone; no-op on monotone input") {
    import graft.ops.Calibrate
    // classic pooling case: per-bin raw probs 0.1, 0.4, 0.3, 0.8 with
    // equal weights -> PAV pools bins 2-3 to 0.35
    def mk(probs: Seq[Double], per: Int) = {
      val rows = probs.zipWithIndex.flatMap { case (p, b) =>
        (0 until per).map { j =>
          val id = b * per + j
          (id.toLong, (b * per + j).toDouble, j < math.round(p * per))
        }
      }
      rows.toDF("id", "score", "y")
    }
    val out = Calibrate.isotonicBins(mk(Seq(0.1, 0.4, 0.3, 0.8), 10),
        "score", "y", "id", buckets = 4)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out(1L) == ((0.1, 0.1)))
    assert(out(2L) == ((0.4, 0.35)) && out(3L) == ((0.3, 0.35)))
    assert(out(4L) == ((0.8, 0.8)))
    // classic-PAV reference on a harder shape (pool cascades left)
    val probs = Seq(0.5, 0.2, 0.1, 0.6, 0.4, 0.9)
    val got = Calibrate.isotonicBins(mk(probs, 10), "score", "y", "id",
        buckets = 6)
      .collect().sortBy(_.getLong(0)).map(_.getDouble(4)).toSeq
    // direct PAV: pool adjacent violators with weights
    def pav(ys: Seq[(Double, Double)]): Seq[Double] = {
      val pools = collection.mutable.ListBuffer.empty[(Double, Double)]
      ys.foreach { y =>
        pools += y
        while (pools.length >= 2 &&
            pools(pools.length - 2)._1 / pools(pools.length - 2)._2 >=
            pools.last._1 / pools.last._2) {
          val b = pools.remove(pools.length - 1)
          val a = pools.remove(pools.length - 1)
          pools += ((a._1 + b._1, a._2 + b._2))
        }
      }
      pools.toSeq.flatMap { case (s, w) =>
        Seq.fill(w.toInt)(s / w)
      }
    }
    val ref = pav(probs.map(p => (math.round(p * 10) / 10.0, 1.0)))
    got.zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
      assert(math.abs(g - r) < 1e-6, s"bin ${i + 1}: $g vs $r")
    }
    // monotone everywhere, and a no-op when raw is already monotone
    assert(got.zip(got.tail).forall { case (a, b) => a <= b + 1e-9 })
    val mono = Calibrate.isotonicBins(mk(Seq(0.1, 0.3, 0.7), 10),
        "score", "y", "id", buckets = 3)
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(mono.forall { case (raw, iso) => raw == iso })
  }

  test("spiegelhalterZ: perfectly calibrated -> 0; hand z; half-predictions carry no weight; degenerate nulls") {
    import graft.ops.Calibrate
    // p = 0.25 with a 1/4 hit rate is perfectly calibrated: num = 0
    val cal = Seq((0.25, 1L), (0.25, 0L), (0.25, 0L), (0.25, 0L))
      .toDF("p", "y")
    assert(Calibrate.spiegelhalterZ(cal, "p", "y").head().getDouble(1) == 0.0)
    // one overconfident miss: (y−p)(1−2p) = 0.72, var = 0.0576 -> z = 3
    val bad = Seq((0.1, 1L)).toDF("p", "y")
    assert(Calibrate.spiegelhalterZ(bad, "p", "y").head().getDouble(1) == 3.0)
    // p = 0.5 rows contribute zero weight to both sums
    val padded = bad.unionByName(Seq((0.5, 1L), (0.5, 0L)).toDF("p", "y"))
    val pr = Calibrate.spiegelhalterZ(padded, "p", "y").head()
    assert(pr.getLong(0) == 3 && pr.getDouble(1) == 3.0)
    // all-half predictions: variance term is 0 -> honest null, not NaN
    val half = Seq((0.5, 1L), (0.5, 0L)).toDF("p", "y")
    assert(Calibrate.spiegelhalterZ(half, "p", "y").head().isNullAt(1))
  }

  test("brierDecomposition: hand-computed terms; 5-term identity closes; empty input reports n = 0") {
    import graft.ops.Calibrate
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    // nBins=2: bin0 {(.2,0),(.2,1)} pbar=.2 obar_k=.5
    //          bin1 {(.8,1),(.8,1),(.9,0)} pbar=2.5/3 obar_k=2/3; obar=.6
    val df = Seq((0.2, 0L), (0.2, 1L), (0.8, 1L), (0.8, 1L), (0.9, 0L))
      .toDF("p", "y")
    val r = Calibrate.brierDecomposition(df, "p", "y", nBins = 2).head()
    assert(r.getLong(0) == 5L)
    assert(r.getDouble(1) == r6(1.57 / 5))                    // brier
    val rel = (2 * 0.09 + 3 * math.pow(2.5 / 3 - 2.0 / 3, 2)) / 5
    val res = (2 * 0.01 + 3 * math.pow(2.0 / 3 - 0.6, 2)) / 5
    assert(r.getDouble(2) == r6(rel))
    assert(r.getDouble(3) == r6(res))
    assert(r.getDouble(4) == 0.24)                            // obar(1-obar)
    // both within-bin extras: spread and (negative here) association
    val wv = (2 * math.pow(0.8 - 2.5 / 3, 2) + math.pow(0.9 - 2.5 / 3, 2)) / 5
    assert(r.getDouble(5) == r6(wv))
    // Stephenson 5-term identity closes at the rounding grid
    val idy = r.getDouble(2) - r.getDouble(3) + r.getDouble(4) +
      r.getDouble(5) - 2 * r.getDouble(6)
    assert(math.abs(r.getDouble(1) - idy) < 5e-6, s"identity gap: $idy")
    // constant forecasts per bin: both within-bin terms exactly 0 and
    // the classic 3-term Murphy identity holds
    val disc = Seq((0.25, 0L), (0.25, 1L), (0.75, 1L), (0.75, 1L))
      .toDF("p", "y")
    val d = Calibrate.brierDecomposition(disc, "p", "y", nBins = 2).head()
    assert(d.getDouble(5) == 0.0 && d.getDouble(6) == 0.0)
    assert(math.abs(d.getDouble(1) -
      (d.getDouble(2) - d.getDouble(3) + d.getDouble(4))) < 5e-6)
    // empty input: one row, n = 0, null terms
    val e = Calibrate.brierDecomposition(
      Seq.empty[(Double, Long)].toDF("p", "y"), "p", "y").head()
    assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(6))
  }

  test("hosmerLemeshow: hand-computed bins; degenerate bin nulls; dof needs 3 bins") {
    import graft.ops.Calibrate
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    // dyadic probs so bin sums are order-independent doubles
    // bin0 {(.25,0),(.25,1)}: o=1 e=.5 den=2*.25*.75 -> term = 2/3
    // bin1 {(.75,1),(.75,1),(.875,0)}: o=2 e=2.375
    val df = Seq((0.25, 0L), (0.25, 1L), (0.75, 1L), (0.75, 1L),
      (0.875, 0L)).toDF("p", "y")
    val r = Calibrate.hosmerLemeshow(df, "p", "y", nBins = 2).head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L)
    assert(r.get(2) == null, "dof undefined below 3 bins")
    val p1 = 2.375 / 3
    val t1 = (2 - 2.375) * (2 - 2.375) / (3 * p1 * (1 - p1))
    assert(r.getDouble(3) == r6(2.0 / 3 + t1))
    // a zero-probability bin is degenerate: statistic null, not div0
    val deg = Seq((0.0, 0L), (0.0, 0L), (0.875, 1L), (0.75, 0L))
      .toDF("p", "y")
    val d = Calibrate.hosmerLemeshow(deg, "p", "y", nBins = 2).head()
    assert(d.get(3) == null)
    // 10-bin grid on a spread fixture: dof = g - 2
    val spread = (0 to 9).flatMap(i =>
      Seq((i / 10.0 + 0.05, 0L), (i / 10.0 + 0.05, 1L)))
      .toDF("p", "y")
    val s = Calibrate.hosmerLemeshow(spread, "p", "y", nBins = 10).head()
    assert(s.getLong(1) == 10L && s.getLong(2) == 8L)
  }

  test("textrank: hub word out-ranks satellites; two-node graph splits evenly; short docs are inert") {
    import graft.ops.Text
    // star corpus: 'hub' co-occurs with every satellite, satellites only
    // with hub -> hub must take rank 1
    val star = Seq((1L, "hub red"), (2L, "hub green"), (3L, "hub blue"),
      (4L, "hub amber"))
      .toDF("doc_id", "text")
    val top = Text.textrank(star, "text", "doc_id", window = 1,
      iterations = 5, topK = 10).collect()
    assert(top.head.getString(0) == "hub" && top.head.getInt(2) == 1)
    assert(top.length == 5 && top.tail.map(_.getDouble(1)).distinct.length == 1,
      "satellites are symmetric and tie")
    // two symmetric nodes: PageRank splits 0.5/0.5 at every iteration
    val duo = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val d = Text.textrank(duo, "text", "doc_id", window = 1,
      iterations = 3, topK = 5).collect()
    assert(d.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("x", 0.5), ("y", 0.5)))
    // single-token and empty docs contribute no edges; a window longer
    // than the doc must not error (negative-slice guard)
    val shorts = Seq((1L, "solo"), (2L, ""), (3L, "p q")).toDF("doc_id", "text")
    val s = Text.textrank(shorts, "text", "doc_id", window = 5,
      iterations = 2, topK = 5).collect()
    assert(s.map(_.getString(0)).toSet == Set("p", "q"))
  }

  test("spearman: monotone 1, reversed -1, average-rank ties, constant null") {
    import graft.stats.Planners
    // nonlinear but monotone: Pearson < 1, Spearman exactly 1
    val mono = Seq((1.0, 1.0), (2.0, 8.0), (3.0, 27.0), (4.0, 1000.0))
      .toDF("a", "b")
    assert(Planners.spearman(mono, "a", "b").head().getDouble(1) == 1.0)
    val rev = Seq((1.0, 4.0), (2.0, 3.0), (3.0, 2.0), (4.0, 1.0)).toDF("a", "b")
    assert(Planners.spearman(rev, "a", "b").head().getDouble(1) == -1.0)
    // tied pairs take average ranks on both sides -> still perfect
    val ties = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0))
      .toDF("a", "b")
    val t = Planners.spearman(ties, "a", "b").head()
    assert(t.getLong(0) == 4L && t.getDouble(1) == 1.0)
    // constant column: zero rank variance -> undefined
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("a", "b")
    assert(Planners.spearman(const, "a", "b").head().isNullAt(1))
  }

  test("cramersV: perfect association 1, independence 0, degenerate null") {
    import graft.stats.Planners
    // diagonal 2x2: chi2 = n, V = 1
    val perfect = (Seq.fill(10)(("x", "u")) ++ Seq.fill(10)(("y", "v")))
      .toDF("a", "b")
    val p = Planners.cramersV(perfect, "a", "b").head()
    assert(p.getLong(0) == 20L && p.getDouble(1) == 20.0 &&
      p.getLong(2) == 1L && p.getDouble(3) == 1.0)
    // uniform product table: observed == expected everywhere -> V = 0
    val indep = (for (x <- Seq("x", "y"); u <- Seq("u", "v"); _ <- 1 to 5)
      yield (x, u)).toDF("a", "b")
    val i = Planners.cramersV(indep, "a", "b").head()
    assert(i.getDouble(1) == 0.0 && i.getDouble(3) == 0.0)
    // one-column table: nothing to associate
    val degen = Seq(("x", "u"), ("x", "v")).toDF("a", "b")
    assert(Planners.cramersV(degen, "a", "b").head().isNullAt(3))
    // chi2 must count ABSENT cells as O=0 (the zero-cell fix): the
    // diagonal table's true chi2 is n, not n/2
    val c = Planners.chi2(perfect, "a", "b").head()
    assert(c.getDouble(0) == 20.0 && c.getLong(1) == 1L)
  }

  test("mcnemar: discordant-cell chi2 with continuity correction; no-disagreement null") {
    import graft.ops.Agreement
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(10)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(15)((false, false))
    val r = Agreement.mcnemar(rows.toDF("a", "b"), "a", "b").head()
    assert(r.getLong(0) == 50L && r.getLong(1) == 20L &&
      r.getLong(2) == 10L && r.getLong(3) == 5L && r.getLong(4) == 15L)
    assert(r.getDouble(5) == 1.666667)   // (10-5)^2 / 15
    assert(r.getDouble(6) == 1.066667)   // (|10-5|-1)^2 / 15
    // perfectly concordant raters: nothing to test
    val conc = Seq((true, true), (false, false)).toDF("a", "b")
    val c = Agreement.mcnemar(conc, "a", "b").head()
    assert(c.isNullAt(5) && c.isNullAt(6))
  }

  test("dropContained: excerpt and exact-dup copies cut, containers survive") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropContained(docs, "text", "doc_id", n = 3, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    // 1 is contained in the larger 2 -> dropped; 3 == 4 -> keep min id
    assert(kept == Set(2L, 3L))
    // raising tau past the containment keeps everything except the dup
    val loose = Dedup.dropContained(docs, "text", "doc_id", n = 3, tau = 1.1)
      .collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 2L, 3L, 4L))
  }

  test("splitConformal: order-statistic radius, held-out coverage, small-n null") {
    import graft.ops.Calibrate
    // calib residuals 1..9 at alpha=0.2: k = ceil(10*0.8) = 8 -> qhat 8
    // test residuals 1, 8, 9, 10 -> covered 1 and 8 -> coverage 0.5
    val rows = (1 to 9).map(i => (0.0, i.toDouble, true)) ++
      Seq((0.0, 1.0, false), (0.0, 8.0, false),
        (0.0, 9.0, false), (0.0, 10.0, false))
    val df = rows.toDF("pred", "actual", "cal")
    val r = Calibrate.splitConformal(df, "pred", "actual", "cal", alpha = 0.2)
      .head()
    assert(r.getLong(0) == 9L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 0.8 && r.getDouble(3) == 8.0 &&
      r.getDouble(4) == 0.5)
    // 2 calibration points at alpha=0.1: k = ceil(3*0.9) = 3 > 2 -> no
    // finite radius, qhat and coverage null
    val tiny = Seq((0.0, 1.0, true), (0.0, 2.0, true), (0.0, 1.0, false))
      .toDF("pred", "actual", "cal")
    val t = Calibrate.splitConformal(tiny, "pred", "actual", "cal",
      alpha = 0.1).head()
    assert(t.isNullAt(3) && t.isNullAt(4))
  }

  test("gini: known values — uniform 0, degenerate (n-1)/n, 1..4 gives 0.25") {
    import graft.ops.Profile
    def g(xs: Seq[Long]): Option[Double] = {
      val r = Profile.gini(xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("id", "x"), "x", "id").head()
      Option(r.getAs[java.lang.Double]("gini")).map(_.toDouble)
    }
    assert(g(Seq(10L, 10L, 10L, 10L)) == Some(0.0))
    assert(g(Seq(0L, 0L, 0L, 12L)) == Some(0.75))   // (n-1)/n
    assert(g(Seq(1L, 2L, 3L, 4L)) == Some(0.25))
    assert(g(Seq(0L, 0L)) == None)                  // zero total: undefined
  }

  test("rfm: aligned quintiles give monotone codes; cents-exact monetary") {
    import graft.analyze.Customer
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user k: k events of value k, last activity k days before Feb 1
    val rows = for (k <- 1 to 5; j <- 1 to k) yield
      (k.toLong, ts(f"2024-01-${31 - k + 1}%02d 00:00:00"), k.toDouble)
    val ev = rows.toDF("user_id", "ts", "value")
    val out = Customer.rfm(ev, "user_id", "ts", "value",
        to_timestamp(lit("2024-02-01 00:00:00")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7)))).toMap
    assert(out(1L) == ((1L, 1L, 100L, 511L)))   // most recent, least active
    assert(out(3L) == ((3L, 3L, 900L, 333L)))
    assert(out(5L) == ((5L, 5L, 2500L, 155L)))  // stale but whale
  }

  test("cohortLtv: hand triangle — actives, cents, cumulative per-member LTV") {
    import graft.analyze.Customer
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 08:00:00"), 1.00),   // A week 0
      (1L, ts("2024-01-08 09:00:00"), 2.00),   // A week 1
      (2L, ts("2024-01-02 10:00:00"), 3.00)    // B week 0
    ).toDF("user_id", "ts", "value")
    val out = Customer.cohortLtv(ev, "user_id", "ts", "value")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(out(0L) == ((2L, 2L, 400L, 400L, 2.0)))
    assert(out(1L) == ((2L, 1L, 200L, 600L, 3.0)))
  }

  test("embeddingDrift: zero for identical groups, hand mmd2/cos, zero-mean null") {
    import graft.ops.Vectors
    val df = Seq(
      ("x", Seq(1.0f, 0.0f)), ("x", Seq(1.0f, 0.0f)),
      ("y", Seq(0.0f, 1.0f)),
      ("w", Seq(1.0f, 0.0f)), ("w", Seq(1.0f, 0.0f)),
      ("z", Seq(1.0f, -1.0f)), ("z", Seq(-1.0f, 1.0f))
    ).toDF("grp", "vec")
    val got = Vectors.embeddingDrift(df, "vec", "grp")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4),
          Option(r.getAs[java.lang.Double]("mean_cos"))))).toMap
    // identical distributions: mmd2 0, cosine 1
    assert(got(("w", "x")) == ((2L, 2L, 0.0, Some(1.0))))
    // means (1,0) vs (0,1): mmd2 = 2, cos = 0
    assert(got(("x", "y")) == ((2L, 1L, 2.0, Some(0.0))))
    // z's mean is the zero vector: cosine undefined (null), mmd2 = 1
    assert(got(("x", "z")) == ((2L, 2L, 1.0, None)))
    assert(got.size == 6)  // all C(4,2) pairs emitted
  }

  test("seasonalAnomalies: per-bucket z, zero-variance and thin buckets null out") {
    import graft.ops.Temporal
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // hour 1: values 1,1,1,5 -> mean 2, std 2
      (1L, ts("2024-01-01 01:00:00"), 1.0),
      (2L, ts("2024-01-02 01:10:00"), 1.0),
      (3L, ts("2024-01-03 01:20:00"), 1.0),
      (4L, ts("2024-01-04 01:30:00"), 5.0),
      // hour 2: constant -> std 0 -> null z
      (5L, ts("2024-01-01 02:00:00"), 7.0),
      (6L, ts("2024-01-02 02:00:00"), 7.0),
      // hour 3: single point -> below minBucket -> null z
      (7L, ts("2024-01-01 03:00:00"), 9.0)
    ).toDF("event_id", "ts", "value")
    val out = Temporal.seasonalAnomalies(ev, "ts", "value", threshold = 1.2,
        idCols = Seq("event_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("season"), Option(r.getAs[java.lang.Double]("z")),
          r.getAs[Boolean]("is_anomaly"))).toMap
    assert(out(4L) == (1L, Some(1.5), true))
    assert(out(1L) == (1L, Some(-0.5), false))
    assert(out(5L) == (2L, None, false))
    assert(out(7L) == (3L, None, false))
    // profile join is broadcast: no shuffle of the event rows
    val plan = Temporal.seasonalAnomalies(ev, "ts", "value")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("star connected components: equals dedupGroups on every graph shape") {
    import graft.ops.Graph
    val rnd = new scala.util.Random(7)
    val shapes = Seq(
      // two cliques + a bridge-free singleton pair + a short chain
      (1 to 4).combinations(2).map(p => (p(0).toLong, p(1).toLong)).toSeq ++
        Seq((10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L)),
      // random graph on 40 nodes
      Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2),
      // duplicate + reversed edges must not matter
      Seq((5L, 6L), (6L, 5L), (5L, 6L), (6L, 7L))
    )
    for (edges <- shapes) {
      val df = edges.toDF("doc_a", "doc_b")
      val viaProp = Dedup.dedupGroups(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = Graph.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaProp, s"star CC diverged from min-label on $edges")
    }
  }

  test("star connected components: path diameter 199 closes in <= 12 rounds") {
    import graft.ops.Graph
    // min-label propagation needs ~199 rounds here (dedupGroups' default
    // maxIter 20 would bail out unconverged); the star algorithm is
    // logarithmic in diameter — a wrong label at maxIter = 12 fails this
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val lbl = Graph.connectedComponents(chain, maxIter = 12).collect()
    assert(lbl.length == 200)
    assert(lbl.forall(_.getLong(1) == 1L),
      "star CC failed to close a 200-node path within 12 rounds")
    // type-generic ids: strings keep their native type, lexicographic min
    val s = Seq(("urn:b", "urn:c"), ("urn:a", "urn:b"), ("urn:x", "urn:y"))
      .toDF("doc_a", "doc_b")
    val got = Graph.connectedComponents(s).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("urn:a" -> "urn:a", "urn:b" -> "urn:a",
      "urn:c" -> "urn:a", "urn:x" -> "urn:x", "urn:y" -> "urn:x"))
  }

  test("groupEntropy: hand-computed entropy, majority tie-break, single-category zero") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"),
      ("b", "z"), ("b", "z"), ("b", "z")).toDF("grp", "cat")
    val out = Profile.groupEntropy(df, Seq("grp"), "cat").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4), r.getDouble(5)))
      .toMap
    // group a: uniform over 2 cats -> ln 2; majority tie (2,2) -> min cat "x"
    assert(out("a") == ((4L, 2L, math.rint(math.log(2) * 1e6) / 1e6, "x", 0.5)))
    // group b: one category -> entropy 0, share 1
    assert(out("b") == ((3L, 1L, 0.0, "z", 1.0)))
  }

  test("keywordTag: overlapping counts, phrase lengths mixed, case-insensitive, misses absent") {
    val df = Seq(
      (1L, "Spark spark runs a hash join then a hash join again"),
      (2L, "nothing relevant here"),
      (3L, "table scan")).toDF("doc_id", "text")
    val out = Text.keywordTag(df, "text", "doc_id",
        Seq("spark", "hash join", "table scan")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (1L, "spark") -> 2L, (1L, "hash join") -> 2L,
      (3L, "table scan") -> 1L))
    // dictionary normalization: messy phrase spelling still matches
    val renorm = Text.keywordTag(df, "text", "doc_id", Seq("  HASH   JOIN "))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(renorm.toSeq == Seq((1L, "hash join", 2L)))
  }

  test("keywordTagSmall: row-local form equals the join form; plan is shuffle-free") {
    val df = Seq(
      (1L, "Spark spark runs a hash join then a hash join again"),
      (2L, "nothing relevant here"),
      (3L, "table scan")).toDF("doc_id", "text")
    val dict = Seq("spark", "hash join", "table scan")
    val big = Text.keywordTag(df, "text", "doc_id", dict).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val small = Text.keywordTagSmall(df, "text", "doc_id", dict)
    assert(small.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == big)
    // literal-dictionary form must stay a pure projection (stream-legal)
    val plan = small.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"keywordTagSmall shuffled:\n$plan")
  }

  test("lshPlan: MMDS banding rule recovers known factorizations; S-curve sane") {
    val p = Dedup.lshPlan(k = 100, tau = 0.55)
    // (1/20)^(1/5) = 0.5493 is the classic 20x5 banding
    assert(p.bands == 20 && p.rowsPerBand == 5)
    assert(math.abs(p.threshold - math.pow(1.0 / 20, 1.0 / 5)) < 1e-12)
    assert(p.pCollideAtTau > 0 && p.pCollideAtTau < 1)
    // lower tau -> more bands (lower threshold); higher tau -> fewer
    assert(Dedup.lshPlan(100, 0.2).bands > p.bands)
    assert(Dedup.lshPlan(100, 0.9).bands < p.bands)
    // plan feeds minhashLshPairs directly: bands divides k
    assert(100 % Dedup.lshPlan(100, 0.55).bands == 0)
  }

  test("truncateMiddle: head+tail kept with marker, short docs pass, whitespace normalized") {
    val df = Seq(
      (1L, "a b c d e f"),       // 6 > 2+2 -> truncate
      (2L, "x y"),               // short -> unchanged
      (3L, "p  q\tr")            // short, messy whitespace -> normalized
    ).toDF("doc_id", "text")
    val out = Text.truncateMiddle(df, "text", "doc_id", 2, 2).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) == (("a b ... e f", 6L, 2L, true)))
    assert(out(2L) == (("x y", 2L, 0L, false)))
    assert(out(3L) == (("p q r", 3L, 0L, false)))
  }

  test("icpOrder: greedy chain follows similarity, permutation per bucket, deterministic") {
    // dim-3 vectors all land in signBucket 0 (size < offset+1) -> ONE
    // chain; geometry forces the walk 1 -> 2 -> 3 -> 4:
    // cos(2,3)=0.1104 > cos(2,4)=0.1098, then the strong 3->4 link 0.9939
    val e = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)),
      (4L, Seq(0f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
    val out = Vectors.icpOrder(e, "vec_id", "embedding")
      .orderBy("chain_pos").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L, 4L)) // 1..n positions
    assert(out.head.getDouble(3) == 0.0)      // chain head carries no link
    assert(out.last.getDouble(3) > 0.99)      // the 3->4 edge
    // rerun is bit-identical (content-derived head + rounded-cos ties)
    val again = Vectors.icpOrder(e, "vec_id", "embedding")
      .orderBy("chain_pos").collect().map(_.getLong(0)).toSeq
    assert(again == Seq(1L, 2L, 3L, 4L))
    // pre-assigned buckets stay independent: each bucket is its own
    // permutation with positions restarting at 1
    val b = Seq(
      (10L, 7L, Seq(1f, 0f)), (11L, 7L, Seq(0.9f, 0.1f)),
      (20L, 8L, Seq(0f, 1f))).toDF("vec_id", "cell", "embedding")
    val byB = Vectors.icpOrderInBuckets(b, "vec_id", "embedding", "cell")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
    assert(byB.toSet == Set((7L, 1L, 10L), (7L, 2L, 11L), (8L, 1L, 20L)))
    // on the real embeddings fixture the chained layout must beat the
    // id-order layout on mean adjacent cosine (the ICP objective)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(60).cache()
    val ordered = Vectors.icpOrder(emb, "vec_id", "embedding")
      .withColumnRenamed("id", "vec_id")
    val adjGain = emb.join(ordered, "vec_id" :: Nil)
    def meanAdj(df: org.apache.spark.sql.DataFrame, sortCols: Seq[org.apache.spark.sql.Column]): Double = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(sortCols: _*)
      df.withColumn("pv", lag(col("embedding"), 1).over(w))
        .filter(col("pv").isNotNull)
        .agg(avg(Vectors.cosine(col("embedding"), col("pv"))))
        .collect()(0).getDouble(0)
    }
    val chained = meanAdj(adjGain, Seq(col("chain_pos")))
    val idOrder = meanAdj(adjGain, Seq(col("vec_id")))
    assert(chained >= idOrder,
      s"greedy chain ($chained) must not lose to id order ($idOrder)")
    emb.unpersist()
  }

  test("mannKendall: closed-form S/var/z/sen on monotone, tied, and short series; window cut applies") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    val rows =
      (1 to 3).map(i => ("up", ts(i), i.toLong, i.toDouble)) ++
      (1 to 3).map(i => ("flat", ts(i), i.toLong, 5.0)) ++
      (1 to 3).map(i => ("down", ts(i), i.toLong, (4 - i).toDouble)) ++
      Seq(("one", ts(1), 1L, 7.0)) ++
      // 4 points, window 3: the leading 100.0 must fall outside
      Seq(("cut", ts(1), 1L, 100.0)) ++
        (2 to 4).map(i => ("cut", ts(i), i.toLong, i.toDouble))
    val df = rows.toDF("k", "ts", "event_id", "value")
    val out = graft.ops.Temporal.mannKendall(df, Seq("k"), "ts", "value",
        window = 3, tiebreak = Seq("event_id"))
      .collect().map(r => r.getString(0) -> r).toMap
    def d(r: org.apache.spark.sql.Row, i: Int): java.lang.Double =
      if (r.isNullAt(i)) null else r.getDouble(i)
    // strictly increasing n=3: S=3, var=3*2*11/18, z=2/sqrt(var), sen=1
    val v3 = 3.0 * 2 * 11 / 18
    val z3 = math.rint(2.0 / math.sqrt(v3) * 1e6) / 1e6
    assert(out("up").getLong(2) == 3L && d(out("up"), 3) == math.rint(v3 * 1e6) / 1e6)
    assert(d(out("up"), 4) == z3 && d(out("up"), 5) == 1.0)
    assert(out("down").getLong(2) == -3L && d(out("down"), 4) == -z3 &&
      d(out("down"), 5) == -1.0)
    // all-tied: S=0, tie term cancels var to 0, z null, sen 0
    assert(out("flat").getLong(2) == 0L && d(out("flat"), 3) == 0.0 &&
      d(out("flat"), 4) == null && d(out("flat"), 5) == 0.0)
    // single point: null statistics
    assert(out("one").getLong(1) == 1L && out("one").isNullAt(2) &&
      d(out("one"), 4) == null && d(out("one"), 5) == null)
    // window cut: last 3 points are 2,3,4 -> same closed form as "up"
    assert(out("cut").getLong(2) == 3L && d(out("cut"), 4) == z3 &&
      d(out("cut"), 5) == 1.0)
  }

  test("holtWinters: expression fold matches a direct Scala reference; season slots cycle") {
    val xs = Seq(3.0, 5.0, 2.0, 6.0, 4.0, 7.0, 1.0, 8.0)
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    val df = xs.zipWithIndex.map { case (v, i) =>
      ("k", ts(i + 1), (i + 1).toLong, v) }.toDF("k", "ts", "event_id", "value")
    val out = graft.ops.Temporal.holtWinters(df, Seq("k"), "ts", "value",
        period = 3, alpha = 0.5, gamma = 0.25, delta = 0.5, window = 8,
        tiebreak = Seq("event_id"), idCols = Seq("event_id"))
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // mirror Spark's Round EXACTLY: BigDecimal.valueOf goes through
    // Double.toString (shortest repr), then HALF_UP — dyadic params land
    // values on the 5e-7 boundary where both rint (HALF_EVEN) and the
    // exact-binary BigDecimal constructor disagree with it
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def ref(prefix: Seq[Double], m: Int) = {
      var l = prefix.head; var b = 0.0; val s = Array.fill(m)(0.0)
      for (k <- 2 to prefix.length) {
        val si = (k - 1) % m
        val lN = 0.5 * (prefix(k - 1) - s(si)) + 0.5 * (l + b)
        b = 0.25 * (lN - l) + 0.75 * b
        s(si) = 0.5 * (prefix(k - 1) - lN) + 0.5 * s(si)
        l = lN
      }
      val sn = s(prefix.length % m)
      (r6(l), r6(b), r6(sn), r6(l + b + sn))
    }
    for (i <- 1 to xs.length)
      assert(out(i.toLong) == ref(xs.take(i), 3), s"row $i")
  }

  test("probeContamination: shared n-gram counts, minShared filter, probe side distinct") {
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "x y z w v"),
      (3L, "")).toDF("doc_id", "text")
    val probes = Seq(
      (10L, "b c d q"),        // shares "b c d" with doc 1
      (11L, "a b c d"),        // shares "a b c" + "b c d" with doc 1
      (12L, "no overlap here")).toDF("probe_id", "text")
    def run(minShared: Int) =
      Dedup.probeContamination(corpus, "text", "doc_id",
        probes, "text", "probe_id", n = 3, minShared = minShared)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == Set((1L, 10L, 1L), (1L, 11L, 2L)))
    assert(run(2) == Set((1L, 11L, 2L)), "minShared filters the single hit")
    // n-grams are DISTINCT per side: a repeated n-gram in the probe must
    // not double-count
    val rep = Seq((20L, "b c d b c d")).toDF("probe_id", "text")
    val got = Dedup.probeContamination(corpus, "text", "doc_id",
      rep, "text", "probe_id", n = 3, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 20L, 1L)), s"distinct grain, got $got")
  }

  test("adamicAdar: 1/ln(deg) weighting, minCommon cut, maxDegree skips hub centers") {
    val edges = Seq(
      ("c1", "a"), ("c1", "b"), ("c1", "x"), // c1: deg 3
      ("c2", "a"), ("c2", "b")               // c2: deg 2
    ).toDF("src", "dst")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = graft.ops.Graph.adamicAdar(edges, "src", "dst",
        maxDegree = 1000, minCommon = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    // (a,b) via c1 (deg 3) + c2 (deg 2); (c1,c2) via a (deg 2) + b (deg 2)
    assert(got == Set(
      ("a", "b", 2L, r6(1 / math.log(3) + 1 / math.log(2))),
      ("c1", "c2", 2L, r6(2 / math.log(2)))), s"got $got")
    // capping c1 out as a center removes (a,b)'s second witness
    val capped = graft.ops.Graph.adamicAdar(edges, "src", "dst",
        maxDegree = 2, minCommon = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("c1", "c2")), s"capped got $capped")
  }

  test("degreeAssortativity: star is -1, regular graphs undefined, counts exact") {
    // K_{1,3}: the hub only meets leaves -> perfectly disassortative
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val s = graft.ops.Graph.degreeAssortativity(star, "src", "dst").head()
    assert(s.getLong(0) == 4L && s.getLong(1) == 3L)
    assert(s.getDouble(2) == -1.0)
    // C4 cycle: every degree 2 -> zero degree variance -> null
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val c = graft.ops.Graph.degreeAssortativity(cyc, "src", "dst").head()
    assert(c.getLong(0) == 4L && c.getLong(1) == 4L && c.get(2) == null)
    // direction/duplicates/self-loops are canonicalized away
    val messy = Seq(("a", "h"), ("h", "a"), ("h", "b"), ("h", "c"),
      ("b", "b")).toDF("src", "dst")
    assert(graft.ops.Graph.degreeAssortativity(messy, "src", "dst")
      .head().getDouble(2) == -1.0)
  }

  test("katz: hand-unrolled path walk counts; in-star hub; no outdeg splitting") {
    // a -> b -> c, 2 iterations, alpha 0.1:
    // x1 = (1, 1.1, 1.1); x2 = (1, 1.1, 1.11)
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = graft.ops.Graph.katz(path, "src", "dst", iterations = 2,
        alpha = 0.1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r == Map("a" -> 1.0, "b" -> 1.1, "c" -> 1.11))
    // three leaves pointing at a hub: the hub gets the FULL score of
    // each source (no PageRank vote-splitting): 1 + 0.1*3
    val star = Seq(("l1", "h"), ("l2", "h"), ("l3", "h"))
      .toDF("src", "dst")
    val s = graft.ops.Graph.katz(star, "src", "dst", iterations = 1,
        alpha = 0.1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(s("h") == 1.3 && s("l1") == 1.0)
    // zero iterations: everyone at beta
    val z = graft.ops.Graph.katz(path, "src", "dst", iterations = 0)
      .collect().map(_.getDouble(1)).toSet
    assert(z == Set(1.0))
  }
}
