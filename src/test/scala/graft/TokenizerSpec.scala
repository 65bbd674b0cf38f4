package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Text, Unigram, WordPiece}

/** WordPiece + Unigram-LM tokenizers: expression semantics against
  * in-test references, fit behavior, artifacts, and plan shape. The
  * oracle queries (q_text_wordpiece / q_text_unigram / q_wp_fertility /
  * q_text_chunk_wp) pin the fixed-vocab apply path against DuckDB;
  * these specs own everything corpus-dependent. */
class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic scalacheck sampling (the PropertySpec pattern). */
  private def sample[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(0x70CEL + i)))

  // --- in-test references (independent reimplementations) ---

  private def wpRef(text: String, vocab: WordPiece.Vocab): Seq[String] = {
    val set = vocab.pieces.toSet
    val maxLen = vocab.pieces.map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var pos = 0
      var bad = false
      while (pos < w.length && !bad) {
        val L = (math.min(maxLen, w.length - pos) to 1 by -1).find { l =>
          val raw = w.substring(pos, pos + l)
          set.contains(if (pos == 0) raw else "##" + raw)
        }
        L match {
          case Some(l) =>
            val raw = w.substring(pos, pos + l)
            out += (if (pos == 0) raw else "##" + raw)
            pos += l
          case None => bad = true
        }
      }
      if (bad) Seq(vocab.unk) else out.toSeq
    }
  }

  private def ulmRef(text: String, pieces: Unigram.Pieces): Seq[String] = {
    val m = pieces.entries.toMap
    val maxLen = pieces.pieces.map(_.length).max
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
      val n = w.length
      val dp = Array.fill(n + 1)(Long.MinValue)
      val bp = new Array[Int](n + 1)
      dp(0) = 0L
      for (i <- 1 to n; j <- math.max(0, i - maxLen) until i
           if dp(j) != Long.MinValue) {
        m.get(w.substring(j, i)).foreach { sc =>
          if (dp(j) + sc > dp(i)) { dp(i) = dp(j) + sc; bp(i) = j }
        }
      }
      if (dp(n) == Long.MinValue) Seq(pieces.unk)
      else {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var p = n
        while (p > 0) { out += w.substring(bp(p), p); p = bp(p) }
        out.reverse.toSeq
      }
    }
  }

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val textGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))

  test("wordpiece: expression equals the greedy reference on random text") {
    val v = WordPiece.FixedEnglishVocab
    val texts = sample(textGen, 60)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = WordPiece.tokenize(df, "text", "doc_id", v)
      .select("doc_id", "wp_tokens").as[(Long, Seq[String])]
      .collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == wpRef(t, v), s"text: $t")
    }
  }

  test("wordpiece: uncoverable word collapses to a single UNK, pieces discarded") {
    // vocab with no 'z' coverage: "az" starts matching 'a' then dies
    val v = WordPiece.Vocab(Seq("a", "b", "##a", "##b", "ab"))
    val df = Seq((1L, "ab az b zzz")).toDF("doc_id", "text")
    val got = WordPiece.tokenize(df, "text", "doc_id", v)
      .select("wp_tokens").as[Seq[String]].head()
    assert(got == Seq("ab", "[UNK]", "b", "[UNK]"))
  }

  test("wordpiece: longest match wins over more-pieces tilings") {
    val v = WordPiece.Vocab(Seq("a", "##a", "##b", "##ab", "aa", "aab"))
    val df = Seq((1L, "aab aaab")).toDF("doc_id", "text")
    val got = WordPiece.tokenize(df, "text", "doc_id", v)
      .select("wp_tokens").as[Seq[String]].head()
    // "aab" whole-word piece beats aa+##b; "aaab" = aa + ##ab (longest at each step)
    assert(got == Seq("aab", "aa", "##ab"))
  }

  test("wordpiece fit: likelihood criterion picks the exclusive pair over the raw-count pair") {
    // "xy" co-occurs 12x but x,y are everywhere (x:30, y:22); "qz" co-occurs
    // 8x and q,z occur ONLY together (8 each): score(qz)=8/64 >> score(xy)=12/660.
    // Raw-count BPE would merge (x,y) first; WordPiece must merge (q,##z).
    val docs = (Seq.fill(12)("xy") ++ Seq.fill(18)("x") ++ Seq.fill(10)("y") ++
      Seq.fill(8)("qz")).mkString(" ")
    val v = WordPiece.fit(Seq(docs).toDF("text"), "text", nMerges = 1)
    assert(v.pieces.contains("qz"))
    assert(!v.pieces.contains("xy"))
  }

  test("wordpiece fit: fitted vocab round-trips save/load and tokenizes its corpus unk-free") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val v = WordPiece.fit(docs, "text", nMerges = 30)
    val dir = tempDir("wp").toString
    WordPiece.save(v, spark, dir)
    assert(WordPiece.load(spark, dir) == v)
    val unkCount = WordPiece.tokenize(docs, "text", "doc_id", v)
      .select(explode(col("wp_tokens")).as("t"))
      .filter(col("t") === v.unk).count()
    assert(unkCount == 0L) // full alphabet coverage on the training corpus
    // merged multi-char pieces actually fire
    val multi = WordPiece.tokenize(docs, "text", "doc_id", v)
      .select(explode(col("wp_tokens")).as("t"))
      .filter(length(regexp_replace(col("t"), "^##", "")) > 1).count()
    assert(multi > 0L)
  }

  test("unigram: expression equals the Viterbi reference on random text") {
    val p = Unigram.FixedEnglishPieces
    val texts = sample(textGen, 60)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Unigram.tokenize(df, "text", "doc_id", p)
      .select("doc_id", "ulm_tokens").as[(Long, Seq[String])]
      .collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ulmRef(t, p), s"text: $t")
    }
  }

  test("unigram: segmentation concatenates back to the word; ties keep the longer last piece") {
    // equal-score tie: "ab" (-10) vs "a"+"b" (-5 + -5): smallest-j rule
    // picks the single piece "ab"
    val p = Unigram.Pieces(Seq(("a", -5000000L), ("b", -5000000L),
      ("ab", -10000000L)))
    val df = Seq((1L, "ab ba")).toDF("doc_id", "text")
    val got = Unigram.tokenize(df, "text", "doc_id", p)
      .select("ulm_tokens").as[Seq[String]].head()
    assert(got == Seq("ab", "b", "a"))
    // uncoverable word -> unk
    val df2 = Seq((1L, "abc")).toDF("doc_id", "text")
    assert(Unigram.tokenize(df2, "text", "doc_id", p)
      .select("ulm_tokens").as[Seq[String]].head() == Seq("<unk>"))
  }

  test("unigram fit: beats the char-only seed on its own corpus; round-trips; deterministic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val p = Unigram.fit(docs, "text", vocabSize = 120, iters = 3)
    val p2 = Unigram.fit(docs, "text", vocabSize = 120, iters = 3)
    assert(p == p2) // deterministic
    assert(p.size <= 120 + 26) // chars always kept on top of the budget cut
    // char-only baseline: same fit machinery, no multi-char pieces
    val charsOnly = Unigram.Pieces(p.entries.filter(_._1.length == 1))
    val nllFit = Unigram.corpusNll(docs, "text", p)
    val nllChars = Unigram.corpusNll(docs, "text", charsOnly)
    assert(nllFit < nllChars,
      s"fitted NLL $nllFit should beat char-only $nllChars")
    val dir = tempDir("ulm").toString
    Unigram.save(p, spark, dir)
    assert(Unigram.load(spark, dir) == p)
    // fitted multi-char pieces fire on the corpus
    val multi = Unigram.tokenize(docs, "text", "doc_id", p)
      .select(explode(col("ulm_tokens")).as("t"))
      .filter(length(col("t")) > 1).count()
    assert(multi > 0L)
  }

  test("supplementary-plane characters collapse the containing word to unk") {
    // an emoji (UTF-16 surrogate pair) can never match a BMP vocab piece,
    // so the word it sits in becomes unk under both tokenizers — the
    // engine-agnostic verdict the scaladoc contract pins
    val df = Seq((1L, "table 😀ok value")).toDF("doc_id", "text")
    val wp = WordPiece.tokenize(df, "text", "doc_id",
        WordPiece.FixedEnglishVocab)
      .select("wp_tokens").as[Seq[String]].head()
    assert(wp.head == "ta" && wp.contains("[UNK]") && wp.contains("val"))
    assert(wp.count(_ == "[UNK]") == 1)
    val ulm = Unigram.tokenize(df, "text", "doc_id",
        Unigram.FixedEnglishPieces)
      .select("ulm_tokens").as[Seq[String]].head()
    assert(ulm.contains("<unk>") && ulm.count(_ == "<unk>") == 1)
  }

  test("tokenize plans are shuffle-free narrow projections") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(
        WordPiece.tokenize(docs, "text", "doc_id", WordPiece.FixedEnglishVocab),
        Unigram.tokenize(docs, "text", "doc_id", Unigram.FixedEnglishPieces))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("wordpiece/unigram counts drive the pack family through tokenCount") {
    // packChunks budgeted by WordPiece token counts: every pack stays
    // within budget measured by the SAME tokenizer
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val v = WordPiece.FixedEnglishVocab
    val chunks = Text.chunk(
      WordPiece.tokenize(docs, "text", "doc_id", v),
      "wp_text", "doc_id", chunkTokens = 40, overlap = 8,
      tokensCol = Some("wp_tokens"))
    val packed = Text.packChunks(chunks, "doc_id", maxTokens = 96)
    val over = packed.filter(col("n_tokens") > 96).count()
    assert(over == 0L)
    assert(packed.count() > 0L)
  }
}
