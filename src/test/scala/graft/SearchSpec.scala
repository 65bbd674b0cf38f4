package graft

import org.apache.spark.sql.functions._
import graft.ops.{Search, Temporal, Text}

/** Ranked retrieval (BM25 / TF-IDF keywords), character entropy, and the
  * bounded-window EWMA: hand-computed invariants on tiny fixtures. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple apple apple apple"),
    (4L, "durian")).toDF("doc_id", "text")

  test("postings carry tf and dl per (term, doc)") {
    val p = Search.postings(docs, "text", "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(p.contains(("apple", 1L, 3, 2L)))
    assert(p.contains(("banana", 1L, 3, 1L)))
    assert(p.contains(("cherry", 2L, 2, 1L)))
    assert(p.contains(("apple", 3L, 4, 4L)))
    assert(p.contains(("durian", 4L, 1, 1L)))
    assert(p.size == 6)
  }

  test("bm25 matches the hand-computed formula and ranks by score") {
    // N=4, avgdl=2.5; df(apple)=2 -> idf = ln(1 + 2.5/2.5) = ln 2
    def s(tf: Int, dl: Int): Double = {
      val idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
      idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5)))
    }
    val res = Search.bm25TopK(docs, "text", "doc_id", Seq(0 -> "apple"), k = 10)
      .collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._3)
    assert(res.map(_._1).toSeq == Seq(3L, 1L)) // tf=4 beats tf=2
    assert(math.abs(res(0)._2 - s(4, 4)) < 2e-6)
    assert(math.abs(res(1)._2 - s(2, 3)) < 2e-6)
  }

  test("bm25 respects k and prefers the shorter doc at equal tf") {
    val res = Search.bm25TopK(docs, "text", "doc_id", Seq(1 -> "banana"), k = 1)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // doc1 (tf=1, dl=3) vs doc2 (tf=1, dl=2): length normalization wins
    assert(res.toSeq == Seq((2L, 1)))
  }

  test("tfidf keywords rank per doc, rare terms score highest") {
    val res = Search.tfidfKeywords(docs, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val byDoc = res.groupBy(_._1)
    assert(byDoc.values.forall(_.length <= 2))
    assert(res.forall(_._4 <= 2))
    // doc1: apple tf=2 df=2 -> 2*ln2 beats banana tf=1 df=2 -> ln2
    val d1 = byDoc(1L).sortBy(_._4)
    assert(d1.map(_._2).toSeq == Seq("apple", "banana"))
    assert(math.abs(d1(0)._3 - 2 * math.log(2.0)) < 2e-6)
    // doc4: durian tf=1 df=1 -> ln 4
    assert(math.abs(byDoc(4L).head._3 - math.log(4.0)) < 2e-6)
  }

  test("charEntropy: degenerate 0, uniform log2(k), empty text dropped") {
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"), (4L, ""))
      .toDF("doc_id", "text")
    val m = Text.charEntropy(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == 0.0)
    assert(math.abs(m(2L) - 1.0) < 1e-9)
    assert(math.abs(m(3L) - 2.0) < 1e-9)
    assert(!m.contains(4L))
  }

  test("termPmi: exclusive co-occurrence scores above independent") {
    val d = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha beta"),
      (4L, "gamma delta"), (5L, "gamma beta"), (6L, "gamma delta"))
      .toDF("doc_id", "text")
    val pmi = Search.termPmi(d, "text", "doc_id", minDf = 2, topPairs = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    // alpha+beta co-occur 3/6 with df 3 and 4: ln(6*3/(3*4)) = ln(1.5)
    assert(math.abs(pmi(("alpha", "beta")) - math.log(6.0 * 3 / 12)) < 2e-6)
    // perfectly correlated pair ranks above the diluted one
    assert(pmi(("delta", "gamma")) > pmi(("alpha", "beta")))
    // delta never meets beta with both >= minDf co-occurrence: no such row
    assert(!pmi.contains(("beta", "delta")))
  }

  test("rollingMedian: odd middle, even mean-of-middle, outlier-robust") {
    val d = Seq((1L, 1L, 5.0), (1L, 2L, 1.0), (1L, 3L, 1000.0),
      (1L, 4L, 3.0), (1L, 5L, 4.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", col("event_id"))
    val m = Temporal.rollingMedian(d, Seq("user_id"), "ts", "value",
        window = 3, idCols = Seq("event_id"))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(m(1L) == 5.0)            // [5]
    assert(m(2L) == 3.0)            // [1,5] -> (1+5)/2
    assert(m(3L) == 5.0)            // [1,5,1000] -> middle, outlier ignored
    assert(m(4L) == 3.0)            // [1,3,1000]
    assert(m(5L) == 4.0)            // [3,4,1000]
  }

  test("Profile.summarize: one row per column with exact stats") {
    val d = Seq((1L, "a", Some(1.0)), (2L, "b", Some(3.0)),
      (3L, "a", None)).toDF("id", "s", "x")
    val p = graft.ops.Profile.summarize(d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p.size == 3)
    val x = p("x")
    assert(x.getLong(1) == 3 && x.getLong(2) == 1 && x.getLong(3) == 2)
    assert(x.getDouble(4) == 1.0 && x.getDouble(5) == 3.0 && x.getDouble(6) == 2.0)
    assert(x.isNullAt(7) && x.isNullAt(8))
    val s = p("s")
    assert(s.getLong(2) == 0 && s.getLong(3) == 2)
    assert(s.isNullAt(4) && s.getString(7) == "a" && s.getString(8) == "b")
  }

  test("psi: zero on identical slices, alarms on a shift") {
    val ref = (1 to 200).map(i => (i.toLong, (i % 10) * 10.0 + 1))
      .toDF("id", "v")
    val same = graft.ops.Profile.psi(ref, ref, "v", 0.0, 100.0, 10)
      .collect()
    assert(same.length == 10 && same.forall(_.getDouble(4) == 0.0))
    val shifted = ref.withColumn("v", col("v") + 50.0)
    val drift = graft.ops.Profile.psi(ref, shifted, "v", 0.0, 100.0, 10)
      .collect().map(_.getDouble(4)).sum
    assert(drift > 0.25, s"expected alarm-level PSI, got $drift")
  }

  test("skew report: uniform gini ~0, dominant key detected") {
    val uniform = (1 to 100).map(i => ((i % 10).toLong, i)).toDF("k", "x")
    val u = graft.ops.Skew.report(uniform, "k", topK = 3).head()
    assert(u.getLong(0) == 10 && u.getLong(1) == 100)
    assert(u.getDouble(2) == 0.1 && math.abs(u.getDouble(4)) < 1e-6)
    val skewed = ((1 to 91).map(_ => (1L, 0)) ++ (2 to 10).map(i => (i.toLong, 0)))
      .toDF("k", "x")
    val s = graft.ops.Skew.report(skewed, "k", topK = 3).head()
    assert(s.getDouble(2) == 0.91)     // top1_share
    assert(s.getDouble(3) == 0.93)     // top 3 = 91 + 1 + 1
    assert(s.getDouble(4) > 0.7, s"gini should approach 1, got ${s.getDouble(4)}")
  }

  test("ewma seeds at the frame head and truncates at the window") {
    val d = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 40.0))
      .toDF("user_id", "event_id", "value")
      .withColumn("ts", col("event_id"))
    def run(window: Int): Map[Long, Double] =
      Temporal.ewma(d, Seq("user_id"), "ts", "value", alpha = 0.5,
        window = window, idCols = Seq("event_id"))
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val full = run(10)
    assert(full(1L) == 10.0)
    assert(full(2L) == 15.0)   // 0.5*20 + 0.5*10
    assert(full(3L) == 27.5)   // 0.5*40 + 0.5*15
    val trunc = run(2)
    assert(trunc(3L) == 30.0)  // frame [20, 40] seeded at 20
  }

  test("rrfFuse: agreement wins, single-system docs score one term") {
    // system A ranks (d1, d2), system B ranks (d1, d3): d1 fused from both
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("qid", "did", "rk")
    val b = Seq((0L, 1L, 2L), (0L, 3L, 1L)).toDF("qid", "did", "rk")
    val res = Search.rrfFuse(Seq(a, b), "qid", "did", "rk", k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._3)
    def rr(r: Int) = 1.0 / (60 + r)
    def rnd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(res.map(_._1).toSeq == Seq(1L, 3L, 2L)) // both-systems doc first
    assert(res(0)._2 == rnd6(rr(1) + rr(2)))
    assert(res(1)._2 == rnd6(rr(1)))
    assert(res(2)._2 == rnd6(rr(2)))
  }

  test("rrfFuse: ties break by doc id and k cuts the list") {
    val a = Seq((0L, 5L, 1L), (0L, 3L, 1L), (0L, 9L, 2L)).toDF("qid", "did", "rk")
    val res = Search.rrfFuse(Seq(a), "qid", "did", "rk", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2)
    assert(res.toSeq == Seq((3L, 1L), (5L, 2L))) // equal rrf -> lower id first
  }

  test("dedupLinesInDoc keeps first occurrence, order, original text") {
    val d = Seq(
      (1L, "Alpha\nbeta\n alpha \nGamma\nbeta"),
      (2L, "one\ntwo")).toDF("doc_id", "text")
    val res = Text.dedupLinesInDoc(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // " alpha " normalizes to "alpha" -> dropped; second "beta" dropped;
    // the SURVIVING lines keep their original (untrimmed, cased) text
    assert(res(1L) == (("Alpha\nbeta\nGamma", 3L, 2L)))
    assert(res(2L) == (("one\ntwo", 2L, 0L)))
  }

  test("rm3TopK: feedback vocabulary surfaces docs sharing no query term") {
    // query "apple": feedback docs 1 & 3; the only non-query feedback
    // term is "banana" (doc 1), so RM3 must surface doc 2 ("banana
    // cherry") which shares NO literal term with the query
    val q = Seq(0 -> "apple")
    val pass1 = Search.bm25TopK(docs, "text", "doc_id", q, k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(pass1 == Set(1L, 3L), "pass-1 sanity: only apple docs match")
    val rm3 = Search.rm3TopK(docs, "text", "doc_id", q, k = 10)
      .orderBy(col("rk")).collect()
    val ranked = rm3.map(_.getLong(1)).toSeq
    assert(ranked.contains(2L), "expansion must surface the banana doc")
    assert(!ranked.contains(4L), "durian shares nothing and must not appear")
    // doc 1 matches the original term AND the expansion term, so it
    // overtakes the apple-only doc 3 — the expansion reshapes the top
    assert(ranked.head == 1L, "both-vocabulary doc must rank first")
    assert(ranked.indexOf(3L) < ranked.indexOf(2L),
      "an original-term doc still beats an expansion-only doc")
    // scores strictly ordered with rank, determinism across reruns
    assert(rm3.map(_.getDouble(2)).toSeq == rm3.map(_.getDouble(2)).sorted.reverse.toSeq)
    val again = Search.rm3TopK(docs, "text", "doc_id", q, k = 10)
      .orderBy(col("rk")).collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(again == rm3.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("SearchIndex: saved+loaded index serves BM25 and RM3 identically to the inline build") {
    import graft.ops.SearchIndex
    val dir = tempDir("graft-searchidx-").toString
    try {
      SearchIndex.fit(docs, "text", "doc_id").save(dir)
      val idx = SearchIndex.load(spark, dir)
      // stats must cover ALL docs (n_docs=4, avgdl=2.5)
      val st = idx.stats.head()
      assert(st.getLong(0) == 4L && st.getDouble(1) == 2.5)
      val q = Seq(0 -> "apple", 1 -> "banana cherry").toDF("query_id", "qtext")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows(Search.bm25TopKIdx(idx, q, k = 10)) ==
        rows(Search.bm25TopKDf(docs, "text", "doc_id", q, k = 10)))
      assert(rows(Search.rm3TopKIdx(idx, q, k = 10)) ==
        rows(Search.rm3TopK(docs, "text", "doc_id",
          Seq(0 -> "apple", 1 -> "banana cherry"), k = 10)))
    } finally {
      val d = new java.io.File(dir)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(d)
    }
  }

  test("SearchIndex.appendTo: incremental growth equals a fresh fit over the union") {
    import graft.ops.SearchIndex
    val dir = tempDir("graft-searchidx-add-").toString
    try {
      SearchIndex.fit(docs.filter(col("doc_id") <= 2), "text", "doc_id").save(dir)
      SearchIndex.appendTo(spark, dir,
        docs.filter(col("doc_id") > 2), "text", "doc_id")
      val grown = SearchIndex.load(spark, dir)
      val full = SearchIndex.fit(docs, "text", "doc_id")
      val (gs, fs) = (grown.stats.head(), full.stats.head())
      assert(gs.getLong(0) == fs.getLong(0))
      assert(math.abs(gs.getDouble(1) - fs.getDouble(1)) < 1e-12)
      def posts(i: SearchIndex) = i.postings.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      assert(posts(grown) == posts(full))
      // and retrieval over the grown index equals the one-shot build
      val q = Seq(0 -> "apple banana").toDF("query_id", "qtext")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows(Search.bm25TopKIdx(grown, q, k = 10)) ==
        rows(Search.bm25TopKDf(docs, "text", "doc_id", q, k = 10)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("rankingMetrics: hand-computed recall/MRR/nDCG; no-hit and unranked queries zero") {
    val ranked = Seq((0, 10L, 1L), (0, 11L, 2L), (0, 12L, 3L), (1, 20L, 1L))
      .toDF("query_id", "doc_id", "rk")
    val qrels = Seq((0, 11L, 1), (0, 99L, 2), (1, 50L, 1), (2, 60L, 1), (0, 13L, 0))
      .toDF("query_id", "doc_id", "rel")
    val m = Search.rankingMetrics(ranked, qrels, k = 3).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val r6 = (x: Double) => math.round(x * 1e6) / 1e6
    // query 0: relevant {11 (rel 1), 99 (rel 2)} (rel-0 row ignored); the
    // one hit is doc 11 at rank 2 -> recall 1/2, mrr 1/2;
    // dcg = 1/log2(3), idcg = 3/log2(2) + 1/log2(3)
    val dcg = 1.0 / (math.log(3.0) / math.log(2.0))
    assert(m(0) == ((2L, 0.5, 0.5, r6(dcg / (3.0 + dcg)))))
    // query 1 retrieved nothing relevant; query 2 was never ranked at all
    assert(m(1) == ((1L, 0.0, 0.0, 0.0)))
    assert(m(2) == ((1L, 0.0, 0.0, 0.0)))
  }
}
