package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Ranked full-text retrieval over the corpus: posting lists, BM25 top-k,
 * and TF-IDF keyword extraction. Rounds out the corpus-analytics family
 * (SURVEY.md §7.5) — after dedup/quality filtering, retrieval is how a
 * training-data pipeline audits coverage ("what does the corpus say about
 * X?") and mines domain-targeted subsets.
 *
 * Scale design (the classic distributed-indexing shape):
 *  - [[postings]] is ONE explode + ONE map-side-combining hash aggregate
 *    keyed on (term, doc) — the document body is read once and never
 *    shuffled; only (term, doc_id, dl, tf) rows move. The result is the
 *    inverted index as a DataFrame; persist it partitioned by term for a
 *    reusable on-disk index.
 *  - [[bm25TopK]] broadcasts the QUERY side (a query batch is tiny by
 *    definition) onto the postings, so the corpus-sized side is pruned to
 *    matched postings before any scoring work. Document frequency for the
 *    matched terms is computed from the pruned postings themselves (the
 *    prune keeps every posting of a matched term, so df is exact). Corpus
 *    N and avgdl ride in as a broadcast one-row aggregate — no driver
 *    collect in the plan.
 *  - Scores are rounded to 1e-6 BEFORE ranking and ties broken by doc id,
 *    so the top-k cut is deterministic and engine-independent (summation
 *    order across terms differs between engines at ~1e-15).
 */
object Search {

  private[ops] def toks(c: String): Column =
    array_remove(split(lower(col(c)), "\\s+"), "")

  /** (doc_id, dl, term) token rows — the narrow explode every index shape
    * aggregates from. */
  private def tokenRows(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // spread a narrower-than-the-machine corpus across the cores before
    // the regex tokenize + explode (identity at corpus scale — see
    // [[graft.core.Spread]]); the tokenize is the CPU floor of every
    // inline retrieval pass
    graft.core.Spread.toCores(df)
      .select(col(idCol).as("doc_id"), size(toks(textCol)).as("dl"),
      explode(toks(textCol)).as("term"))

  /**
   * Inverted-index posting lists: one row per (term, doc) with the term
   * frequency `tf` and the document length `dl` (token count) carried
   * alongside, so BM25's length normalization needs no second join back
   * to the corpus.
   */
  def postings(df: DataFrame, textCol: String, idCol: String): DataFrame =
    tokenRows(df, textCol, idCol)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /**
   * How the BM25/RM3 cores obtain matched postings. Two shapes:
   *  - inline (ad-hoc corpus): prune the exploded token rows by the
   *    broadcast term/doc set BEFORE any aggregation, so nothing
   *    vocabulary-sized is ever aggregated or shuffled — the only wide
   *    work is a hash-aggregate over MATCHED rows;
   *  - prebuilt ([[SearchIndex]]): prune the stored postings table; with
   *    [[SearchIndex#save]]'s term-clustered layout the scan itself
   *    prunes on the parquet footer stats.
   */
  private sealed trait PostingsSource {
    /** One-row (n_docs, avgdl) over ALL docs. */
    def stats: DataFrame
    /** (term, doc_id, dl, tf) rows for terms in `termSet` (skinny, broadcast). */
    def byTerms(termSet: DataFrame): DataFrame
    /** (term, doc_id, dl, tf) rows for docs in `docIds` (skinny, broadcast). */
    def byDocs(docIds: DataFrame): DataFrame
  }

  private final case class InlineSource(docs: DataFrame, textCol: String,
      idCol: String, share: Boolean = false) extends PostingsSource {
    // `share = true` (the multi-pass RM3 shape): regex-tokenize the corpus
    // ONCE into a cached one-row-per-doc token-array table and explode
    // from the cache — without it each byTerms/byDocs re-runs the regex
    // split, and RM3 makes three such calls. The cache is PRE-explode
    // (doc-grain, ~text-sized): caching the exploded token ROWS was
    // measured slower than re-tokenizing (block-store writes of the
    // row blowup beat two regex passes), the same finding documented at
    // [[Dedup.ngramJaccardPairs]]. Single-pass BM25 keeps share = false:
    // a cache written once and read once only adds traffic. (The 100 TB
    // repeated-workload answer remains the prebuilt SearchIndex.)
    private lazy val tokDocs = graft.core.CacheScope.autoUnpersist(
      graft.core.Spread.toCores(docs)
        .select(col(idCol).as("doc_id"), toks(textCol).as("__toks")))
    private def tok: DataFrame =
      if (share) tokDocs.select(col("doc_id"),
        size(col("__toks")).as("dl"), explode(col("__toks")).as("term"))
      else tokenRows(docs, textCol, idCol)
    def stats: DataFrame =
      if (share) tokDocs.agg(count(lit(1)).as("n_docs"),
        avg(size(col("__toks"))).as("avgdl"))
      else SearchIndex.statsOf(docs, textCol)
    def byTerms(termSet: DataFrame): DataFrame =
      tok.join(broadcast(termSet), "term")
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
    def byDocs(docIds: DataFrame): DataFrame =
      tok.join(broadcast(docIds), "doc_id")
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
  }

  private final case class IndexSource(index: SearchIndex) extends PostingsSource {
    def stats: DataFrame = index.stats
    def byTerms(termSet: DataFrame): DataFrame =
      index.postings.join(broadcast(termSet), "term")
    def byDocs(docIds: DataFrame): DataFrame =
      index.postings.join(broadcast(docIds), "doc_id")
  }

  /**
   * BM25 top-k retrieval (Robertson/Sparck Jones, the Lucene idf variant
   * `ln(1 + (N - df + 0.5)/(df + 0.5))`): for each (query_id, text) in the
   * batch, the k highest-scoring documents with dense ranks 1..k.
   *
   * Output: (query_id, doc_id, score, rk) — `score` rounded to 1e-6,
   * `rk` assigned by (score desc, doc_id asc).
   */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queryBatch: Seq[(Int, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bm25TopKDf(docs, textCol, idCol, queryBatch.toDF("query_id", "qtext"),
      k, k1, b)
  }

  /**
   * [[bm25TopK]] with the query batch as a DataFrame (query_id, qtext) —
   * the production shape: query sets come from tables (audit slices,
   * mined probes), not driver literals. Plan is identical; the batch is
   * still broadcast.
   */
  def bm25TopKDf(docs: DataFrame, textCol: String, idCol: String,
      queryDf: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Core(InlineSource(docs, textCol, idCol), queryDf, k, k1, b)

  /**
   * [[bm25TopKDf]] against a PREBUILT [[SearchIndex]] — the repeated-
   * workload shape: [[SearchIndex.fit]]+[[SearchIndex#save]] once,
   * [[SearchIndex.load]] per session, and every query batch prunes the
   * on-disk postings without re-tokenizing the corpus. Identical
   * results to the inline build (spec-pinned).
   */
  def bm25TopKIdx(index: SearchIndex, queryDf: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Core(IndexSource(index), queryDf, k, k1, b)

  private def bm25Core(src: PostingsSource, queryDf: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val stats = src.stats

    val qterms = queryDf
      .select(col("query_id"),
        explode(array_distinct(array_remove(split(lower(col("qtext")), "\\s+"), "")))
          .as("term"))
    val qset = qterms.select(col("term")).distinct()

    // Prune to query terms first; df is exact on the pruned side.
    val cand = src.byTerms(qset)
    val dfT = cand.groupBy(col("term")).agg(count(lit(1)).as("df_t"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

    val scored = cand
      .join(broadcast(qterms), "term")
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(idf * tfNorm), 6).as("score"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /**
   * Query-likelihood retrieval with Dirichlet smoothing (Ponte & Croft
   * 1998; Zhai & Lafferty 2001, "A study of smoothing methods for
   * language models applied to ad hoc information retrieval") — the
   * language-modeling ranking family next to [[bm25TopK]]'s
   * probabilistic one (the other default in Lucene/Anserini; Dirichlet
   * usually edges BM25 on verbose queries). Scored in the standard
   * rank-equivalent candidate form
   *
   *   score(q,d) = Σ_{t ∈ q∩d} c(t,q)·ln(1 + tf(t,d)·T/(μ·cf_t))
   *                + m_q·ln(μ/(dl_d + μ))
   *
   * where cf_t is the collection frequency, T the total corpus token
   * count, and m_q the query length counted over terms THE CORPUS
   * CONTAINS (an out-of-vocabulary term has p(t|C) = 0 and is dropped —
   * the standard convention; docs matching no query term are not
   * candidates, as in [[bm25TopK]]).
   *
   * Scale shape: identical to [[bm25TopK]] — the query batch broadcasts,
   * postings are pruned to query terms BEFORE any aggregation, and
   * cf_t is exact on the pruned side (the prune keeps every posting of
   * a matched term). T = n_docs·avgdl from the broadcast stats row.
   * Scores round to 1e-6 before ranking, doc-id tiebreak.
   *
   * Output: (query_id, doc_id, score, rk).
   */
  def qlTopK(docs: DataFrame, textCol: String, idCol: String,
      queryBatch: Seq[(Int, String)], k: Int, mu: Double = 2000.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    qlCore(InlineSource(docs, textCol, idCol),
      queryBatch.toDF("query_id", "qtext"), k, mu)
  }

  /** [[qlTopK]] against a PREBUILT [[SearchIndex]] — identical results
    * to the inline build (the [[bm25TopKIdx]] serving shape). */
  def qlTopKIdx(index: SearchIndex, queryDf: DataFrame, k: Int,
      mu: Double = 2000.0): DataFrame =
    qlCore(IndexSource(index), queryDf, k, mu)

  private def qlCore(src: PostingsSource, queryDf: DataFrame, k: Int,
      mu: Double): DataFrame = {
    require(k >= 1 && mu > 0, "need k >= 1, mu > 0")
    val stats = src.stats
    // QL needs query-term COUNTS (c(t,q)), not the distinct set BM25 uses
    val qtf = queryDf
      .select(col("query_id"),
        explode(array_remove(split(lower(col("qtext")), "\\s+"), ""))
          .as("term"))
      .groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("qtf"))
    val qset = qtf.select(col("term")).distinct()
    val cand = src.byTerms(qset)
    // exact collection frequency of matched terms (prune keeps all their
    // postings); an OOV query term has no postings row and drops out here
    // cf_t is term-grain (≤ query vocabulary — tiny at any corpus scale)
    // and feeds TWO consumers (m_q and the per-posting score join). Both
    // consume it through an EXPLICIT broadcast below: identical broadcast
    // subtrees share one BroadcastExchange at runtime, so the
    // matched-postings scan that builds cf_t runs once — without the
    // localCheckpoint alternative, which severs AQE's runtime statistics
    // (measured: the checkpointed variant regressed q_ql_search ~1.3 s
    // in-bench by degrading downstream join planning).
    val cfT = cand.groupBy(col("term")).agg(sum(col("tf")).as("cf_t"))
    val mq = qtf.join(broadcast(cfT), Seq("term"))
      .groupBy(col("query_id")).agg(sum(col("qtf")).as("m_q"))
    val matchTerm = col("qtf") * log(lit(1.0) +
      col("tf") * (col("n_docs") * col("avgdl")) / (lit(mu) * col("cf_t")))
    val part = cand
      .join(broadcast(qtf), "term")
      .join(broadcast(cfT), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(matchTerm).as("__s1"), max(col("dl")).as("__dl"))
    val scored = part.join(broadcast(mq), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(col("__s1") +
          col("m_q") * log(lit(mu) / (col("__dl") + lit(mu))), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /**
   * RM3 pseudo-relevance feedback (Lavrenko & Croft 2001, as popularized
   * by Anserini's default expansion): run BM25, build a relevance-model
   * term distribution from the top-`f` feedback documents, interpolate
   * it with the original query, score again —
   *
   *   w(q,t)  = Σ_{d ∈ top-f(q)} tf(t,d)/dl(d) · score(d)   (RM1 weight)
   *   query'  = λ·{original terms} + (1−λ)·{top-e new terms, w-normalized}
   *   score'  = Σ_t qw(t) · idf(t) · tfnorm(t,d)            (weighted BM25)
   *
   * the classic recall-lifting expansion: vocabulary from documents the
   * first pass already liked gets folded into the query, so relevant
   * docs that share no literal term with the query still surface.
   *
   * Determinism/oracle parity: pass-1 scores and RM1 weights are rounded
   * to 6 dp BEFORE the top-e cut (tiebreak term asc), so the selection
   * cannot flip on last-ulp float noise — `q_bm25_rm3` hash-matches the
   * full two-pass SQL replay.
   *
   * Scale shape: both passes are the [[bm25TopKDf]] candidate-pruned
   * joins (query side broadcast; inline serving prunes the token rows
   * BEFORE any aggregate, so nothing vocabulary-sized is ever built —
   * three pruned corpus passes, each aggregating only matched rows);
   * the feedback table is O(queries · f) rows and the expanded query
   * O(queries · (|q| + e)) — all broadcast-sized regardless of corpus.
   * For repeated workloads serve [[rm3TopKIdx]] from a saved
   * [[SearchIndex]] instead — zero corpus tokenization per batch.
   */
  def rm3TopK(docs: DataFrame, textCol: String, idCol: String,
      queryBatch: Seq[(Int, String)], k: Int, f: Int = 5, e: Int = 3,
      lambda: Double = 0.6, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    rm3Core(InlineSource(docs, textCol, idCol, share = true),
      queryBatch.toDF("query_id", "qtext"), k, f, e, lambda, k1, b)
  }

  /** [[rm3TopK]] against a PREBUILT [[SearchIndex]] (query batch as a
    * (query_id, qtext) DataFrame) — both BM25 passes serve from the same
    * index; nothing re-tokenizes the corpus. */
  def rm3TopKIdx(index: SearchIndex, queryDf: DataFrame, k: Int,
      f: Int = 5, e: Int = 3, lambda: Double = 0.6,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rm3Core(IndexSource(index), queryDf, k, f, e, lambda, k1, b)

  private def rm3Core(src: PostingsSource, queryDf: DataFrame, k: Int,
      f: Int, e: Int, lambda: Double, k1: Double, b: Double): DataFrame = {
    require(f >= 1 && e >= 1 && lambda > 0 && lambda < 1,
      "need f >= 1, e >= 1, 0 < lambda < 1")
    val stats = src.stats
    val qterms = queryDf.select(col("query_id"),
      explode(array_distinct(array_remove(split(lower(col("qtext")), "\\s+"), "")))
        .as("term"))
    // pass-1 results and the expanded query are O(queries·f) / O(queries·
    // (|q|+e)) rows — tiny at ANY corpus scale — but each feeds SEVERAL
    // broadcast consumers below (the feedback doc-set prune, the RM1
    // fan-out, the term-set prune, the weighted rescore), and broadcast
    // subtrees only share when their plans are identical, so an
    // un-materialized pass-1 re-runs the whole first BM25 pass once per
    // consumer (profiled: the pass-1 ranking window appeared 4× in the
    // executed plan). localCheckpoint each once: the first pass runs
    // exactly once, every consumer reads the materialized rows.
    val pass1 = bm25Core(src, queryDf, f, k1, b)
      .select(col("query_id"), col("doc_id"), col("score"))
      .localCheckpoint()
    // RM1 weights need tf over ALL terms of the feedback docs — prune by
    // DOC instead of term, then fan out per (query, doc) via the tiny
    // broadcast pass-1 table
    val fb = src.byDocs(pass1.select(col("doc_id")).distinct())
      .join(broadcast(pass1), Seq("doc_id"))
      .select(col("query_id"), col("term"),
        (col("tf").cast("double") / col("dl") * col("score")).as("__c"))
      .groupBy(col("query_id"), col("term"))
      .agg(round(sum(col("__c")), 6).as("__w"))
      .join(qterms, Seq("query_id", "term"), "left_anti")
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("__w").desc, col("term").asc)
    val wsum = Window.partitionBy(col("query_id"))
    val expW = fb.withColumn("__r", row_number().over(we)).filter(col("__r") <= e)
      .select(col("query_id"), col("term"),
        (lit(1.0 - lambda) * col("__w") / sum(col("__w")).over(wsum)).as("qw"))
    val wq = qterms.select(col("query_id"), col("term"), lit(lambda).as("qw"))
      .unionByName(expW)
      .localCheckpoint() // see pass1: consumed by two distinct broadcasts
    val cand = src.byTerms(wq.select(col("term")).distinct())
    val dfT = cand.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = cand.join(broadcast(wq), "term")
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("qw") * idf * tfNorm), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /**
   * Ranked-retrieval evaluation — Recall@k, MRR@k and nDCG@k per query
   * against graded relevance judgments (qrels): the grading half of the
   * retrieval stack, so index/threshold A/Bs run inside the engine
   * instead of exporting run files to trec_eval.
   *
   *   recall@k = |relevant ∩ top-k| / |relevant|
   *   mrr@k    = 1 / rank of the first relevant hit (0 if none in top-k)
   *   ndcg@k   = DCG@k / IDCG@k with DCG = Σ (2^rel − 1)/log2(rank + 1)
   *              and IDCG the same sum over the rel-descending ideal
   *              prefix (doc-id tiebreak — deterministic)
   *
   * Queries with no relevant docs are dropped (their metrics are
   * undefined — the trec_eval convention). Inputs are top-k lists and
   * judgment tables, both O(queries·k): every join here is
   * broadcast-sized no matter how big the corpus that produced the
   * ranking was. Output: (qId, n_rel, recall_k, mrr_k, ndcg_k), rounded
   * to 6 dp (`q_retrieval_metrics` hash-matches the SQL replay).
   */
  def rankingMetrics(ranked: DataFrame, qrels: DataFrame, k: Int,
      qId: String = "query_id", dId: String = "doc_id",
      rankCol: String = "rk", relCol: String = "rel"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val rel = qrels.filter(col(relCol) > 0)
      .select(col(qId), col(dId), col(relCol).cast("double").as("__rel"))
    val top = ranked.filter(col(rankCol) <= k)
      .select(col(qId), col(dId), col(rankCol).cast("double").as("__rk"))
    val gain = (pow(lit(2.0), col("__rel")) - lit(1.0)) /
      log(2.0, col("__rk") + lit(1.0))
    val hits = top.join(rel, Seq(qId, dId))
      .groupBy(col(qId))
      .agg(count(lit(1)).as("__h"), min(col("__rk")).as("__minrk"),
        sum(gain).as("__dcg"))
    val iw = Window.partitionBy(col(qId))
      .orderBy(col("__rel").desc, col(dId).asc)
    val ideal = rel.withColumn("__irk", row_number().over(iw).cast("double"))
      .filter(col("__irk") <= k)
      .groupBy(col(qId))
      .agg(sum((pow(lit(2.0), col("__rel")) - lit(1.0)) /
        log(2.0, col("__irk") + lit(1.0))).as("__idcg"))
    val nrel = rel.groupBy(col(qId)).agg(count(lit(1)).as("n_rel"))
    nrel.join(ideal, Seq(qId)).join(hits, Seq(qId), "left")
      .select(col(qId), col("n_rel"),
        round(coalesce(col("__h"), lit(0L)).cast("double") / col("n_rel"), 6)
          .as("recall_k"),
        round(coalesce(lit(1.0) / col("__minrk"), lit(0.0)), 6).as("mrr_k"),
        round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 6).as("ndcg_k"))
  }

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009) of N per-query rankings —
   * the standard hybrid-retrieval combiner (BM25 ⊕ dense ANN): each system
   * contributes `1 / (c + rank)` for every (query, doc) it ranked, fused
   * score = the sum, re-ranked descending with doc-id tiebreak. Rank-only
   * fusion needs no score calibration between systems, which is exactly
   * why it is the default in hybrid search stacks.
   *
   * Each input must carry (`qId`, `dId`, `rankCol`); inputs are combined
   * by FULL OUTER joins on (query, doc) and the fused score is an explicit
   * left-to-right sum of coalesced terms — never a groupBy over a union —
   * so floating-point addition order is fixed and the result is
   * engine-replayable (`q_hybrid_rrf` hash-matches). Top-k lists are tiny
   * (k rows per query per system), so at scale every join here is
   * broadcast-sized regardless of corpus size; the expensive work already
   * happened inside the per-system retrievers.
   *
   * Output: (qId, dId, rrf rounded to 1e-6, rk 1..k).
   */
  def rrfFuse(rankings: Seq[DataFrame], qId: String, dId: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(qId), col(dId),
        (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double")))
          .as(s"__rr_$i"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq(qId, dId), "full_outer"))
    val fused = rankings.indices
      .map(i => coalesce(col(s"__rr_$i"), lit(0.0)))
      .reduce(_ + _)
    val w = Window.partitionBy(col(qId))
      .orderBy(col("rrf").desc, col(dId).asc)
    joined.select(col(qId), col(dId), round(fused, 6).as("rrf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(qId), col(dId), col("rrf"), col("rk").cast("long").as("rk"))
  }

  /**
   * TF-IDF keyword extraction: the k most characteristic terms per
   * document, scored `tf * ln(N / df)` (raw counts, natural log), ranked
   * (score desc, term asc). The df join is keyed on term — vocabulary-
   * sized, orders of magnitude smaller than the corpus — and the per-doc
   * top-k compiles to a WindowGroupLimit, not a full sort of the postings.
   */
  /**
   * Pointwise mutual information over term co-occurrence (document-level
   * window): `pmi(a,b) = ln(N * df_ab / (df_a * df_b))` for term pairs
   * co-occurring in >= 1 document, both terms with document frequency
   * >= `minDf`. The corpus-association statistic behind collocation
   * mining and distributional embeddings; the top of the list is the
   * corpus's phrase book.
   *
   * Shape: distinct terms per doc (narrow), then the pair generation is a
   * self equi-join ON THE DOC ID — per-doc quadratic in its distinct
   * vocabulary terms (bounded by doc length; the `minDf` prefilter prunes
   * hapax noise before the join), never corpus-quadratic. Counts are
   * map-side-combining aggregates; the final top-`topPairs` compiles to
   * TakeOrdered, not a full sort. Ties rank (pmi desc, term_a, term_b).
   */
  def termPmi(docs: DataFrame, textCol: String, idCol: String,
      minDf: Int = 2, topPairs: Int = 100): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"),
      array_distinct(toks(textCol)).as("ts"))
    val e = t.select(col("doc_id"), explode(col("ts")).as("term"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val ca = e.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDf)
    val kept = e.join(broadcast(ca.select("term")), "term")
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.term") < col("y.term"))
      .groupBy(col("x.term").as("term_a"), col("y.term").as("term_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(ca.withColumnRenamed("term", "term_a")
        .withColumnRenamed("c", "c_a")), "term_a")
      .join(broadcast(ca.withColumnRenamed("term", "term_b")
        .withColumnRenamed("c", "c_b")), "term_b")
      .crossJoin(broadcast(stats))
      .select(col("term_a"), col("term_b"),
        round(log(col("n_docs").cast("double") * col("c_ab") /
          (col("c_a") * col("c_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a").asc, col("term_b").asc)
      .limit(topPairs)
  }

  def tfidfKeywords(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val post = postings(docs, textCol, idCol)
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val dfT = post.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    post.join(dfT, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df_t")), 6)
          .as("tfidf"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}

/**
 * Prebuilt inverted index: the [[Search.postings]] table plus the one-row
 * corpus stats (n_docs, avgdl) BM25's idf and length normalization need.
 * Stats are computed over ALL documents — including empty ones, which the
 * postings cannot see — so they must travel WITH the postings; recomputing
 * them from the index would silently shift every idf.
 *
 * The [[IvfIndex]] save/load pattern applied to retrieval: [[SearchIndex.fit]]
 * once, [[save]] to disk, [[SearchIndex.load]] in later sessions, and serve
 * [[Search.bm25TopKIdx]] / [[Search.rm3TopKIdx]] query batches without ever
 * re-tokenizing the corpus — at 100 TB the postings build IS the dominant
 * cost of retrieval, and it amortizes across every query batch that reuses
 * the saved index.
 */
final case class SearchIndex(postings: DataFrame, stats: DataFrame) {

  /**
   * Term-clustered on-disk layout: range-repartition by (term, doc_id) +
   * sort within partitions, so each parquet file covers a contiguous term
   * range and its min/max footer stats prune query-term lookups at scan
   * time. Deliberately NOT `write.partitionBy("term")` — one directory
   * per vocabulary term is a small-files catastrophe at web scale.
   */
  def save(dir: String): Unit = {
    postings.repartitionByRange(col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
    stats.coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }
}

object SearchIndex {

  /** One-row corpus stats over ALL docs (incl. empty ones): n_docs, avgdl. */
  private[ops] def statsOf(docs: DataFrame, textCol: String): DataFrame =
    graft.core.Spread.toCores(docs) // full-width regex pass (see Spread)
      .select(size(Search.toks(textCol)).as("dl0"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl0")).as("avgdl"))

  /** One pass over the corpus for the postings aggregate + one skinny
    * token-count pass for the stats row. */
  def fit(docs: DataFrame, textCol: String, idCol: String): SearchIndex =
    SearchIndex(Search.postings(docs, textCol, idCol), statsOf(docs, textCol))

  def load(spark: SparkSession, dir: String): SearchIndex =
    SearchIndex(spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/stats"))

  /**
   * Incremental index growth — the [[IvfIndex.appendTo]] pattern for
   * retrieval: tokenize ONLY the new batch, append its postings to the
   * saved layout, and merge the one-row stats exactly (counts add;
   * avgdl merges as the dl-weighted mean, so the merged stats equal a
   * fresh [[fit]] over the union bit-for-bit in count and exactly in
   * the weighted mean). Per-ingest cost is O(new batch), never the
   * historical corpus.
   *
   * Contract (same as [[IvfIndex.add]]): batch ids must be NEW — re-adding
   * an indexed doc would double its postings. Single writer: the stats
   * rewrite is not transactional against concurrent appends.
   */
  def appendTo(spark: SparkSession, dir: String, docs: DataFrame,
      textCol: String, idCol: String): Unit = {
    import spark.implicits._
    val add = fit(docs, textCol, idCol)
    add.postings.repartitionByRange(col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("append").parquet(s"$dir/postings")
    val old = spark.read.parquet(s"$dir/stats").head()
    val fresh = add.stats.head()
    val (n0, n1) = (old.getLong(0), fresh.getLong(0))
    // avg of an empty side is null; treat as contributing zero length
    val s0 = if (old.isNullAt(1)) 0.0 else old.getDouble(1) * n0
    val s1 = if (fresh.isNullAt(1)) 0.0 else fresh.getDouble(1) * n1
    val n = n0 + n1
    val avg: java.lang.Double =
      if (n == 0) null else java.lang.Double.valueOf((s0 + s1) / n)
    Seq((n, avg)).toDF("n_docs", "avgdl")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }
}
