package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec

/**
 * Plan-assertion specs: freeze the audited physical-plan shapes (SCALE.md)
 * as tests, so a Spark upgrade or an innocent-looking refactor that
 * silently adds a shuffle, drops the group-limit pushdown, or degrades a
 * broadcast join to sort-merge FAILS here instead of surfacing as a 100-TB
 * regression in production.
 *
 * The flagship claim frozen here is `q_pipeline_e2e`'s one-shuffle
 * featurization: a single entity-keyed Exchange serves
 * window -> WindowGroupLimit (latest-N pushdown) -> row_number -> pivot
 * aggregate, every profile join below it broadcasts (the encoding is a
 * lookup inside the projection, no join), and the only
 * other shuffles in the feature branch are tiny stat branches that
 * terminate in a BroadcastExchange (k-row tables — irrelevant at scale).
 *
 * AQE is disabled while BUILDING the asserted plan (AdaptiveSparkPlanExec
 * is a leaf wrapper that hides its subtree from collect); AQE only
 * re-plans at runtime from this same initial plan, so the static shape is
 * the right thing to freeze.
 */
class PlanShapeSpec extends SparkSpec {

  /** Physical plan with AQE off, original conf restored after. */
  private def plan(name: String): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  private def keyedOn(e: ShuffleExchangeExec, colName: String): Boolean =
    e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references)
        .exists(_.name == colName)
      case _ => false
    }

  /** Shuffles that feed a BroadcastExchange somewhere above them — the
    * tiny-branch shuffles (stat/encoding tables) that never carry bulk. */
  private def underBroadcast(p: SparkPlan): Set[ShuffleExchangeExec] =
    p.collect { case b: BroadcastExchangeExec => shuffles(b) }.flatten.toSet

  test("q_pipeline_e2e: ONE entity-keyed shuffle serves window->group-limit->pivot") {
    val p = plan("q_pipeline_e2e")

    // latest-N is executed as a WindowGroupLimit pushdown, not a full
    // rank-then-filter over every event
    val wgl = p.collectFirst { case w: WindowGroupLimitExec => w }
    assert(wgl.isDefined, s"no WindowGroupLimit in plan:\n$p")

    // the final label join is the ONLY sort-merge join; every other join
    // (profile, label-side customer and activity joins) broadcasts. The
    // encoding apply is no join at all: the fitted vocabulary is a hash
    // lookup inside the event-side projection, no table scan, no broadcast
    val smjs = p.collect { case j: SortMergeJoinExec => j }
    assert(smjs.length == 1, s"expected exactly 1 SortMergeJoin (the label join), got ${smjs.length}")
    val bhjs = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.length == 3, s"profile/customer/activity joins must broadcast, got:\n${bhjs.mkString("\n")}")
    assert(p.collect { case s: LocalTableScanExec => s }.isEmpty,
      "the fitted vocabulary must not be scanned or broadcast as a table")
    assert(p.collect { case pr: ProjectExec =>
      pr.projectList.exists(_.exists(_.isInstanceOf[ScalaUDF])) }.contains(true),
      "encoding must run as a lookup inside a projection")

    // features branch = left child of the label join: exactly ONE shuffle
    // that is not a broadcast-bound stat branch, and it is keyed on the
    // entity id; the pivot aggregate above the group-limit reuses that
    // same partitioning (no further exchange)
    val features = smjs.head.left
    val bulk = shuffles(features).filterNot(underBroadcast(features))
    assert(bulk.length == 1,
      s"featurization must shuffle exactly once, got ${bulk.length}:\n${bulk.mkString("\n")}")
    assert(keyedOn(bulk.head, "user_id"),
      s"the one featurization shuffle must be entity-keyed, got ${bulk.head.outputPartitioning}")
    // and that single shuffle sits BELOW the group-limit (the window
    // consumes it directly; nothing re-shuffles between window and pivot)
    assert(shuffles(wgl.get).filterNot(underBroadcast(features)).length == 1)
    // r9 fused slotting: the group-limit ALSO runs partially BELOW the
    // exchange (map-side N-per-entity pruning — the shuffle carries at
    // most N rows per entity, not the raw event stream)
    val wgls = features.collect { case w: WindowGroupLimitExec => w }
    assert(wgls.length == 2, s"expected partial+final WindowGroupLimit, got ${wgls.length}")
    assert(bulk.head.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "the map side must prune to N per entity before shuffling")
  }

  test("q_e1_pivot: pivot aggregates on the window shuffle, no extra exchange") {
    val p = plan("q_e1_pivot")
    assert(p.collect { case w: WindowGroupLimitExec => w }.length == 2,
      "latest-N before pivot must push down as partial+final WindowGroupLimit")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.length == 1 && keyedOn(bulk.head, "user_id"),
      s"pivot path must shuffle once on the entity id, got:\n${bulk.mkString("\n")}")
    assert(bulk.head.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "the map side must prune to N per entity before shuffling")
  }

  test("q_c1_rank: one sort serves both windows (ordered-first planning)") {
    val p = plan("q_c1_rank")
    val sorts = p.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.length == 1,
      s"ranks() must sort once (count window prefix-satisfied), got ${sorts.length}")
    assert(shuffles(p).length == 1 && keyedOn(shuffles(p).head, "user_id"))
  }

  test("q_text_pack / q_text_pack_xdoc: chunking never shuffles; packing shuffles once") {
    for ((name, key) <- Seq("q_text_pack" -> "__doc", "q_text_pack_xdoc" -> "bucket")) {
      val p = plan(name)
      val bulk = shuffles(p).filterNot(underBroadcast(p))
      assert(bulk.length == 1,
        s"$name must shuffle exactly once (the pack fold key), got ${bulk.length}:\n${bulk.mkString("\n")}")
      assert(keyedOn(bulk.head, key),
        s"$name's shuffle must be keyed on $key, got ${bulk.head.outputPartitioning}")
      // the chunk fan-out (split/sequence/explode/slice) runs entirely below
      // the exchange — one narrow pass over the corpus, no pre-shuffle
      assert(bulk.head.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty,
        s"$name: the chunk explode must sit below the pack shuffle (map-side)")
    }
  }

  test("q_llm_e2e: dedup exchange carries hash + scalars, never pack bodies") {
    val p = plan("q_llm_e2e")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.length == 2,
      s"composed pipeline = pack shuffle + dedup shuffle, got ${bulk.length}:\n${bulk.mkString("\n")}")
    // the dedup exchange is the one keyed on content_hash; its row must be
    // the 16-byte hash plus aggregation state — no string wide enough to be
    // pack_text (the quality scalar is computed map-side, below the shuffle)
    val dedup = bulk.find(keyedOn(_, "content_hash"))
    assert(dedup.isDefined, s"no content_hash-keyed exchange in:\n${bulk.mkString("\n")}")
    val attrs = dedup.get.output.map(_.name)
    assert(!attrs.exists(_.contains("pack_text")),
      s"dedup exchange must not carry pack bodies, got columns: $attrs")
    // map-side combine: a partial aggregate sits below the exchange
    assert(dedup.get.collect {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty, "dedup min/count must partial-aggregate before the exchange")
  }

  test("q_dedup_jaccard: df cap partial-aggregates below its exchange; over-cap list broadcasts") {
    val p = plan("q_dedup_jaccard")
    // r11 skew hardening: no `count(*) OVER (PARTITION BY shingle)` — the
    // old cap funneled a hot shingle's entire df into ONE window task
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "df cap must not be a per-shingle window")
    // the over-cap shingle list is tiny and joins as a broadcast anti-join
    val anti = p.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(anti.nonEmpty, s"over-cap list must broadcast-anti-join, plan:\n$p")
    // the df count combines map-side: a partial HashAggregate sits BELOW
    // the count's exchange, so no reduce task ever sees a hot shingle's
    // full occurrence list
    val broadcastSides = p.collect { case b: BroadcastExchangeExec => b }
    val capCount = broadcastSides.flatMap(shuffles).filter(_.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty)
    assert(capCount.nonEmpty,
      "the df groupBy-count must partial-aggregate before its exchange")
  }

  test("q_dsir_select: one corpus pass, broadcast model joins, heap top-k") {
    val p = plan("q_dsir_select")
    // both LMs' count tables join onto the single exploded bigram stream
    // as broadcasts — the corpus side never sorts or re-shuffles per model
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "model count tables must broadcast, not sort-merge")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size >= 6,
      "six count-table joins (bigram/w1/w2 x two models) expected")
    // top-k is a per-partition heap + driver merge of k rows, not a
    // global sort shuffle
    assert(p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"selection must compile to TakeOrderedAndProject, plan:\n$p")
    assert(p.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      .isEmpty, "no global sort for top-k")
    // exactly one bulk exchange touches the corpus-sized side: the per-doc
    // aggregation; every other shuffle feeds a model-table broadcast
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1,
      s"one doc-keyed exchange expected, got:\n${bulk.mkString("\n")}")
  }

  test("q_f1_encode_join: encoding apply is a broadcast join, never a shuffle of the corpus") {
    val p = plan("q_f1_encode_join")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "encoding table must broadcast onto the corpus")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "encoding apply must not sort-merge")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.isEmpty,
      s"corpus must not shuffle for an encoding apply, got:\n${bulk.mkString("\n")}")
  }

  test("q_asof_join: no join operator at all — ONE key exchange carries both sides") {
    val p = plan("q_asof_join")
    assert(p.toString.contains("Window"), "carry-forward window expected")
    assert(!p.toString.contains("Join"),
      s"as-of must not plan a join:\n$p")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1 && keyedOn(bulk.head, "_k"),
      s"expected exactly one key exchange, got:\n${bulk.mkString("\n")}")
  }

  test("q_scd2: compaction + intervals share ONE entity-keyed sort/exchange") {
    val p = plan("q_scd2")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1 && keyedOn(bulk.head, "user_id"),
      s"expected one user-keyed exchange, got:\n${bulk.mkString("\n")}")
  }

  test("q_range_join: bucketed containment is an equi-join, never nested-loop") {
    val p = plan("q_range_join")
    val s = p.toString
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$s")
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin") ||
      s.contains("ShuffledHashJoin"), "expected a hash/merge equi-join")
  }

  test("q_dedup_incremental: anti-join keys on the 16-byte hash, bodies never shuffle twice") {
    val p = plan("q_dedup_incremental")
    val s = p.toString
    assert(s.contains("LeftAnti"), "expected a left-anti join on the index")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"))
    // every bulk exchange is keyed on the content hash — nothing reshuffles
    // on document ids or raw text
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.forall(keyedOn(_, "content_hash")),
      s"all bulk exchanges must key on content_hash:\n${bulk.mkString("\n")}")
  }

  test("q_bm25_search: query side broadcasts, corpus joins never sort-merge") {
    val p = plan("q_bm25_search")
    // the query-term prune, query re-attach, and df table all broadcast
    // onto the postings; the corpus-sized side is never the build side of
    // anything and never sort-merge joined
    val bhj = p.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 3, s"expected >=3 broadcast joins, got ${bhj.size}")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "corpus-side join degraded to sort-merge")
  }

  test("q_ewma: one user-keyed exchange, no joins at all") {
    val p = plan("q_ewma")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1 && keyedOn(bulk.head, "user_id"),
      s"expected one user-keyed exchange:\n${bulk.mkString("\n")}")
    val s = p.toString
    assert(!s.contains("Join"), "ewma must be join-free")
  }

  test("q_fuzzy_pairs: length blocking keeps the join an equi-join, never nested-loop") {
    val p = plan("q_fuzzy_pairs")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "fuzzy matching must never degrade to a quadratic join operator")
    assert(s.contains("Join"), "expected the blocked equi-join to exist")
  }

  test("q_source_overlap: group-size joins broadcast; overlap join is shingle-keyed") {
    val p = plan("q_source_overlap")
    val bcasts = p.collect { case b: BroadcastHashJoinExec => b }
    assert(bcasts.size >= 2,
      s"both size joins must broadcast (G-row tables), got ${bcasts.size}")
    val smjs = p.collect { case j: SortMergeJoinExec => j }
    assert(smjs.forall(_.leftKeys.flatMap(_.references).exists(_.name == "shingle")),
      "any sort-merge join must key on the shingle, not a group")
  }

  test("q_url_blocklist: the literal-list gate is a shuffle-free, join-free projection") {
    val p = plan("q_url_blocklist")
    assert(shuffles(p).isEmpty, "blocklistFlag must not exchange")
    assert(!p.toString.contains("Join"), "blocklistFlag must be join-free")
  }

  test("icpOrder: ONE bucket-keyed exchange feeds the per-bucket greedy") {
    val p = plan("q_icp_order")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1, s"expected one exchange, got:\n${bulk.mkString("\n")}")
  }

  test("q_temperature_mix: one corpus aggregate, totals broadcast back, no second corpus pass") {
    val p = plan("q_temperature_mix")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    // corpus collapses to |sources| rows in ONE aggregate exchange; the
    // totals row rejoins via BroadcastNestedLoopJoin (1-row cross)
    assert(bulk.size <= 1, s"temperatureMix should shuffle once:\n${bulk.mkString("\n")}")
  }

  test("q_interleave_order: one source-keyed window exchange; rates broadcast") {
    val p = plan("q_interleave_order")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size <= 2, // corpus window + rates aggregate (tiny)
      s"interleaveOrder plan grew:\n${bulk.mkString("\n")}")
    assert(p.toString.contains("BroadcastHashJoin") ||
      p.toString.contains("BroadcastNestedLoopJoin"),
      "rates table must broadcast onto the corpus")
  }

  test("q_text_gopher_attrition: metric projection + one aggregate, no joins") {
    val p = plan("q_text_gopher_attrition")
    assert(!p.toString.contains("Join"), "attrition must be join-free")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size <= 1, s"attrition should be one aggregate exchange:\n$bulk")
  }

  test("curation projections (normalize/markup/url/loss-mask) are shuffle-free") {
    for (q <- Seq("q_text_normalize", "q_text_strip_markup", "q_url_canon",
        "q_chat_loss_mask")) {
      val p = plan(q)
      assert(shuffles(p).isEmpty, s"$q must be a narrow projection, found exchange")
      assert(!p.toString.contains("Join"), s"$q must be join-free")
    }
  }

  test("q_length_batches: ONE bucket-keyed exchange serves window AND batch aggregate") {
    val p = plan("q_length_batches")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1 && keyedOn(bulk.head, "bucket"),
      s"expected one bucket-keyed exchange (agg reuses the window partitioning):\n" +
        bulk.mkString("\n"))
  }

  test("epoch shuffle and SFT token spans are shuffle-free projections") {
    // the training-egress manifest and the collator spans are row-local by
    // design: a window-based position (or an explode-then-window) would
    // funnel shards/conversations through single tasks at 100 TB
    for (q <- Seq("q_epoch_shuffle", "q_sft_token_spans", "q_sft_token_spans_bpe")) {
      val p = plan(q)
      assert(shuffles(p).isEmpty, s"$q must be a narrow projection, found exchange")
      assert(!p.toString.contains("Join"), s"$q must be join-free")
    }
  }

  test("q_bpe_fertility: one source-keyed aggregate exchange, nothing else") {
    val p = plan("q_bpe_fertility")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1 && keyedOn(bulk.head, "source"),
      s"fertility must be a single map-side-combining aggregate:\n${bulk.mkString("\n")}")
    assert(!p.toString.contains("Join"), "fertility must be join-free")
  }

  test("q_contamination_frac: corpus shingles never exchange on the shingle") {
    val p = plan("q_contamination_frac")
    // the only shingle-keyed shuffle allowed is the bench-side distinct,
    // which terminates in the BroadcastExchange — the corpus side joins
    // the benchmark set by broadcast, never by a shingle-keyed exchange
    val bulkOnShingle = shuffles(p).filterNot(underBroadcast(p))
      .filter(keyedOn(_, "shingle"))
    assert(bulkOnShingle.isEmpty,
      s"corpus must not shuffle on shingle:\n${bulkOnShingle.mkString("\n")}")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the bench shingle set must broadcast")
  }

  test("q_quality_calibrate: one source-keyed exchange, no global sort") {
    val p = plan("q_quality_calibrate")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1 && keyedOn(bulk.head, "source"),
      s"calibration must shuffle once on the group key:\n${bulk.mkString("\n")}")
    assert(!p.toString.contains("rangepartitioning"),
      "percent_rank must not plan a global sort")
  }

  test("q_corpus_diff: id-keyed equi-join over hashes, never a cartesian") {
    val p = plan("q_corpus_diff")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"))
    // both sides reduce to (id, hash) projections below the join — the md5
    // appears under the join, so document bodies never cross the exchange
    val smj = p.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty && smj.forall(j =>
      j.leftKeys.flatMap(_.references).forall(_.name == "doc_id")))
  }

  test("q_curation_e2e: strip/scrub/normalize/gate fuse into one narrow stage; only the dedup exchanges on the content hash") {
    val p = plan("q_curation_e2e")
    // markup strip -> PII scrub -> NFC normalize -> quality gate are ONE
    // codegen'd projection chain (no joins between stages after the carry
    // refactor); the only HASH exchanges left are the exact-dedup group-by
    // and its join, both keyed on the 16-byte content hash — never on the
    // id. One ROUND-ROBIN exchange is permitted BELOW the chain: the
    // r16 input spread (graft.core.Spread — identity at corpus scale,
    // where the scan already has >= cores partitions; sub-scale it fans
    // the fused regex chain across the machine instead of the input's
    // row-group count).
    val (spread, bulk) = shuffles(p).filterNot(underBroadcast(p)).partition(
      _.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(spread.size <= 1,
      s"at most the one deliberate input spread:\n${spread.mkString("\n")}")
    assert(bulk.forall(keyedOn(_, "content_hash")),
      s"all bulk exchanges must key on content_hash:\n${bulk.mkString("\n")}")
    assert(bulk.size <= 3, s"dedup needs at most 3 hash exchanges, got ${bulk.size}")
    // the keep-decision join keys on the hash (at this SF the tiny group
    // table broadcasts outright; at scale it degrades to the hash-keyed
    // shuffle join asserted above — never an id-keyed body move)
    val joinKeys = p.collect {
      case j: BroadcastHashJoinExec => j.leftKeys
      case j: SortMergeJoinExec => j.leftKeys
    }
    assert(joinKeys.exists(_.flatMap(_.references).exists(_.name == "content_hash")),
      "expected the dedup join keyed on content_hash")
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("q_ann_binary_rerank: top-m shuffle carries skinny hamming rows, vectors rejoin broadcast") {
    val p = plan("q_ann_binary_rerank")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "rerank joins must broadcast (survivor set is bounded by m * |Q|)")
    // every bulk exchange is the per-query candidate window, and it moves
    // only (qid, cid, ham) — the embeddings are dropped BEFORE the top-m
    // shuffle and rejoined broadcast for the bounded survivors
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.nonEmpty && bulk.forall(e => keyedOn(e, "qid")),
      s"candidate ranking must shuffle on qid only:\n${bulk.mkString("\n")}")
    bulk.foreach { e =>
      val cols = e.output.map(_.name).toSet
      assert(!cols.exists(c => c.contains("qe") || c.contains("ce") || c.contains("embedding")),
        s"top-m exchange must not carry vectors, moved: $cols")
    }
  }

  test("q_multimodal_phash_dedup: banded candidates stay equi-join; payload bytes never shuffle") {
    val p = plan("q_multimodal_phash_dedup")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "band matching must stay an equi-join on (word_idx, word_value)")
    shuffles(p).foreach { e =>
      val cols = e.output.map(_.name).toSet
      assert(!cols.contains("payload") && !cols.contains("text"),
        s"media payloads must never shuffle, moved: $cols")
    }
  }

  test("q_bm25_rm3: both passes broadcast the query side; postings never sort-merge") {
    val p = plan("q_bm25_rm3")
    val s = p.toString
    assert(!s.contains("CartesianProduct"),
      "RM3 must stay candidate-pruned, never cartesian")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"query/feedback/weight tables must broadcast onto the postings:\n$s")
  }

  test("q_text_novelty: one shingle-keyed candidate join, no cartesian, hashes only") {
    val p = plan("q_text_novelty")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "novelty must stay a shingle equi-join")
    // the exchanges carry shingle strings / ids / counts, never text bodies
    shuffles(p).foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"document bodies must not shuffle: ${e.output.map(_.name)}")
    }
  }

  test("q_prototype_prune: ONE cluster-keyed exchange serves rank AND size; assignment is shuffle-free") {
    val p = plan("q_prototype_prune")
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.length == 1,
      s"rank + cluster_n must share one cluster-keyed exchange, got ${bulk.length}:\n$p")
    assert(keyedOn(bulk.head, "cluster"),
      s"the one exchange must key on cluster, got ${bulk.head.outputPartitioning}")
  }

  test("q_winnow_overlap: fp-keyed equi-join with broadcast hot cap, no cartesian") {
    val p = plan("q_winnow_overlap")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "winnow overlap must never go cartesian")
    // the exchanges carry (id, fp) pairs and counts, never text bodies
    shuffles(p).foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"document bodies must not shuffle: ${e.output.map(_.name)}")
    }
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the hot-fp cap must apply as a broadcast (anti) join")
    // the capped fingerprint set is CACHED, so the array-HOF winnowing
    // computes once, not once per self-join side (at spec scale the
    // small side broadcasts; at corpus scale the join shuffles on fp —
    // both shapes read the same cached (id, fp) set)
    assert(s.contains("InMemoryTableScan"),
      "the capped fingerprint set must be cached across the self-join sides")
  }

  test("q_dedup_minhash_admit: broadcast cap, equi-joins only, no cartesian") {
    val p = plan("q_dedup_minhash_admit")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "admission must stay equi-join shaped")
    // the over-cap bucket list joins as a broadcast anti-join (the skew guard)
    val anti = p.collect { case j: BroadcastHashJoinExec
        if j.joinType.toString.toLowerCase.contains("anti") => j }
    assert(anti.nonEmpty, s"expected the maxBucket broadcast anti-join in:\n$s")
  }

  test("q_content_chunks: chunking is a narrow projection — zero shuffles") {
    val p = plan("q_content_chunks")
    assert(shuffles(p).isEmpty,
      s"content-defined chunking must never shuffle text, got:\n$p")
  }

  test("q_content_chunk_dedup: only skinny hash rows shuffle; no window funnel") {
    val p = plan("q_content_chunk_dedup")
    // the canonical pick must be a partial-aggregating groupBy-min, not a
    // window over the hash partition (the hot-boilerplate funnel)
    assert(!p.toString.contains("Window"),
      s"canonical pick must map-side combine, got a Window in:\n$p")
    // no shuffle may carry the text column — only (doc, idx, len, hash)
    shuffles(p).foreach { e =>
      val cols = e.output.map(_.name.toLowerCase)
      assert(!cols.exists(_.contains("text")),
        s"a shuffle carries text columns: $cols")
    }
  }

  test("q_attribution: journey assignment has NO join operator") {
    val p = plan("q_attribution")
    val joins = p.collect {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty,
      s"attribution must be the union+carry scan, got joins in:\n$p")
  }

  test("q_domain_quality_gate: domain stats broadcast back; corpus never shuffles") {
    val p = plan("q_domain_quality_gate")
    assert(p.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined,
      s"domain stats must broadcast-join back, got:\n$p")
    assert(p.collectFirst { case j: SortMergeJoinExec => j }.isEmpty,
      "the corpus side must not sort-merge")
    // every shuffle feeds the k-row domain aggregate (under the
    // broadcast), so nothing corpus-sized crosses the wire
    val bulk = shuffles(p).toSet -- underBroadcast(p)
    assert(bulk.isEmpty, s"unexpected corpus-side shuffle:\n$bulk")
  }

  test("q_text_scrub_cards: Luhn scrub is one shuffle-free scan") {
    val p = plan("q_text_scrub_cards")
    assert(shuffles(p).isEmpty,
      s"card scrub must fuse into the scan stage, got shuffles in:\n$p")
  }

  test("q_text_repetition_gopher: the whole 21-counter gate is ONE shuffle-free scan") {
    val p = plan("q_text_repetition_gopher")
    assert(shuffles(p).isEmpty,
      s"repetition gate must be a narrow projection, got shuffles in:\n$p")
    assert(p.toString.contains("repetition_stats"),
      "the codegen'd RepetitionStats expression must carry the counters")
  }

  test("q_text_chunk_sentences: the sentence fold runs in-row — zero shuffle") {
    val p = plan("q_text_chunk_sentences")
    assert(shuffles(p).isEmpty,
      s"sentence chunking must be a narrow projection, got shuffles in:\n$p")
  }

  test("q_para_dedup: canonical pick partial-aggregates; bodies never shuffle") {
    val p = plan("q_para_dedup")
    val s = p.toString
    // hot boilerplate paragraphs must map-side combine, not window-funnel
    assert(!s.contains("Window"),
      "canonical pick must be groupBy-min (skew-immune), not a window")
    assert(s.contains("partial_min") || s.contains("partial min") ||
      s.contains("HashAggregate(keys=[para_hash"),
      s"expected a hash-keyed partial aggregate in:\n$s")
    // every shuffle carries only (doc, idx, 16-byte hash) — no text column
    shuffles(p).foreach { e =>
      assert(!e.child.output.exists(_.name == "text") &&
        !e.child.output.exists(_.name == "__para"),
        s"paragraph bodies must not shuffle, got: ${e.child.output}")
    }
  }

  test("curation gate projections are shuffle-free; privacy audits shuffle once on the class key") {
    // the scan-stage gates: zero exchanges, whole plan fuses into the read
    for (name <- Seq("q_text_fix_mojibake", "q_text_script_profile",
        "q_text_readability", "q_text_compression")) {
      val p = plan(name)
      assert(shuffles(p).isEmpty, s"$name must not shuffle:\n$p")
    }
    // k-anonymity audit: ONE exchange, keyed on the quasi-identifier, and
    // the class count partial-aggregates below it (map-side combine)
    val kp = plan("q_privacy_kanon")
    val ks = shuffles(kp).filter(_.outputPartitioning.numPartitions > 1)
    assert(ks.count(e => keyedOn(e, "c_nationkey")) == 1,
      s"expected one quasi-keyed exchange:\n$kp")
    assert(kp.toString.contains("partial_count") ||
      kp.toString.contains("partial count") ||
      kp.toString.contains("HashAggregate(keys=[c_nationkey"),
      s"class counts must map-side combine:\n$kp")
  }

  test("q_decontam: probe n-grams broadcast; the corpus never shuffles its n-grams") {
    val p = plan("q_decontam")
    // the probe side is the ONLY broadcast; the corpus streams through it
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size == 1,
      s"expected exactly one broadcast probe join:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "probe join degraded to sort-merge — corpus n-grams would shuffle")
    // the only bulk exchange is the hit-sized (doc, probe) count; its rows
    // carry no n-gram/text column
    val bulk = shuffles(p).filterNot(underBroadcast(p))
    assert(bulk.size == 1, s"expected one hit-grain exchange:\n$p")
    assert(!bulk.head.child.output.exists(a =>
      a.name == "shingle" || a.name == "text"),
      s"n-grams/text must not shuffle, got: ${bulk.head.child.output}")
  }

  test("q_adamic_adar: wedge join stays hash-keyed on the center; aggregates map-side combine") {
    val p = plan("q_adamic_adar")
    assert(p.collect { case s: SortMergeJoinExec => s }.nonEmpty ||
      p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"expected an equi-join wedge plan:\n$p")
    assert(!p.toString.contains("NestedLoop"),
      "wedge generation must never be a nested-loop join")
    // pair scoring partial-aggregates before its exchange
    assert(p.toString.contains("partial_count") ||
      p.toString.contains("partial count") ||
      p.toString.contains("Partial"),
      s"pair scores must map-side combine:\n$p")
  }

  test("q_mann_kendall / q_holt_winters: one key exchange, all pair work row-local (no joins)") {
    for (name <- Seq("q_mann_kendall", "q_holt_winters")) {
      val p = plan(name)
      assert(!p.toString.contains("Join"), s"$name must be join-free:\n$p")
      val bulk = shuffles(p).filterNot(underBroadcast(p))
      assert(bulk.nonEmpty && bulk.forall(e => keyedOn(e, "user_id")),
        s"$name: every bulk exchange must key on user_id:\n$p")
    }
  }

  test("q_page_hinkley / q_sprt / q_msprt: join-free, one key exchange (the cusum family)") {
    for ((name, key) <- Seq("q_page_hinkley" -> "user_id",
        "q_sprt" -> "event_type", "q_msprt" -> "event_type")) {
      val p = plan(name)
      assert(!p.toString.contains("Join"), s"$name must be join-free:\n$p")
      val bulk = shuffles(p).filterNot(underBroadcast(p))
      assert(bulk.nonEmpty && bulk.forall(e => keyedOn(e, key)),
        s"$name: every bulk exchange must key on $key:\n$p")
    }
  }

  test("q_cuped / q_diff_in_diff: the fit is a broadcast one-row aggregate") {
    // CUPED's theta reaches the unit rows via the sanctioned 1-row
    // broadcast cross join; nothing unit-grain shuffles twice
    val c = plan("q_cuped")
    assert(c.collect { case b: BroadcastNestedLoopJoinExec => b }.size == 1,
      s"expected the 1-row theta broadcast:\n$c")
    // DiD is a single conditional-aggregate pass: no join at all
    val d = plan("q_diff_in_diff")
    assert(!d.toString.contains("Join"), s"q_diff_in_diff must be join-free:\n$d")
  }

  test("q_item_cf: the co-occurrence self-join stays an equi-join on the user") {
    val p = plan("q_item_cf")
    assert(p.collect { case s: SortMergeJoinExec => s }.nonEmpty ||
      p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"expected an equi-join pair generator:\n$p")
    assert(!p.toString.contains("NestedLoop"),
      s"pair generation must never be a nested-loop join:\n$p")
  }

  test("q_js_divergence: no group x vocab outer join; term join stays keyed") {
    val p = plan("q_js_divergence")
    assert(!p.toString.contains("FullOuter") && !p.toString.contains("LeftOuter"),
      s"JSD must use the closed-form absent-mass correction, not an outer join:\n$p")
    assert(!p.toString.contains("NestedLoop"),
      s"the vocab join must stay an equi-join:\n$p")
  }

  test("q_winsorize: the per-group quantiles come back as a broadcast join") {
    val p = plan("q_winsorize")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size == 1,
      s"expected the group-grain quantile table broadcast back:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"the quantile join must not degrade to sort-merge:\n$p")
  }

  test("q_nearest_centroid: the labels x dim fit broadcasts; no per-pair shuffle join") {
    val p = plan("q_nearest_centroid")
    // the centroid table reaches the test vectors as the sanctioned
    // category-grain broadcast cross join
    assert(p.collect { case b: BroadcastNestedLoopJoinExec => b }.size == 1,
      s"expected the centroid-table broadcast:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"scoring must never shuffle test vectors against centroids:\n$p")
  }

  test("q_markov_backtest: the state-square model broadcasts onto the handoffs") {
    val p = plan("q_markov_backtest")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size == 1,
      s"expected the predicted-successor table broadcast:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"the model join must not sort-merge the handoff stream:\n$p")
  }

  test("q_quantile_normalize: rank runs at distinct-value grain; grid broadcasts") {
    val p = plan("q_quantile_normalize")
    // the global percentile grid reaches the rows as a broadcast (the
    // nested-loop is the 1-row cross join — the one sanctioned case)
    assert(p.collect { case b: BroadcastNestedLoopJoinExec => b }.size == 1,
      s"expected the 1-row grid broadcast:\n$p")
    // no exchange carries the raw row stream ordered by value — the only
    // window sort happens at (source, value) DISTINCT grain, below a
    // distinct aggregate
    assert(p.toString.contains("HashAggregate"),
      s"distinct-grain aggregate missing:\n$p")
  }

  test("q_quantile_normalize_approx: sketch grid keeps the exact twin's shape; audit joins stay broadcast") {
    val p = plan("q_quantile_normalize_approx")
    // the serving side's 1-row grid broadcast, plus the rank-error
    // audit's broadcasts (its 1-row grid/count rows and the two
    // grid-sized <= joins) — every nested-loop must ride a broadcast
    val bnl = p.collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnl.nonEmpty, s"expected the 1-row sketch-grid broadcast:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty &&
      !p.toString.contains("CartesianProduct"),
      s"grid/audit joins must all be broadcasts:\n$p")
    assert(p.toString.contains("HashAggregate"),
      s"distinct-grain aggregate missing:\n$p")
  }

  test("q_winsorize_approx: the sketch bounds broadcast back like the exact fit; audit pass broadcasts the bounds") {
    val p = plan("q_winsorize_approx")
    // serving join + the rank-error audit's conditional-count join:
    // both broadcast the key-grain bounds, and the 1-row audit result
    // rides a broadcast nested loop onto the output
    val bhj = p.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size == 2,
      s"expected serve + audit bounds broadcasts, got ${bhj.size}:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"the bounds joins must not degrade to sort-merge:\n$p")
  }

  test("q_item_cf_incremental: merge stays user-keyed equi-joins, never nested-loop") {
    val p = plan("q_item_cf_incremental")
    assert(!p.toString.contains("NestedLoop") &&
      !p.toString.contains("CartesianProduct"),
      s"state merge must never cross unkeyed:\n$p")
    // the dedup step is a real anti-join, not a filter re-derivation
    assert(p.toString.contains("LeftAnti"),
      s"expected the known-ratings anti-join:\n$p")
  }

  test("q_shapley_sampled: permutations broadcast onto set counts; no unkeyed shuffle pairing") {
    val p = plan("q_shapley_sampled")
    // the m-permutation literal table and the channel/touch theta joins
    // are all broadcasts; the only equi-joins are the user-keyed conv
    // join and the channel-grain assembly
    assert(p.collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty,
      s"expected the broadcast permutation table:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"set-count x perm pairing must ride a broadcast:\n$p")
  }

  test("q_replay_eval: the ctx-grain policy broadcasts onto the log scan") {
    val p = plan("q_replay_eval")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"expected the policy broadcast join:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"the policy join must never shuffle the log:\n$p")
  }

  test("q_mde: one conditional-aggregate pass, join-free") {
    val p = plan("q_mde")
    assert(!p.toString.contains("Join"), s"q_mde must be join-free:\n$p")
  }

  test("q_ipw_ate / q_dp_counts: single-aggregate shapes, join-free past the unit build") {
    // IPW is one conditional aggregate over the units table (whose only
    // joins are the fixture's own); the estimator adds NO join
    val p = plan("q_ipw_ate")
    assert(!p.toString.contains("Join"), s"q_ipw_ate must be join-free:\n$p")
    // the DP release is one hash aggregate + a narrow noise projection
    val d = plan("q_dp_counts")
    assert(!d.toString.contains("Join"), s"q_dp_counts must be join-free:\n$d")
    assert(d.toString.contains("HashAggregate"), s"group aggregate missing:\n$d")
  }

  test("q_bootstrap_ci_fast: explode -> one resample-grain aggregate, no joins before it") {
    val p = plan("q_bootstrap_ci_fast")
    // the only join is the sanctioned 1-row stats broadcast at the end
    assert(p.collect { case b: BroadcastNestedLoopJoinExec => b }.size == 1,
      s"expected exactly the final 1-row assembly broadcast:\n$p")
    assert(!p.toString.contains("SortMergeJoin"),
      s"the resample explosion must never join:\n$p")
  }

  test("q_croston: fold-in-window, the only nested-loop is the calendar-grid broadcast") {
    val p = plan("q_croston")
    assert(!p.toString.contains("CartesianProduct"),
      s"the day grid must ride a broadcast:\n$p")
    // the croston folds themselves add NO join beyond the grid assembly:
    // one window sort keyed on the entity, higher-order folds per row
    assert(p.toString.contains("Window"), s"expected the trailing window:\n$p")
  }

  /** The r11 skew-cap doctrine, frozen for the four r15-hardened sites:
    * every hot-key cap counts with a groupBy (partial agg below the
    * exchange) and removes the over-cap list via a broadcast LeftAnti —
    * never a `count(*) OVER (PARTITION BY key)` window that funnels a hot
    * key's entire occurrence list into one task. */
  private def assertAntiCapNoWindow(p: SparkPlan, what: String): Unit = {
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      s"$what cap must not be a window, plan:\n$p")
    val anti = p.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(anti.nonEmpty, s"$what over-cap list must broadcast-anti-join:\n$p")
  }

  test("q_rdd / q_eb_rate: estimator shapes stay aggregate-grain; one-row prior broadcasts, no cartesian") {
    val p1 = plan("q_rdd")
    assert(!p1.toString.contains("CartesianProduct"),
      s"rdd must be one conditional-aggregate pass:\n$p1")
    val p2 = plan("q_eb_rate")
    assert(!p2.toString.contains("CartesianProduct"),
      s"the one-row prior must ride a broadcast:\n$p2")
    assert(p2.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      s"expected the prior BroadcastExchange:\n$p2")
    // delta-method ratio test: two chained hash aggregates, JOIN-FREE
    val p3 = plan("q_ratio_delta")
    assert(p3.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"delta-method must be pure aggregation:\n$p3")
  }

  test("q_gini_spend / q_spearman: every window consumes the value-COUNT table, never unit rows") {
    // the r15 demerit class, closed: a statistic's global-order window
    // must scan the |distinct|-row value table (below it: the hash
    // aggregate producing the tie counts __c), never the input rows —
    // the mannWhitneyU convention, now frozen for the last two holdouts
    for (name <- Seq("q_gini_spend", "q_spearman")) {
      val p = plan(name)
      val wins = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(wins.nonEmpty, s"$name: expected the value-grain window:\n$p")
      wins.foreach { w =>
        assert(w.child.output.exists(_.name == "__c"),
          s"$name: window must read the value-count table " +
            s"(got ${w.child.output.map(_.name)}):\n$p")
      }
    }
  }

  test("q_text_vocab_growth: no doc-grain window; the only window runs at checkpoint grain") {
    // the checkpoint assignment is Select.ntileBuckets (range-partition
    // + per-partition offsets, no WindowExec at all); the surviving
    // window is the cumulative sum over <= nCheckpoints rows
    val p = plan("q_text_vocab_growth")
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    wins.foreach { w =>
      val ordRefs = w.orderSpec.flatMap(_.references).map(_.name)
      assert(ordRefs.forall(_ == "ck"),
        s"vocabGrowth window must order on checkpoint grain only, " +
          s"got $ordRefs:\n$p")
    }
  }

  test("textrank edge build: shuffle-free to the vocabulary grain; no positional self-join") {
    // pageRank localCheckpoints per iteration (the final q_textrank
    // plan starts from an ExistingRDD), so freeze the EDGE-BUILD plan
    // at iterations = 0: the sliced-array-zip construction must reach
    // the vertex distinct as a pure narrow projection — a positional
    // self-join (quadratic per document before its distance filter)
    // would surface as a join on the token stream
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val p = try {
      spark.conf.set(key, "false")
      graft.ops.Text.textrank(
        graft.core.Tables.load(spark, sf, "documents"), "text", "doc_id",
        window = 2, iterations = 0, topK = 20)
        .queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
    assert(!p.toString.contains("CartesianProduct"),
      s"edge build must never cartesian:\n$p")
    assert(p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.nonEmpty, s"expected the documents scan:\n$p")
    // the ONLY joins are the 1-row broadcast of the vertex count —
    // nothing joins the raw token stream
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(
      _.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"only the 1-row n broadcast may join:\n$p")
  }

  test("q_fs_score: deletion-key bucket cap is groupBy + broadcast anti-join, zero windows") {
    assertAntiCapNoWindow(plan("q_fs_score"), "fuzzyPairsDeletes maxBucket")
  }

  test("q_dedup_embed_cosine_lsh: band-bucket cap is groupBy + broadcast anti-join, zero windows") {
    assertAntiCapNoWindow(plan("q_dedup_embed_cosine_lsh"),
      "bandedBuckets maxBucket")
  }

  test("q_privacy_suppress: under-k class removal is groupBy + anti-join, zero windows") {
    // unlike the bounded over-cap lists, the under-k class list can be
    // huge (unbucketed QIs) — the join strategy is deliberately left to
    // the planner/AQE, so freeze only: no window funnel + a LeftAnti
    val p = plan("q_privacy_suppress")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      s"suppressRare must not window on the class key, plan:\n$p")
    val anti = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(anti.nonEmpty, s"under-k classes must remove via anti-join:\n$p")
  }

  test("q_item_cf: the per-user cap never windows on __u; over-cap users broadcast-anti-join") {
    val p = plan("q_item_cf")
    // cfTopK's per-ITEM rank window is aggregate-grain and stays; the
    // USER-keyed cap (the bot-user funnel) must not be a window
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.forall(w =>
      !w.partitionSpec.flatMap(_.references).exists(_.name == "__u")),
      s"cfFit cap must not window on __u, plan:\n$p")
    val anti = p.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(anti.nonEmpty, s"over-cap users must broadcast-anti-join:\n$p")
  }
}
