package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics over edge-list DataFrames. Near-duplicate detection
 * already builds a document graph ([[Dedup.dedupGroups]] runs connected
 * components on it); PageRank adds the standard importance measure over
 * the same shape — e.g. ranking documents inside a near-dup cluster by
 * link centrality, or user-interaction graphs from the event log.
 *
 * Design: pure DataFrame iteration (no GraphX/RDDs). Each iteration is
 * one equi-join on the edge source + one vertex-keyed aggregate — the
 * exact shuffle pattern Pregel-style systems run, expressed declaratively
 * so AQE can handle skewed hubs. Rank mass of dangling vertices (no
 * out-edges) is dropped, matching the classic simplified formulation
 * (symmetrize the edge list if you need dangling-free semantics).
 *
 * At scale: the edge list shuffles once per iteration keyed on `src`
 * (re-used sort order would need bucketing — persist edges bucketed by
 * src for repeated runs); `checkpointEvery` truncates the growing lineage
 * so 30-iteration runs don't replan a 30-deep join tree. The whole
 * iterative family checkpoints EVERY iteration by default
 * (`checkpointEvery = 1`); pass 0 on short runs where replanning is
 * cheaper than materialization. A multi-executor cluster should point
 * these at a reliable checkpoint dir ([[connectedComponents]]' note) —
 * local checkpoints die with their executor.
 */
object Graph {

  /**
   * PageRank with a fixed iteration count: rank₀ = 1/N,
   * rankᵢ₊₁(v) = (1-d)/N + d · Σ_{u→v} rankᵢ(u)/outdeg(u).
   * Returns (v, rank) with rank rounded to 1e-6.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // edge list feeds every iteration's join (plus verts/outDeg):
    // materialize once so an expensive upstream derivation (e.g. a
    // near-dup pair generator) doesn't replay per iteration — the
    // hits convention. At iterations = 0 nothing loops, so the plan
    // stays declarative (plan-freeze specs inspect it there).
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val e = if (iterations > 0) e0.localCheckpoint() else e0
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val nDf = verts.agg(count(lit(1)).as("n"))
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))

    var ranks = verts.crossJoin(broadcast(nDf))
      .select(col("v"), (lit(1.0) / col("n")).as("rank"))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .join(outDeg, "src")
        .select(col("dst").as("v"), (col("rank") / col("odeg")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("contrib"))
      ranks = verts.join(contribs, Seq("v"), "left")
        .crossJoin(broadcast(nDf))
        .select(col("v"),
          (lit(1.0 - damping) / col("n") +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("v"), round(col("rank"), 6).as("rank"))
  }

  /**
   * Katz centrality (Katz 1953) with a fixed iteration count:
   * x⁰ = β,  xⁱ(v) = β + α·Σ_{u→v} xⁱ⁻¹(u) — credits EVERY walk into a
   * vertex, geometrically damped by length. The un-normalized sibling
   * of [[pageRank]]: no out-degree division, so a prolific source
   * passes its FULL score along every edge — the influence measure
   * when "being linked by a hub" should count fully (citation/mention
   * graphs), where PageRank's vote-splitting is the wrong model.
   * α below 1/λ_max converges; a fixed iteration count emits the
   * length-truncated walk sum either way (the [[pageRank]] contract —
   * iteration-for-iteration SQL-replayable).
   *
   * Same scale shape as [[pageRank]]: per iteration ONE equi-join of
   * the edge list to the score vector + one hash aggregate (map-side
   * combined), checkpointed per `checkpointEvery` (plan growth, not
   * recompute, is the enemy). Output: (v, katz), 6 dp, all vertices.
   */
  def katz(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, alpha: Double = 0.1, beta: Double = 1.0,
      checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(alpha > 0, "alpha must be > 0")
    // materialize the (possibly expensive) edge derivation once — the
    // hits/pageRank convention (declarative at iterations = 0)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val e = if (iterations > 0) e0.localCheckpoint() else e0
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    var x = verts.select(col("v"), lit(beta).as("score"))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(x.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v")).agg(sum(col("score")).as("contrib"))
      x = verts.join(contribs, Seq("v"), "left")
        .select(col("v"),
          (lit(beta) + lit(alpha) * coalesce(col("contrib"), lit(0.0)))
            .as("score"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        x = x.localCheckpoint()
    }
    x.select(col("v"), round(col("score"), 6).as("katz"))
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999) with a fixed iteration
   * count: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each
   * vector L2-normalized (the classic formulation, so scores are
   * comparable across graphs). Starts from hub = 1; each iteration
   * updates auth from the CURRENT hubs, then hubs from the NEW auths.
   * The link-analysis complement of [[pageRank]]: directories / query
   * hubs vs cited sources — in corpus curation, the seed-site vs
   * content-site split over a crawl's link graph.
   *
   * Normalization is scale-invariant — normalize(M·normalize(x)) =
   * normalize(M·x) — so the per-half norms are deferred: the
   * unnormalized scores flow through every half-iteration as one lazy
   * plan (per half one equi-join of the edge list to the score vector
   * plus one groupBy-sum, map-side combined; AQE handles hub skew; each
   * half consumes the previous one once, so the plan grows linearly).
   * The full-outer-joined vertex table materializes once at the end,
   * one aggregate collects both L2 norms, and the scores are divided by
   * those literals. Returns (v, hub, auth) over ALL vertices, 6-dp
   * rounded; sink-only vertices hold hub 0, source-only vertices auth 0.
   *
   * `checkpointEvery` follows the family contract ([[pageRank]]/
   * [[kCore]]/[[labelPropagation]]), counted in HALF-iterations:
   * default 1 checkpoints every half's scores, 0 never. Only there are
   * the scores renormalized (their norm is one aggregate over the
   * checkpoint). The lazy plan deepens with every unchecked half, so
   * more than 64 halves between checkpoints are refused by a named
   * `require`; pass 0 only for short runs (q_hits: 3 iterations). A norm
   * that overflowed the double range fails a named `require` instead of
   * returning NaN.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, checkpointEvery: Int = 1): DataFrame =
    hitsScores(edges, srcCol, dstCol, iterations, checkpointEvery)
      .select(col("v"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("auth"))

  /** Most half-iterations [[hits]] plans lazily between checkpoints:
    * run time grows quadratically with the depth (on a 16-edge graph, 4
    * local cores: 80 halves 27 s, 120 halves 61 s, 160 fail in stage
    * materialization, 400 overflow the stack). */
  private val MaxLazyHalves = 64

  /** [[hits]] before the 6-dp rounding. */
  private[graft] def hitsScores(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, checkpointEvery: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(checkpointEvery >= 0, "checkpointEvery must be >= 0")
    val lazyHalves =
      if (checkpointEvery == 0) 2 * iterations
      else math.min(checkpointEvery, 2 * iterations)
    require(lazyHalves <= MaxLazyHalves, s"hits: $lazyHalves half-iterations " +
      s"between checkpoints exceed $MaxLazyHalves; pass a positive checkpointEvery " +
      s"of at most $MaxLazyHalves")
    // The edge list feeds EVERY half-iteration's join — materialize it
    // once instead of re-scanning + re-distincting the source per
    // reference. (A pre-partitioned copy per join key would also elide
    // the per-iteration edge shuffle, but localCheckpoint under AQE
    // degrades outputPartitioning to Unknown, so the copies buy nothing
    // — verified by plan audit.)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()

    // Divides each score column of a MATERIALIZED frame by its L2 norm,
    // all norms collected from one aggregate and applied as literals.
    def normalized(scores: DataFrame, cs: String*): DataFrame = {
      val norms = scores.select(cs.map(c => sqrt(sum(col(c) * col(c)))): _*).head()
      scores.select(col("v") +: cs.zipWithIndex.map { case (c, i) =>
        val n = if (norms.isNullAt(i)) 0.0 else norms.getDouble(i)
        require(!n.isNaN && !n.isInfinite, s"hits: the $c scores " +
          s"overflowed (L2 norm $n); pass a positive checkpointEvery")
        (if (n > 0) col(c) / lit(n) else lit(0.0)).as(c)
      }: _*)
    }
    var half = 0
    def next(scores: DataFrame, c: String): DataFrame = {
      half += 1
      if (checkpointEvery > 0 && half % checkpointEvery == 0)
        normalized(scores.localCheckpoint(), c)
      else scores
    }

    // Iteration state is SPARSE: a vertex with no row has score 0, which
    // is exact — zero scores contribute nothing to either the edge-join
    // sums or the L2 norm — and saves a vertex-grain left join per
    // half-iteration. hub₀ = 1 on all vertices, but only src endpoints'
    // hubs are ever read, so the init is the distinct src set. The final
    // projection pads ALL vertices back in with 0.
    var hubs = e.select(col("src").as("v")).distinct()
      .select(col("v"), lit(1.0).as("hub"))
    var auths = e.limit(0).select(col("src").as("v"), lit(0.0).as("auth"))
    for (_ <- 1 to iterations) {
      auths = next(e.join(hubs.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v")).agg(sum(col("hub")).as("auth")), "auth")
      hubs = next(e.join(auths.withColumnRenamed("v", "dst"), "dst")
        .groupBy(col("src").as("v")).agg(sum(col("auth")).as("hub")), "hub")
    }
    // Vertex padding without re-deriving src∪dst from the (wide) edge
    // checkpoint: after iteration 1 the sparse states are COMPLETE on
    // their side — every src has ≥ 1 out-edge so hubs covers all
    // sources, every dst has ≥ 1 in-edge so auths covers all sinks —
    // and src∪dst = hubs.v ∪ auths.v exactly. One full-outer join of
    // two vertex-grain tables replaces union+distinct over 2 full edge
    // scans plus two left joins (identical rows; iterations >= 1 is
    // already required).
    normalized(hubs.join(auths, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth")).localCheckpoint(),
      "hub", "auth")
  }

  /**
   * Connected components by alternating LARGE-STAR / SMALL-STAR
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC 2014) — the log-round scale path for near-dup group resolution.
   *
   * [[Dedup.dedupGroups]]' min-label propagation moves the component
   * minimum ONE hop per round, so a duplication CHAIN of diameter d
   * (doc A ~ B ~ C ~ … — common in versioned/boilerplate corpora) costs
   * d shuffles; at 100 TB a thousand-deep chain is a thousand-stage job.
   * The star operations instead rewire the graph toward its component
   * minima and converge in O(log² n) rounds regardless of diameter
   * (spec: a 200-node path closes in <= 12 rounds, far under its
   * diameter 199).
   *
   * Per round: both ops are one groupBy-min on the node key plus one
   * equi-join of the edge list back to that min — the Pregel shuffle
   * pattern, declarative so AQE handles hub skew. Edges are kept
   * canonical (small endpoint first, distinct), so the state never
   * exceeds one row per surviving edge, monotonically collapsing to one
   * row per non-root node.
   *
   *  - large-star(u): m = min(Γ(u) ∪ u); emit (m, v) for v ∈ Γ(u), v > u
   *  - small-star(u): m = min{v ∈ Γ(u) : v < u}; emit (m, v) for those
   *    v ≠ m plus (m, u)
   *
   * Output: (doc_id, canonical_id) for every node of the input graph,
   * canonical = component minimum — identical contract (and results) to
   * [[Dedup.dedupGroups]], so the two are drop-in interchangeable and
   * oracle-checked against the same recursive-CTE closure
   * (`q_dedup_groups_star`).
   */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 30): DataFrame = {
    val nodes = pairs.select(col(aCol).as("doc_id"))
      .union(pairs.select(col(bCol).as("doc_id"))).distinct()
    // each round references the previous edge set several times, so the
    // lineage would double+ per round — checkpoint every round to keep
    // the plan flat (localCheckpoint here; a cluster run checkpoints to
    // reliable storage the same way pageRank's checkpointEvery does)
    var e = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    // fixpoint detection by (count, order-free hash-xor) signature: both
    // sides are DISTINCT canonical edge sets (so xor cancellation of
    // repeated rows cannot occur) and equal signatures mean equal sets
    // up to a 2^-64 hash collision — one tiny aggregate per round
    // instead of a set-difference join, and xor cannot overflow under
    // ANSI mode the way a hash SUM does
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    var eSig = sig(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every node n with its full neighborhood
      val nbrs = e.select(col("u").as("n"), col("v").as("nb"))
        .union(e.select(col("v").as("n"), col("u").as("nb")))
      val mins = nbrs.groupBy(col("n"))
        .agg(min(least(col("nb"), col("n"))).as("m"))
      val large = nbrs.join(mins, "n").filter(col("nb") > col("n"))
        .select(col("m").as("u"), col("nb").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: strictly-smaller neighborhoods of the large-star result
      val smaller = large.select(col("v").as("n"), col("u").as("nb"))
      val minsS = smaller.groupBy(col("n")).agg(min(col("nb")).as("m"))
      val withM = smaller.join(minsS, "n")
      // one explode over withM, not a self-union that would run the
      // small-star join twice per round (the symEdges finding)
      val next = withM.select(col("m").as("u"),
          explode(array(col("nb"), col("n"))).as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint()
      val nextSig = sig(next)
      e = next // the previous round's checkpoint blocks are GC-reclaimed
      converged = nextSig == eSig
      eSig = nextSig
      it += 1
    }
    // converged state is a star forest centered on component minima; the
    // groupBy-min also covers a maxIter bailout on a degenerate graph
    val lbl = e.groupBy(col("v").as("doc_id")).agg(min(col("u")).as("__lbl"))
    nodes.join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__lbl"), col("doc_id")).as("canonical_id"))
  }

  /**
   * Incremental component merge: fold a batch of NEW near-dup pairs into
   * an existing (doc_id, canonical_id) labeling without reprocessing the
   * original pair graph. A labeling IS a star edge forest (doc → root,
   * roots self-mapped), so merging reduces to connected components over
   * labels-as-edges ∪ new pairs — cost scales with |labels| + |newPairs|
   * and the log-round star convergence, NOT with the historical pair
   * count. The production shape for an append-only corpus: resolve once,
   * then merge each ingest batch's pairs. Self-mapped roots ride along
   * as self-loop rows so singleton docs stay in the output (spec:
   * merge(cc(P₁), P₂) == cc(P₁ ∪ P₂) exactly).
   */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 30): DataFrame =
    connectedComponents(
      labels.select(col("doc_id").as(aCol), col("canonical_id").as(bCol))
        .unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter)

  /**
   * Per-vertex triangle counts + local clustering coefficient over an
   * undirected graph (edges de-duped to `a < b` canon, self-loops
   * dropped) — the community-density signal next to [[pageRank]] /
   * [[connectedComponents]], and the classic join-shape benchmark.
   *
   * Scale shape: the textbook degree-ordered orientation. Each edge is
   * directed from its lower-degree endpoint (ties by vertex id), which
   * bounds every vertex's OUT-degree by O(√m) on any graph — so the
   * wedge self-join (out-neighbors × out-neighbors per source) can't
   * explode on a celebrity vertex the way a naive neighbor join does:
   * the 10⁷-degree hub receives its edges, it never fans them out. The
   * closing join is a plain equi-join of wedges against the canonical
   * edge set. Every triangle is found exactly once (its lowest-order
   * vertex emits the wedge), then credited to all three corners with
   * one explode + hash agg.
   *
   * Output: `vertex`, `degree`, `triangles`, `clustering`
   * (2·t / d(d−1), 6 dp; null for degree < 2).
   */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    // one explode, not a self-union: the canonical-edge subtree (which
    // may embed an expensive derivation — q_triangle_counts feeds
    // frequentPairs in) must execute once, and the swapped projections
    // of a union defeat exchange reuse (the symEdges finding)
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    // orient low-degree -> high-degree (ties by id: a < b already canon)
    val oriented = e
      .join(deg.select(col("v").as("a"), col("degree").as("__da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("degree").as("__db")), Seq("b"))
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("d")))
          .otherwise(struct(col("b").as("s"), col("a").as("d"))).as("__e"))
      .select(col("__e.s").as("s"), col("__e.d").as("d"))
    val wedges = oriented.alias("l")
      .join(oriented.alias("r"), col("l.s") === col("r.s") &&
        col("l.d") < col("r.d"))
      .select(col("l.s").as("w0"), col("l.d").as("w1"), col("r.d").as("w2"))
    val tris = wedges.join(e,
      col("a") === least(col("w1"), col("w2")) &&
        col("b") === greatest(col("w1"), col("w2")), "left_semi")
    val perVertex = tris
      .select(explode(array(col("w0"), col("w1"), col("w2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(perVertex, Seq("v"), "left")
      .select(col("v").as("vertex"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6)).as("clustering"))
  }

  /**
   * Degree assortativity coefficient (Newman 2002, "Assortative mixing
   * in networks") of an undirected graph: the Pearson correlation of
   * endpoint degrees over all directed edge copies — positive when
   * hubs attach to hubs (social networks), negative when hubs attach
   * to leaves (the web, biology). The one-number structural summary
   * next to [[triangleCounts]]' local density: same edge list, opposite
   * altitude. (The textbook excess-degree form subtracts 1 from each
   * endpoint degree; Pearson correlation is shift-invariant, so the
   * coefficient is identical.)
   *
   * Exactness: endpoint-degree sums (Σd, Σd², Σdᵢdⱼ) accumulate as
   * EXACT integers (decimal(38,0) / HUGEINT — degrees can square past
   * a long on a 10⁹-vertex graph); because the directed copy list is
   * symmetric, both marginals coincide and r reduces to
   * `(2m·Σdᵢdⱼ − (Σd)²) / (2m·Σd² − (Σd)²)` — one double division
   * over exact integers, no sqrt. Null when the denominator is 0
   * (regular graph: every degree equal — correlation undefined).
   *
   * Scale shape: degree table via one hash aggregate, two key-grain
   * joins to decorate edge endpoints, ONE aggregate — no window, no
   * self-join of adjacency. Output: one row
   * `(n_vertices, n_edges, assortativity)` (6 dp).
   */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // the adjacency is consumed THREE times (degree table + both
    // endpoint joins): checkpoint once so an expensive upstream edge
    // derivation doesn't replay per consumer (the hits/kcore
    // convention; a cluster run checkpoints to a reliable dir)
    val sym = symEdges(edges, srcCol, dstCol).localCheckpoint()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val dec = deg.select(col("src"), col("__d").cast("decimal(38,0)").as("__d"))
    val pairs = sym
      .join(dec.select(col("src"), col("__d").as("__dx")), Seq("src"))
      .join(dec.select(col("src").as("dst"), col("__d").as("__dy")),
        Seq("dst"))
    val a = pairs.agg(
      count(lit(1)).as("__m2"),
      sum(col("__dx")).as("__sx"),
      sum(col("__dx") * col("__dx")).as("__sxx"),
      sum(col("__dx") * col("__dy")).as("__sxy"))
      .crossJoin(deg.agg(count(lit(1)).as("n_vertices")))
    val m2 = col("__m2").cast("double")
    val sx = col("__sx").cast("double")
    val num = m2 * col("__sxy").cast("double") - sx * sx
    val den = m2 * col("__sxx").cast("double") - sx * sx
    a.select(col("n_vertices"), (col("__m2") / 2).cast("long").as("n_edges"),
      round(when(den > 0, num / den), 6).as("assortativity"))
  }

  /**
   * Adamic–Adar link prediction (Adamic & Adar 2003) over an undirected
   * graph: for every vertex pair (a, b) at distance 2 with at least
   * `minCommon` common neighbors, score(a,b) = Σ_{v ∈ N(a)∩N(b)}
   * 1/ln(deg v) — common neighbors weighted by how SELECTIVE they are
   * (two orders sharing a part bought by everyone says little; sharing
   * a rare part says a lot). The classic "customers also bought" /
   * related-document candidate generator next to [[triangleCounts]]
   * (which scores CLOSED wedges; this scores the open ones).
   *
   * Scale shape: wedge generation is a self-equi-join of each CENTER
   * vertex's adjacency rows — per-center fan-out is deg², so centers
   * above `maxDegree` are SKIPPED (the df-cap approximation family:
   * a 10⁷-degree hub would alone emit 5·10¹³ wedge rows, and its
   * 1/ln(deg) weight is the least informative in the graph — same
   * trade as [[Dedup.ngramJaccardPairs]]' maxShingleDf). Degree-1
   * centers have no pairs; degree-0 can't exist post-canon. Everything
   * else is hash aggregates on the wedge endpoints, map-side combined.
   *
   * Output: (v_a, v_b, common_neighbors, score) with v_a < v_b, score
   * 6-dp rounded, only pairs with common_neighbors >= `minCommon`
   * (>= 2 is the useful link-prediction grain — single shared neighbors
   * are mostly noise and dominate the pair count).
   */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 1000, minCommon: Int = 2): DataFrame = {
    require(maxDegree >= 2, "maxDegree must be >= 2")
    require(minCommon >= 1, "minCommon must be >= 1")
    val sym = symEdges(edges, srcCol, dstCol)
      .select(col("src").as("v"), col("dst").as("nb"))
    val deg = sym.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val ctr = sym.join(deg, Seq("v"))
      .filter(col("d") >= 2 && col("d") <= maxDegree)
    val wedges = ctr.alias("l").join(ctr.alias("r"),
        col("l.v") === col("r.v") && col("l.nb") < col("r.nb"))
      .select(col("l.nb").as("v_a"), col("r.nb").as("v_b"),
        (lit(1.0) / log(col("l.d"))).as("__w"))
    wedges.groupBy(col("v_a"), col("v_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(col("__w")), 6).as("score"))
      .filter(col("common_neighbors") >= minCommon)
  }

  /** Symmetrized, de-duped, loop-free adjacency rows `(src, dst)` of an
    * undirected edge list — the shared front door of the peel/propagate
    * family below. */
  private def symEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    // both directions via ONE explode, not a self-union: a union's two
    // branches inline the (possibly expensive — q_assortativity feeds
    // frequentPairs in here) canonical-edge subtree twice, and the
    // swapped projections defeat exchange reuse, so the derivation
    // EXECUTED twice. The explode is a narrow codegen'd Generate over a
    // single execution of the subtree; rows are identical.
    e.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
  }

  /**
   * k-core peel with a FIXED round count: repeatedly drop vertices whose
   * degree in the surviving induced subgraph is below `k`. The classic
   * crawl-graph density signal — pages outside every 2-/3-core are
   * isolated leaves and link chaff; in corpus curation the core number
   * complements [[pageRank]] (mass) and [[triangleCounts]] (closure) as
   * a cheap structural quality feature.
   *
   * Semantics are exact and engine-independent for ANY round count: both
   * this and the DuckDB oracle run the SAME `rounds` peels, so results
   * match even before fixpoint (the spec asserts the fixture converges —
   * peel rounds needed is the graph's degeneracy ordering depth, small
   * in practice; pass a generous `rounds` and the extra rounds are
   * no-op joins on a shrunken vertex set).
   *
   * Scale shape: per round, two left-semi joins of the symmetric edge
   * list against the (shrinking) survivor set plus one map-side-combined
   * degree aggregate — the Pregel shuffle pattern; no driver graph, AQE
   * handles hub skew, `checkpointEvery` truncates lineage on deep peels.
   * Output: `(v, core_degree)` for vertices surviving all rounds, with
   * their degree in the final induced subgraph.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int, checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    // materialized once: every peel round joins it twice — the
    // hits/pageRank convention
    val sym = symEdges(edges, srcCol, dstCol).localCheckpoint()
    var keep = sym.select(col("src").as("v")).distinct()
    def induced(surv: DataFrame): DataFrame = sym
      .join(surv.select(col("v").as("src")), Seq("src"), "left_semi")
      .join(surv.select(col("v").as("dst")), Seq("dst"), "left_semi")
    for (i <- 1 to rounds) {
      keep = induced(keep)
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("v"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        keep = keep.localCheckpoint()
    }
    induced(keep)
      .groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("v"), col("core_degree"))
  }

  /**
   * Synchronous label propagation (Raghavan et al. 2007) with a fixed
   * iteration count and a DETERMINISTIC tie rule: every vertex starts
   * labeled by its own id; each iteration it adopts the most frequent
   * label among its neighbors, ties broken by MINIMUM label (classic LPA
   * breaks ties randomly — that's unreplayable across engines; the min
   * rule makes the run a pure function of the graph). Isolated vertices
   * keep their label. The community-detection complement of
   * [[connectedComponents]]: components split along density boundaries,
   * which in corpus curation means topical/near-dup neighborhoods a
   * mixing policy can balance over.
   *
   * Scale shape: per iteration one equi-join of the symmetric edge list
   * to the label vector plus one (vertex, label)-grain count and one
   * min-struct argmax — all map-side combined; no driver graph.
   * Output: `(v, label)` after `iterations` synchronous updates.
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // materialized once per the hits/pageRank convention
    val sym = symEdges(edges, srcCol, dstCol).localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
    for (i <- 1 to iterations) {
      val nbr = sym
        .join(labels.select(col("v").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
      // argmax by count, min label on ties: lexicographic min over
      // (-count, label) — one aggregate, no window
      val best = nbr
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("b"))
        .select(col("src").as("v"), col("b.l").as("__next"))
      labels = labels.join(best, Seq("v"), "left")
        .select(col("v"), coalesce(col("__next"), col("label")).as("label"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        labels = labels.localCheckpoint()
    }
    labels
  }

  /**
   * Newman modularity of a vertex partition (Newman & Girvan 2004):
   * Q = Σ_c [ e_c/m − (D_c/2m)² ] over communities c, with m the
   * undirected edge count, e_c the edges internal to c and D_c the sum
   * of member degrees — the standard "is this community structure
   * better than chance" score for a [[labelPropagation]] (or any other)
   * partition; Q ≈ 0 means the partition explains nothing, dense
   * communities land 0.3–0.7.
   *
   * Exactness: Q = (4m·Σe_c − ΣD_c²) / (4m²) — numerator and
   * denominator are EXACT integer aggregates (the gini convention), so
   * the single division is the only floating-point op and engines can't
   * disagree. Unlabeled endpoints drop their edges (a partition must
   * cover the graph it scores).
   *
   * Scale shape: two broadcast-able label joins onto the canonical edge
   * list + one degree aggregate + community-grain sums. Output: one row
   * `(m_edges, n_communities, internal_edges, modularity)` (6 dp).
   */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, vCol: String = "v",
      labelCol: String = "label"): DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val lab = labels.select(col(vCol).as("__v"), col(labelCol).as("__l"))
    val labeled = e
      .join(lab.select(col("__v").as("a"), col("__l").as("la")), Seq("a"))
      .join(lab.select(col("__v").as("b"), col("__l").as("lb")), Seq("b"))
    val m = labeled.agg(count(lit(1)).as("m"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("e_in"))
    // one explode, not a self-union of the labeled-edge join (symEdges
    // finding: the union branches would execute the two label joins twice)
    val deg = labeled.select(explode(array(
        struct(col("a").as("__v"), col("la").as("__l")),
        struct(col("b").as("__v"), col("lb").as("__l")))).as("__x"))
      .select(col("__x.__v").as("__v"), col("__x.__l").as("__l"))
      .groupBy(col("__v"), col("__l")).agg(count(lit(1)).as("d"))
    // dc² terms and 4·m·e_in exceed a long beyond ~1.5e9 edges (a crawl
    // graph is bigger): aggregate and combine in decimal(38,0) — exact
    // like DuckDB's HUGEINT — and divide once in double
    val comm = deg.groupBy(col("__l")).agg(sum(col("d")).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("dc").cast("decimal(19,0)") * col("dc").cast("decimal(19,0)"))
          .as("__dc2"))
    m.crossJoin(broadcast(comm))
      .select(col("m").as("m_edges"), col("n_communities"),
        col("e_in").as("internal_edges"),
        when(col("m") > 0,
          round((lit(4L).cast("decimal(19,0)") *
            col("m").cast("decimal(19,0)") * col("e_in").cast("decimal(19,0)")
            - col("__dc2")).cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6))
          .as("modularity"))
  }

  /**
   * Personalized PageRank with a fixed iteration count: teleport mass
   * returns to a SEED set instead of uniformly —
   * rank₀(v) = 1/|S| · [v ∈ S],
   * rankᵢ₊₁(v) = (1−d)/|S| · [v ∈ S] + d · Σ_{u→v} rankᵢ(u)/outdeg(u).
   * The seed-and-expand curation primitive (Eksombatchai et al. 2018
   * use the random-walk view at Pinterest scale): start from a vetted
   * domain list and rank the rest of the crawl by proximity — the graph
   * analogue of [[Select]]'s DSIR importance weights. Dangling mass is
   * dropped, matching [[pageRank]]'s simplified formulation.
   *
   * `seeds` is a one-column DataFrame of vertex ids (it may be large —
   * a million-site allowlist — so it joins, never collects; |S| rides
   * in as a broadcast one-row aggregate). Vertices = graph ∪ seeds, so
   * seeds outside the edge list still hold their teleport share.
   * Output: `(v, rank)` rounded to 1e-6.
   */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iterations: Int,
      damping: Double = 0.85, checkpointEvery: Int = 1): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // materialize the (possibly expensive) edge derivation once — the
    // hits/pageRank convention (declarative at iterations = 0)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val e = if (iterations > 0) e0.localCheckpoint() else e0
    // seeds feed the teleport term of EVERY iteration (count + flag
    // join) — materialize once too, or each iteration re-scans the
    // seed source
    val s0 = seeds.toDF("v").distinct()
    val s = if (iterations > 0) s0.localCheckpoint() else s0
    // an empty seed set makes the teleport term 1/ns = 1/0 = null for
    // every vertex — fail fast instead of silently returning null ranks
    require(!s.isEmpty, "personalizedPageRank: seeds must be non-empty")
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).union(s.select(col("v")))
      .distinct()
    val nsDf = s.agg(count(lit(1)).as("ns"))
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val seeded0 = verts
      .join(s.withColumn("__seed", lit(true)), Seq("v"), "left")
      .select(col("v"), coalesce(col("__seed"), lit(false)).as("__seed"))
    val seeded = if (iterations > 0) seeded0.localCheckpoint() else seeded0
    def teleport(scale: Double) = when(col("__seed"),
      lit(scale) / col("ns")).otherwise(lit(0.0))

    var ranks = seeded.crossJoin(broadcast(nsDf))
      .select(col("v"), teleport(1.0).as("rank"))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .join(outDeg, "src")
        .select(col("dst").as("v"), (col("rank") / col("odeg")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("contrib"))
      ranks = seeded.join(contribs, Seq("v"), "left")
        .crossJoin(broadcast(nsDf))
        .select(col("v"),
          (teleport(1.0 - damping) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("v"), round(col("rank"), 6).as("rank"))
  }
}
