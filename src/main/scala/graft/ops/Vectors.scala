package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (SURVEY.md §7.5):
 * brute-force cosine top-k (exact baseline), sign-LSH bucketing (the scale
 * path), and cosine near-duplicate pairs.
 *
 * Embeddings are `array<float>`; all arithmetic is promoted to double via
 * codegen'd higher-order functions (`zip_with` + `aggregate`) — no UDFs,
 * no MLlib Vector conversion on the hot path.
 */
object Vectors {

  /** Sequential-fold dot product in double precision (HOF formulation;
    * kept as the readable reference — the hot path uses [[cosine]]). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the codegen'd [[graft.functions.VecCosine]] expression:
    * one imperative pass per pair instead of three interpreted HOF folds,
    * same left-to-right accumulation order (bit-identical to the HOF
    * version and the DuckDB oracle). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecCosine.vecCosine(a, b)

  /**
   * Exact top-k cosine neighbors of each query vector against the corpus.
   * Brute force = one join + per-query window rank; the correctness
   * baseline any ANN variant is measured against. At scale the corpus side
   * stays partitioned; only the (small) query set is broadcast.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "qid", cId: String = "cid", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(qId), col(vecCol).as("qe"))
    val c = corpus.select(col(cId), col(vecCol).as("ce"))
    val scored = broadcast(q).crossJoin(c)
      .select(col(qId), col(cId), round(cosine(col("qe"), col("ce")), 6).as("cos"))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos").desc, col(cId).asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qId), col(cId), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Fitted whitening transform: per-dimension mean and the d×d ZCA
    * matrix (row-major), applied as `W · (v − mean)`. */
  final case class Whitening(mean: Array[Double], w: Array[Array[Double]])
      extends Serializable {
    def dim: Int = mean.length
  }

  /**
   * ZCA whitening fit (the retrieval post-processing of Jung et al. /
   * "whitening-BERT" family): estimate the embedding mean and covariance,
   * and return `W = U diag(1/sqrt(λ+eps)) Uᵀ` so that `W(v − mean)` has
   * identity covariance — de-correlating the dominant directions that
   * make raw cosine saturate (anisotropy). Fit is ONE treeAggregate pass
   * accumulating (count, sum, sum of outer products) — d×d doubles per
   * partition, independent of corpus size (the fit-statistics pattern;
   * d is the embedding width, e.g. 64–1024). The d×d eigendecomposition
   * runs on the driver via Breeze (same dependency as the nn package).
   */
  def whitenFit(df: DataFrame, vecCol: String, eps: Double = 1e-5): Whitening = {
    val rows = df.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val head = rows.take(1)
    require(head.nonEmpty, "whitening needs more than one vector")
    val d = head.head.length
    val zero = (0L, new Array[Double](d), Array.ofDim[Double](d, d))
    val (n, s, ss) = rows.treeAggregate(zero)(
      seqOp = { case ((n, s, ss), v) =>
        var i = 0
        while (i < d) {
          s(i) += v(i)
          var j = 0
          while (j < d) { ss(i)(j) += v(i) * v(j); j += 1 }
          i += 1
        }
        (n + 1, s, ss)
      },
      combOp = { case ((n1, s1, ss1), (n2, s2, ss2)) =>
        var i = 0
        while (i < d) {
          s1(i) += s2(i)
          var j = 0
          while (j < d) { ss1(i)(j) += ss2(i)(j); j += 1 }
          i += 1
        }
        (n1 + n2, s1, ss1)
      })
    require(n > 1, "whitening needs more than one vector")
    val mean = s.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d) { (i, j) =>
      ss(i)(j) / n - mean(i) * mean(j)
    }
    val es = breeze.linalg.eigSym((cov + cov.t) / 2.0) // symmetrize fp noise
    val scale = es.eigenvalues.map(l => 1.0 / math.sqrt(math.max(l, 0.0) + eps))
    val w = es.eigenvectors * breeze.linalg.diag(scale) * es.eigenvectors.t
    Whitening(mean, Array.tabulate(d, d)((i, j) => w(i, j)))
  }

  /** Apply a fitted [[Whitening]]: each vector becomes `W(v − mean)`,
    * replacing `vecCol` (still array<float> — downstream ANN operators
    * consume it unchanged). One mapPartitions pass with the broadcast
    * transform (the [[graft.ml.Scorer]] pattern); no shuffle. */
  def whitenApply(df: DataFrame, vecCol: String, fit: Whitening): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val d = fit.dim
    val idx = df.schema.fieldIndex(vecCol)
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.map(f => if (f.name == vecCol)
        f.copy(dataType = ArrayType(FloatType, containsNull = false)) else f))
    val bc = df.sparkSession.sparkContext.broadcast(fit)
    df.mapPartitions { it =>
      val ft = bc.value
      it.map { row =>
        val v = row.getSeq[Float](idx)
        val centered = new Array[Double](d)
        var i = 0
        while (i < d) { centered(i) = v(i).toDouble - ft.mean(i); i += 1 }
        val out = new Array[Float](d)
        i = 0
        while (i < d) {
          var acc = 0.0
          val wi = ft.w(i)
          var j = 0
          while (j < d) { acc += wi(j) * centered(j); j += 1 }
          out(i) = acc.toFloat
          i += 1
        }
        Row.fromSeq(row.toSeq.updated(idx, out.toSeq))
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Matryoshka truncation (Kusupati et al. 2022): keep the first `dims`
   * components of the embedding. MRL-trained models front-load
   * information so prefixes remain usable embeddings — serving at d/2 or
   * d/4 quarters the ANN memory/compute; the recall report's trunc
   * variants measure what that costs on YOUR vectors (cosine
   * re-normalizes, so no explicit rescale is needed). A narrow
   * projection; at 100 TB the cut happens at the scan and the shuffled
   * bytes shrink proportionally.
   */
  def truncateDims(df: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    df.withColumn(vecCol, slice(col(vecCol), 1, dims))
  }

  /**
   * Matryoshka truncation SERVED as unit vectors: [[truncateDims]] plus
   * the explicit L2 re-normalization a dot-product index (PQ, SQ8, the
   * packed layout) needs when it cannot rely on cosine's implicit
   * rescale, and the `norm_kept` diagnostic = ‖prefix‖/‖full‖ — how much
   * of each vector's energy the first `dims` components carry (MRL-
   * trained models front-load it; if the corpus median is low, the cut
   * is eating signal and the recall report will say so).
   *
   * Output: UNPIVOTED (id, dim_idx, val, norm_kept) rows — dim-grain so
   * the result is engine-comparable value by value. Zero-norm prefixes
   * emit val 0 and norm_kept 0. Scale shape: a narrow projection +
   * posexplode; the fold for the two norms is a sequential array
   * `aggregate` (deterministic order), nothing shuffles.
   */
  def matryoshkaNormalize(df: DataFrame, idCol: String, vecCol: String,
      dims: Int): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val full = transform(col(vecCol), x => x.cast("double"))
    val pre = slice(full, 1, dims)
    def l2(a: Column): Column =
      sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    df.select(col(idCol), pre.as("__p"),
        l2(pre).as("__nt"), l2(full).as("__nf"))
      .select(col(idCol), col("__nt"), col("__nf"),
        posexplode(col("__p")).as(Seq("dim_idx", "__x")))
      .select(col(idCol), col("dim_idx").cast("long").as("dim_idx"),
        round(when(col("__nt") > 0, col("__x") / col("__nt"))
          .otherwise(lit(0.0)), 6).as("val"),
        round(when(col("__nf") > 0, col("__nt") / col("__nf"))
          .otherwise(lit(0.0)), 6).as("norm_kept"))
  }

  /**
   * Nearest-centroid (Rocchio) classification over an embedding column:
   * fit = one dimension-wise mean per label, predict = cosine argmax
   * against the ≤|labels| centroids — the fastest useful baseline for
   * "label the corpus by embedding" (weak-supervision seed labels,
   * drift-audit of a trained classifier, per-cluster naming), and at
   * 100 TB the fit is ONE aggregate pass and serving is a broadcast of
   * a labels×dim table onto a narrow scan — no per-pair join at all.
   *
   * Determinism: centroid components round to 6 dp BEFORE scoring
   * (partial-agg mean order differs in the last ulp across engines; the
   * rounded fit is the shared artifact — the [[icpOrderInBuckets]]
   * contract), the argmax orders on the ROUNDED cosine with a label
   * tiebreak, and degenerate zero-norm scores sort below every real one.
   *
   * Output: one row per test vector — idCol, `label` (true), `predicted`,
   * `cos` (6 dp; null when either norm is 0).
   */
  def nearestCentroid(train: DataFrame, test: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame =
    centroidApply(test, centroidFit(train, vecCol, labelCol),
      idCol, vecCol, labelCol)

  /** The [[nearestCentroid]] fit artifact: one (`label`, `centroid`)
    * row per label, components 6-dp rounded — persist it and serve live
    * vectors through [[centroidApply]] with ZERO state (the
    * winsorizeFit / seasonalProfile pattern). */
  def centroidFit(train: DataFrame, vecCol: String,
      labelCol: String): DataFrame =
    train.select(col(labelCol).as("label"),
        posexplode(transform(col(vecCol), x => x.cast("double")))
          .as(Seq("__d", "__x")))
      .groupBy(col("label"), col("__d"))
      .agg(round(avg(col("__x")), 6).as("__c"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("__d"), col("__c")))),
        s => s.getField("__c")).as("centroid"))

  /** Cosine-argmax rows against a [[centroidFit]] table — a labels-sized
    * broadcast + narrow scoring projection, append-mode legal. Labels
    * must be NUMERIC on both sides (they are cast to long in the
    * output); a string-labeled fit table would otherwise cast to null
    * silently, so it is rejected here. */
  def centroidApply(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    require(df.schema(labelCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"centroidApply: label column '$labelCol' must be numeric " +
        s"(got ${df.schema(labelCol).dataType.simpleString}); " +
        "labels are cast to long in the output")
    require(centroids.schema("label").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      "centroidApply: centroid table 'label' must be numeric (got " +
        s"${centroids.schema("label").dataType.simpleString}); " +
        "fit with a numeric label or encode first (Encoding.fit/apply)")
    val cents = centroids.select(col("label").as("__lbl"),
      col("centroid").as("__cv"))
    val te = df.select(col(idCol),
      col(labelCol).cast("long").as("label"),
      transform(col(vecCol), x => x.cast("double")).as("__tv"))
    val cosR = round(dot(col("__tv"), col("__cv")) /
      (norm(col("__tv")) * norm(col("__cv"))), 6)
    val w = Window.partitionBy(col(idCol))
      .orderBy(coalesce(col("__cos"), lit(-2.0)).desc, col("__lbl").asc)
    te.crossJoin(broadcast(cents))
      .withColumn("__cos",
        when(norm(col("__tv")) > 0 && norm(col("__cv")) > 0, cosR))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(idCol), col("label"),
        col("__lbl").cast("long").as("predicted"), col("__cos").as("cos"))
  }

  /** One MMR input candidate: query, candidate, relevance, embedding. */
  final case class MmrCand(qid: Long, cid: Long, rel: Double,
      embedding: Seq[Float])
  /** One MMR output row: the diversified rank and the score that won it. */
  final case class MmrPick(qid: Long, cid: Long, rel: Double,
      mmr_rank: Int, mmr_score: Double)

  /**
   * Maximal-Marginal-Relevance diversification (Carbonell & Goldstein
   * 1998): greedily re-rank a per-query candidate list, each step taking
   *
   *   argmax_d  λ·rel(d) − (1−λ)·max_{s ∈ picked} cos(d, s)
   *
   * — the standard redundancy-killer between retrieval and an LLM
   * context window (near-identical passages burn budget; MMR keeps one
   * of each). λ = 1 reduces to relevance order (spec-pinned); lower λ
   * trades relevance for coverage. Ties break on min cid, and the
   * redundancy cosine is rounded to 6 dp BEFORE the argmax (the
   * [[icpOrderInBuckets]] contract), so the greedy is fully
   * deterministic AND engine-portable — the oracle replays every pick
   * as a recursive CTE carrying the picked vectors as recursion state.
   *
   * Scale shape: candidates arrive PRE-CUT to a per-query top-m (ANN /
   * BM25 output — m is tens), so the O(k·m) greedy runs in-JVM per
   * query group via typed mapGroups: one shuffle keyed on qid carrying
   * m skinny rows per query, the sanctioned imperative site for
   * per-group logic (SURVEY §7.3).
   */
  def mmrRerank(cands: DataFrame, k: Int, lambda: Double,
      qId: String = "qid", cId: String = "cid", relCol: String = "rel",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && lambda >= 0 && lambda <= 1, "need k >= 1, lambda in [0,1]")
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col(qId).cast("long").as("qid"), col(cId).cast("long").as("cid"),
        col(relCol).cast("double").as("rel"), col(vecCol).as("embedding"))
      .as[MmrCand]
      .groupByKey(_.qid)
      .flatMapGroups { (qid, it) =>
        val pool = scala.collection.mutable.ArrayBuffer.from(it)
        // 6-dp HALF-AWAY-FROM-ZERO — DuckDB/Spark ROUND semantics.
        // math.rint (half-even) differs on exact .5 doubles, which the
        // score DOES hit: rel is already 6-dp, so λ=0.5 makes
        // score = rel/2 land on x.xxxxxx5 exactly.
        def r6(x: Double): Double =
          math.copySign(math.floor(math.abs(x) * 1e6 + 0.5), x) / 1e6
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val x = a(i).toDouble; val y = b(i).toDouble
            d += x * y; na += x * x; nb += y * y; i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
        }
        val picked = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
        var rank = 1
        while (rank <= k && pool.nonEmpty) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < pool.length) {
            val c = pool(i)
            val redundancy =
              if (picked.isEmpty) 0.0
              else picked.iterator
                .map(p => r6(cos(c.embedding, p.embedding)))
                .max
            val score = lambda * c.rel - (1 - lambda) * redundancy
            if (score > bestScore ||
                (score == bestScore && best >= 0 && c.cid < pool(best).cid)) {
              best = i; bestScore = score
            }
            i += 1
          }
          val chosen = pool.remove(best)
          picked += chosen
          out += MmrPick(qid, chosen.cid, chosen.rel, rank, r6(bestScore))
          rank += 1
        }
        out.iterator
      }
      .toDF()
  }

  /**
   * Mean-pool dense embeddings per group and L2-renormalize — the
   * chunk→document / member→cluster centroid for cosine geometry (the
   * renormalized mean of unit vectors maximizes average cosine to the
   * members). Output is SPARSE (group, dim_idx, val) rows, the same
   * engine-stable layout as [[graft.ops.Text.hashEmbedding]], so pooled
   * centroids feed the same downstream joins. All-zero groups emit
   * zero vectors instead of NaN.
   *
   * Scale shape: explode → (group, dim) hash aggregate with map-side
   * partial combine → one group-keyed window over ≤dim rows per group;
   * the vectors leave the plan at the explode, so the exchange carries
   * (group, dim, double) triples, never embeddings.
   */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val ex = df.select(col(groupCol),
      posexplode(col(vecCol)).as(Seq("dim_idx", "__v")))
    val m = ex.groupBy(col(groupCol), col("dim_idx"))
      .agg(avg(col("__v").cast("double")).as("__m"))
    val w = Window.partitionBy(col(groupCol))
    m.withColumn("__ss", sum(col("__m") * col("__m")).over(w))
      .select(col(groupCol), col("dim_idx").cast("long").as("dim_idx"),
        when(col("__ss") === 0, lit(0.0))
          .otherwise(round(col("__m") / sqrt(col("__ss")), 6)).as("val"))
  }

  /**
   * Pairwise embedding drift between groups (sources, snapshots,
   * clusters): for every group pair, the squared distance between mean
   * embeddings — the linear-kernel MMD estimate (Gretton et al. 2012,
   * "A Kernel Two-Sample Test", with k(x,y)=x·y the statistic reduces to
   * ‖µ_a − µ_b‖²) — plus the mean-vector cosine and group sizes. The
   * embedding-space counterpart of [[graft.ops.Profile.psi]]: PSI sees a
   * scalar feature drift, this sees a SEMANTIC shift between corpus
   * slices (new crawl snapshot vs old, source A vs source B) without
   * any pairwise doc×doc work.
   *
   * Scale shape: vectors leave the plan at one posexplode; everything
   * after is (group, dim)-grain — the pairwise join is over g·d rows
   * (groups × dims, statistic-sized), never over documents. Mean cosine
   * is null when either mean vector is all-zero.
   *
   * Output: `(grp_a, grp_b, n_a, n_b, mmd2, mean_cos)`, grp_a < grp_b,
   * 6-dp rounded.
   */
  def embeddingDrift(df: DataFrame, vecCol: String,
      groupCol: String): DataFrame = {
    // n_a/n_b must count exactly the rows the means are computed from,
    // so null-embedding rows are excluded from BOTH (a 40%-null group
    // would otherwise report a mean over 60 vectors labeled n=100).
    // Dims are matched by index: mixed-dimension corpora must be
    // truncated/padded first ([[truncateDims]]) — a shorter vector's
    // missing dims simply don't contribute to that group's mean.
    val nn = df.filter(col(vecCol).isNotNull)
    val ex = nn.select(col(groupCol).cast("string").as("grp"),
      posexplode(col(vecCol)).as(Seq("d", "v")))
    val m = ex.groupBy(col("grp"), col("d"))
      .agg(avg(col("v").cast("double")).as("m"))
    val counts = nn.select(col(groupCol).cast("string").as("grp"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val pair = m.select(col("grp").as("grp_a"), col("d"), col("m").as("ma"))
      .join(m.select(col("grp").as("grp_b"), col("d"), col("m").as("mb")),
        Seq("d"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("mmd2"),
        sum(col("ma") * col("mb")).as("dab"),
        sum(col("ma") * col("ma")).as("ssa"),
        sum(col("mb") * col("mb")).as("ssb"))
    pair
      .join(counts.select(col("grp").as("grp_a"), col("n").as("n_a")),
        Seq("grp_a"))
      .join(counts.select(col("grp").as("grp_b"), col("n").as("n_b")),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        round(col("mmd2"), 6).as("mmd2"),
        when(col("ssa") > 0 && col("ssb") > 0,
          round(col("dab") / (sqrt(col("ssa")) * sqrt(col("ssb"))), 6))
          .as("mean_cos"))
  }

  /**
   * Hard-negative mining for retrieval/embedding training: for each
   * query, the top-k most similar corpus items EXCLUDING its known
   * positives — the negatives that actually move a contrastive loss
   * (DPR-style in-batch training, Karpukhin et al. 2020). Exclusion
   * happens BEFORE ranking, so the k returned are the true next-best
   * candidates, not a truncated top-k with holes. Same scale shape as
   * [[bruteForceTopK]] (small query set broadcast, corpus partitioned;
   * swap the scorer for the banded/IVF candidate generator at corpus
   * scale) plus one broadcast anti-join on the (query, positive) table —
   * positives are O(queries), always the small side.
   */
  def hardNegatives(queries: DataFrame, positives: DataFrame, corpus: DataFrame,
      k: Int, qId: String = "qid", cId: String = "cid",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(qId), col(vecCol).as("qe"))
    val c = corpus.select(col(cId), col(vecCol).as("ce"))
    val scored = broadcast(q).crossJoin(c)
      .select(col(qId), col(cId), round(cosine(col("qe"), col("ce")), 6).as("cos"))
      .join(broadcast(positives.select(col(qId), col(cId))), Seq(qId, cId), "left_anti")
    val w = Window.partitionBy(col(qId)).orderBy(col("cos").desc, col(cId).asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qId), col(cId), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /**
   * Sign-LSH bucket id from `nPlanes` coordinate-difference hyperplanes:
   * bit p = [v(p) > v(p + offset)]. A valid (if simple) LSH family for
   * cosine on centered vectors; the point here is the scale shape: bucket
   * assignment is a narrow projection, and ANN search becomes an equi-join
   * on `bucket` instead of a cross join — the IVF/LSH "coarse quantizer"
   * pattern.
   *
   * Minimum dimension for full discrimination is nPlanes + offset (40 with
   * defaults); shorter vectors are still safe — out-of-range planes
   * contribute a 0 bit instead of throwing under ANSI mode (the outer
   * size() guard short-circuits the element_at).
   */
  def signBucket(vec: Column, nPlanes: Int = 8, offset: Int = 32): Column =
    (1 to nPlanes).map { p =>
      when(size(vec) >= lit(p + offset),
        when(element_at(vec, p) > element_at(vec, p + offset), lit(1L << (p - 1)))
          .otherwise(lit(0L)))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * Bucketed ANN: top-k within the query's LSH bucket — plus, with
   * `nProbe > 1`, the nProbe-1 adjacent buckets at Hamming distance 1
   * (classic multi-probe LSH: the most likely buckets for a near-miss are
   * those differing in exactly one hyperplane bit). Probing explodes only
   * the QUERY side (nProbe rows per query, still broadcast-sized); the
   * corpus stays one row per vector and the search remains an equi-join on
   * `bucket`. Recall rises with nProbe with no change to the plan shape.
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "qid", cId: String = "cid", vecCol: String = "embedding",
      nProbe: Int = 1, nPlanes: Int = 8): DataFrame = {
    require(nProbe >= 1 && nProbe <= nPlanes + 1,
      s"nProbe must be in [1, nPlanes + 1 = ${nPlanes + 1}]")
    val base = signBucket(col(vecCol), nPlanes)
    val probes = array((0 until nProbe).map { i =>
      if (i == 0) base else base.bitwiseXOR(lit(1L << (i - 1)))
    }: _*)
    val q = queries.select(col(qId), col(vecCol).as("qe"),
      explode(probes).as("bucket"))
    val c = corpus.select(col(cId), col(vecCol).as("ce"),
      signBucket(col(vecCol), nPlanes).as("bucket"))
    // no dedup needed: a corpus vector lives in exactly one bucket and the
    // probe buckets of a query are pairwise distinct, so each (query,
    // candidate) pair surfaces at most once
    val scored = broadcast(q).join(c, Seq("bucket"))
      .select(col(qId), col(cId), round(cosine(col("qe"), col("ce")), 6).as("cos"))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos").desc, col(cId).asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qId), col(cId), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /**
   * Bucket-packed ANN index: the corpus grouped into one row per sign-LSH
   * bucket with its members packed as an array of (cid, vec) structs.
   * Build once (ONE shuffle over the corpus), reuse per query batch — and
   * because [[packedTopK]] resolves candidates with array functions
   * instead of windows/aggregations, the lookup side runs UNCHANGED as a
   * stream-static join in Structured Streaming (the [[Temporal]]
   * asofLookupJoin trick applied to ANN serving).
   */
  def packedIndex(corpus: DataFrame, cId: String = "cid",
      vecCol: String = "embedding", nPlanes: Int = 8): DataFrame =
    corpus
      .select(signBucket(col(vecCol), nPlanes).as("bucket"),
        struct(col(cId).as("cid"), col(vecCol).as("ce")).as("e"))
      .groupBy(col("bucket"))
      .agg(collect_list(col("e")).as("items"))

  /**
   * Top-k against a [[packedIndex]]: equi-join on the query's bucket, then
   * rank INSIDE the row — score every packed candidate, `array_sort` on
   * (cos desc, cid asc) via a (-cos, cid) sort key, slice k, posexplode.
   * Identical output to single-probe [[lshTopK]] (spec-pinned), but with
   * no window function and no aggregation after the join: per-query state
   * is one bucket row, so the same plan serves batch backfills and a
   * live query stream. Index rows ride broadcast when small; bucket
   * membership is bounded by the LSH family, not corpus size.
   */
  def packedTopK(queries: DataFrame, index: DataFrame, k: Int,
      qId: String = "qid", vecCol: String = "embedding",
      nPlanes: Int = 8): DataFrame = {
    val q = queries.select(col(qId), col(vecCol).as("qe"),
      signBucket(col(vecCol), nPlanes).as("bucket"))
    val scored = transform(col("items"), e =>
      struct((-round(cosine(col("qe"), e.getField("ce")), 6)).as("negcos"),
        e.getField("cid").as("cid")))
    q.join(broadcast(index), Seq("bucket"))
      .select(col(qId), slice(array_sort(scored), 1, k).as("top"))
      .select(col(qId), posexplode(col("top")).as(Seq("i", "t")))
      .select(col(qId), col("t.cid").as("cid"),
        (-col("t.negcos")).as("cos"), (col("i") + 1).cast("long").as("rnk"))
  }

  /**
   * IVF-style ANN, one-shot convenience shape: fit + query in one call.
   * Repeated query workloads should [[IvfIndex.fit]] once (or
   * [[IvfIndex.load]] a saved index) and call [[IvfIndex.topK]] per batch —
   * this wrapper pays the KMeans job every call.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int,
      nProbe: Int = 2, qId: String = "qid", cId: String = "cid",
      vecCol: String = "embedding", seed: Long = 42L): DataFrame =
    IvfIndex.fit(corpus, nCells, cId, vecCol, seed).topK(queries, k, nProbe, qId)

  /**
   * Deterministic coordinate pairs (i, j) for the banded sign-LSH plane
   * family: plane bit = [v(i) > v(j)]. Drawn by a 64-bit LCG (constants
   * from Knuth MMIX) with unordered-duplicate rejection, so every plane
   * across every band is a distinct hyperplane. Pure function of
   * (nBands, nPlanes, dim, seed) — the DuckDB oracle SQL is generated from
   * the SAME call, so the two sides can never drift.
   *
   * Returned indices are 0-based; add 1 for `element_at` / SQL lists.
   */
  def planePairs(nBands: Int, nPlanes: Int, dim: Int,
      seed: Long = 42L): Seq[Seq[(Int, Int)]] = {
    require(dim >= 2, "dim must be >= 2")
    require(nBands * nPlanes <= dim * (dim - 1) / 2,
      s"cannot draw ${nBands * nPlanes} distinct plane pairs from dim=$dim")
    var state = seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state >>> 33
    }
    val seen = scala.collection.mutable.Set.empty[(Int, Int)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (out.size < nBands * nPlanes) {
      val i = (next() % dim).toInt
      val j = (next() % dim).toInt
      if (i != j) {
        val key = (math.min(i, j), math.max(i, j))
        if (!seen.contains(key)) { seen += key; out += ((i, j)) }
      }
    }
    out.toSeq.grouped(nPlanes).toSeq
  }

  /**
   * Deterministic ±1 Johnson–Lindenstrauss projection matrix (`dOut` rows
   * × `dIn` columns) from the same MMIX LCG as [[planePairs]]: a
   * Rademacher sketch preserves pairwise angles/distances within
   * 1 ± O(sqrt(log n / dOut)) (Achlioptas 2003), at a quarter the target
   * dimension here. Pure function of (dIn, dOut, seed), so the DuckDB
   * oracle SQL embeds literals generated by the SAME call and can never
   * drift. Entries are ±1.0 (unscaled — cosine is scale-invariant, and
   * downstream L2 users can fold the 1/sqrt(dOut) factor into thresholds).
   */
  def projectionMatrix(dIn: Int, dOut: Int,
      seed: Long = 42L): Array[Array[Double]] = {
    require(dIn >= 1 && dOut >= 1, "need dIn >= 1 and dOut >= 1")
    var state = seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state >>> 33
    }
    Array.fill(dOut, dIn)(if ((next() & 1L) == 0L) 1.0 else -1.0)
  }

  /** Projection expression: `dOut` sequential-fold dot products against the
    * matrix rows (each a literal array riding the plan) — one narrow
    * projection, no shuffle. Accumulation is left-to-right, matching the
    * SQL `list_sum(list_transform(list_zip(...)))` replay bit for bit. */
  def projectExpr(vec: Column, mat: Array[Array[Double]]): Column =
    array(mat.toIndexedSeq.map { row =>
      aggregate(
        zip_with(vec, array(row.toIndexedSeq.map(lit): _*),
          (x, r) => x.cast("double") * r),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  /**
   * Brute-force top-k in the PROJECTED space: both sides sketched to
   * `dOut` dims, then exact cosine ranking over the sketches. The scan
   * arithmetic shrinks by dIn/dOut (64→16 = 4×) at a bounded recall cost —
   * the dimensionality-reduction tier of the compression family
   * ([[Sq]] quantizes values, [[Pq]] quantizes subspaces, this cuts
   * dimensions), and the natural front-end to either: SQ8-over-sketch
   * stores one byte per REDUCED dim.
   */
  def rpTopK(queries: DataFrame, corpus: DataFrame, k: Int, dOut: Int,
      qId: String = "qid", cId: String = "cid", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val dIn = corpus.select(size(col(vecCol))).head().getInt(0)
    val mat = projectionMatrix(dIn, dOut, seed)
    val q = queries.select(col(qId), projectExpr(col(vecCol), mat).as("qe"))
    val c = corpus.select(col(cId), projectExpr(col(vecCol), mat).as("ce"))
    val scored = broadcast(q).crossJoin(c)
      .select(col(qId), col(cId), round(cosine(col("qe"), col("ce")), 6).as("cos"))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos").desc, col(cId).asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qId), col(cId), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Bucket id of one band: nPlanes sign bits packed into a long. Vectors
    * shorter than a plane's max index contribute a 0 bit (guarded, no ANSI
    * element_at throw) — same convention as [[signBucket]]. */
  def bandBucket(vec: Column, pairs: Seq[(Int, Int)]): Column =
    pairs.zipWithIndex.map { case ((i, j), p) =>
      when(size(vec) >= lit(math.max(i, j) + 1),
        when(element_at(vec, i + 1) > element_at(vec, j + 1), lit(1L << p))
          .otherwise(lit(0L)))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * Banded sign-LSH bucket assignment: one (id, band, bucket) row per
   * (vector, band), with bucket groups larger than `maxBucket` dropped — the
   * same OR-construction + fan-out guard as [[Dedup.minhashLshPairs]], in
   * the same r11-hardened shape: the cap counts with a groupBy (partial
   * hash-agg below the exchange, so a degenerate bucket — all-zero or
   * boilerplate embeddings — pre-combines map-side instead of funneling
   * its entire membership into one window task) and removes the tiny
   * over-cap (band, bucket) list via a broadcast anti-join. The bucket
   * projection is a narrow codegen'd sign-bit expression, so the count
   * branch's recompute of it is cheap (the minhash cap caches because its
   * signatures come from a k-hash AGGREGATION; here there is nothing
   * worth caching).
   */
  def bandedBuckets(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int, nPlanes: Int, dim: Int, maxBucket: Int,
      seed: Long = 42L): DataFrame = {
    val bandCols = planePairs(nBands, nPlanes, dim, seed).zipWithIndex.map {
      case (prs, b) =>
        struct(lit(b).as("band"), bandBucket(col(vecCol), prs).as("bucket"))
    }
    val exploded = df
      .select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val overCap = exploded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("bucket"))
    exploded.join(broadcast(overCap), Seq("band", "bucket"), "left_anti")
  }

  /**
   * Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= tau).
   *
   * Scale path (`bucketed = true`): candidates collide on ANY of `nBands`
   * independent sign-LSH bands of `nPlanes` hyperplanes each (bands×rows
   * OR-structure — the [[Dedup.minhashLshPairs]] pattern), with per-band
   * bucket groups capped at `maxBucket` to bound join fan-out under skew;
   * candidates are then verified with exact cosine. Per-band pruning is
   * 2^nPlanes; recall for a pair at cosine c is 1 - (1 - p^nPlanes)^nBands
   * with p = 1 - acos(c)/π, so the band budget is a direct recall/cost
   * dial. At the defaults (20×4) the formula gives 0.934 for a pair at
   * cosine exactly 0.3 and 0.968 at 0.4; corpus-average recall at
   * tau = 0.3 measures ~0.95 (OpsSpec: 0.949) because most matched pairs
   * sit above the threshold. High-tau production dedup (tau >= 0.8,
   * p >= 0.87, per-pair recall > 0.9999) can afford nPlanes = 8 for
   * 256-way pruning per band.
   *
   * `dim` is the embedding dimensionality the plane family is drawn from
   * (shorter vectors degrade gracefully via the guarded bits).
   */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, bucketed: Boolean = true,
      nBands: Int = 20, nPlanes: Int = 4, maxBucket: Int = 1000,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    if (!bucketed) {
      val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosine(col("va"), col("vb")), 6).as("cos"))
        .filter(col("cos") >= tau)
    } else {
      val bb = bandedBuckets(df, idCol, vecCol, nBands, nPlanes, dim, maxBucket, seed)
      val l = bb.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      val r = bb.select(col("band"), col("bucket"), col(idCol).as("id_b"))
      val cand = l.join(r, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val va = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosine(col("va"), col("vb")), 6).as("cos"))
        .filter(col("cos") >= tau)
    }
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): cluster the embedding
   * space, then drop near-identical members WITHIN each cluster — the
   * quadratic pair search is confined to a cluster, which is the paper's
   * whole trick for web scale.
   *
   * This rebuild keeps every decision deterministic and engine-replayable
   * (no RNG, no iterative k-means): cluster seeds are the `k` vectors with
   * the smallest `md5(id)` (content-derived, the [[graft.ops.Text.hashSplit]]
   * family); each vector joins its max-cosine seed, ties to the seed
   * earlier in (md5, id) order; within a cluster a vector is DROPPED when
   * any lower-id member sits at rounded cosine >= `tau` (keep-lowest-id, the
   * same canonical rule as [[graft.ops.Dedup.resolveDuplicates]]).
   *
   * Output: (id, cluster = seed id, keep). Scale shape: the k seed vectors
   * are a driver-side fit statistic (k rows, like IvfIndex centroids) that
   * ride the plan as literals — assignment is ONE narrow codegen'd pass
   * (k fused [[graft.functions.VecCosine]] calls, no shuffle, no join);
   * the pair search shuffles on cluster id only and never moves the corpus
   * twice; cosines are rounded to 6 dp on both engines before comparing.
   */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, tau: Double = 0.7): DataFrame = {
    val assigned = seedAssign(df, idCol, vecCol, k).drop("proto_cos")
    val l = assigned.select(col("cluster"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = assigned.select(col("cluster"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    val dropped = l.join(r, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= tau)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__drop", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("__drop"), lit(true)).as("keep"))
  }

  /**
   * Deterministic md5-seeded cluster assignment shared by [[semDedup]] and
   * [[prototypicality]]: seeds are the `k` vectors with the smallest
   * `md5(id)` (content-derived, engine-stable — no RNG, no iterative
   * k-means); each vector takes its max-rounded-cosine seed, ties resolved
   * to the seed earlier in (md5, id) order (NaN cosines — zero-norm
   * inputs — order as -infinity on both paths). Output: (idCol, vecCol,
   * cluster = seed id, proto_cos = rounded cosine to the assigned seed).
   *
   * Scale shape, two regimes sharing ONE contract (identical output,
   * spec-pinned):
   *  - k <= [[SeedAssignJoinThreshold]]: the seeds are a k-row driver-side
   *    fit statistic riding the plan as literals (the IvfIndex centroid
   *    pattern) — assignment is ONE narrow codegen'd projection, k fused
   *    cosines, no shuffle, no join;
   *  - larger k: expression depth and driver plan size grow with k, so
   *    assignment switches to a broadcast centroid JOIN (corpus ×
   *    broadcast-k cosines, argmax via one map-side-combining `max_by`
   *    aggregate keyed on id) — k-independent plan size, one skinny
   *    exchange of per-id rows, the web-scale shape.
   */
  private def seedAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    if (k <= SeedAssignJoinThreshold) seedAssignLiteral(df, idCol, vecCol, k)
    else seedAssignJoin(df, idCol, vecCol, k)

  /** Literal-path / join-path switch point: below this the k fused cosines
    * codegen fine; above it the plan-literal seeds bloat the driver plan
    * and expression tree, so the broadcast-join variant takes over. */
  private[graft] val SeedAssignJoinThreshold = 100

  private[graft] def seedAssignLiteral(df: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val seeds = df.select(col(idCol).as("sid"), col(vecCol).as("sv"))
      .withColumn("__h", md5(col("sid").cast("string")))
      .orderBy(col("__h"), col("sid"))
      .limit(k)
      .select(col("sid"), col("sv"))
      .collect()
    // Linear-size selection: ONE array_max over k (key, -rank, cos, id)
    // structs — lexicographic max = highest rounded cosine, ties to the
    // EARLIEST seed in (md5, id) order. NaN cosines (zero-norm inputs)
    // order as -infinity via nanvl so a degenerate seed can never win
    // (the raw cosine is still carried for the output; the join path
    // uses the identical ordering key). A when-chain fold here would
    // reference its own accumulator twice per step — 2^k expression
    // blowup that broke whole-stage codegen around k ~ 13.
    val entries = seeds.zipWithIndex.map { case (r, i) =>
      val c = round(cosine(col(vecCol), lit(r.getSeq[Float](1).toArray)), 6)
      struct(nanvl(c, lit(Double.NegativeInfinity)).as("key"),
        lit(-i).as("nr"), c.as("c"), lit(r.get(0)).as("s"))
    }
    val best = array_max(array(entries.toIndexedSeq: _*))
    df.select(col(idCol), col(vecCol),
      best.getField("s").as("cluster"), best.getField("c").as("proto_cos"))
  }

  /** Join-path twin of [[seedAssignLiteral]] — same seeds, same rounded
    * cosines, same ordering key (max rounded cosine with NaN as
    * -infinity, ties to the EARLIEST seed in (md5, id) order), so the two
    * paths agree exactly (spec-pinned). */
  private[graft] def seedAssignJoin(df: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val seeds = df.select(col(idCol).as("sid"), col(vecCol).as("sv"))
      .withColumn("__h", md5(col("sid").cast("string")))
      .orderBy(col("__h"), col("sid"))
      .limit(k)
    // k rows only — the global window ranks the broadcast side, not the corpus
    val ranked = seeds.withColumn("__srank",
        row_number().over(Window.orderBy(col("__h"), col("sid"))))
      .select(col("sid"), col("sv"), col("__srank"))
    df.crossJoin(broadcast(ranked))
      .select(col(idCol), col(vecCol), col("sid"), col("__srank"),
        round(cosine(col(vecCol), col("sv")), 6).as("__c"))
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col(vecCol).as("v"), col("sid").as("s"), col("__c").as("c")),
        struct(nanvl(col("__c"), lit(Double.NegativeInfinity)),
          -col("__srank"))).as("__best"))
      .select(col(idCol), col("__best.v").as(vecCol),
        col("__best.s").as("cluster"), col("__best.c").as("proto_cos"))
  }

  /**
   * Prototypicality scores (Sorscher et al. 2022, "Beyond neural scaling
   * laws": the SSL-prototypes metric): each example's cosine to its
   * cluster prototype, ranked within the cluster — rank 1 is the MOST
   * prototypical (easiest, most redundant) member. The pruning signal of
   * the D4 pipeline (Tirumala et al. 2023): dropping the most prototypical
   * fraction beats random down-sampling at equal token budget.
   *
   * Deterministic rebuild: prototypes are the [[seedAssign]] md5-seeded
   * vectors (not trained centroids), so every score, rank, and verdict is
   * engine-replayable and the oracle hash-checks the whole table. Output:
   * (id, cluster, proto_cos, proto_rank, cluster_n). Rank ties (equal
   * rounded cosine) break to the lower id.
   *
   * Scale shape: one narrow assignment projection (no shuffle) + ONE
   * shuffle on cluster id for the two analytic functions — rank and size
   * share the same window partitioning, so Catalyst plans a single
   * exchange; bodies/vectors never move a second time.
   */
  def prototypicality(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8): DataFrame = {
    val byCluster = Window.partitionBy(col("cluster"))
    val w = byCluster.orderBy(col("proto_cos").desc, col(idCol))
    seedAssign(df, idCol, vecCol, k)
      .select(col(idCol), col("cluster"), col("proto_cos"),
        row_number().over(w).cast("long").as("proto_rank"),
        count(lit(1)).over(byCluster).as("cluster_n"))
  }

  /**
   * SSL-prototypes pruning verdicts over [[prototypicality]]: drop the
   * `dropFraction` most prototypical members of every cluster (keep =
   * proto_rank > floor(dropFraction * cluster_n), so small clusters round
   * toward keeping). Compose after [[semDedup]] survivors for the full D4
   * recipe: semantic dedup first, then prototype pruning on what remains.
   */
  def prototypePrune(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, dropFraction: Double = 0.2): DataFrame = {
    require(dropFraction >= 0 && dropFraction < 1, "dropFraction in [0, 1)")
    prototypicality(df, idCol, vecCol, k)
      .withColumn("keep",
        col("proto_rank") > floor(lit(dropFraction) * col("cluster_n")))
  }

  /**
   * Binary quantization: each vector compressed to `nWords * bitsPerWord`
   * sign bits (bit j of word w = [v(w*bitsPerWord + j) > 0]) packed into
   * an `array<long>` of word values — 64 floats become 64 bits, a 32x
   * compression that turns distance into XOR+popcount. The standard
   * first-stage filter in modern vector stores (the reference's ANN
   * surface has the same coarse-then-exact split, e.g. its IVF/PQ paths).
   *
   * Zero-centered embeddings are assumed (sign bits carry no information
   * otherwise) — true of the testdata embeddings and of most encoder
   * outputs. Components beyond the vector's length contribute 0 bits, so
   * short vectors are safe under ANSI mode (same guard as [[signBucket]]).
   *
   * The fold is high-bit-to-low `acc*2 + bit` — exact integer arithmetic
   * that DuckDB replays verbatim, keeping the whole Hamming path
   * hash-checkable. One narrow codegen projection, no shuffle.
   */
  def binaryCode(vec: Column, nWords: Int = 4, bitsPerWord: Int = 16): Column = {
    require(nWords >= 1 && bitsPerWord >= 1 && bitsPerWord <= 62,
      "need nWords >= 1 and 1 <= bitsPerWord <= 62")
    array((0 until nWords).map { w =>
      ((bitsPerWord - 1) to 0 by -1).foldLeft(lit(0L)) { (acc, j) =>
        val idx = w * bitsPerWord + j + 1
        acc * 2 + when(size(vec) >= lit(idx),
          when(element_at(vec, idx) > lit(0), lit(1L)).otherwise(lit(0L)))
          .otherwise(lit(0L))
      }
    }: _*)
  }

  /** Hamming distance between two packed codes: popcount of the per-word
    * XOR, summed — `bit_count` is codegen'd, so the whole distance is a
    * handful of ALU ops per pair. */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /**
   * Two-stage ANN: binary-Hamming scan to `m` candidates per query, exact
   * cosine rerank of the survivors to top `k`. The 100 TB shape:
   *
   *  - stage 1 drops the float vectors BEFORE the top-m shuffle — the scan
   *    emits only (qid, cid, ham) skinny rows, so the per-query window
   *    moves 16 bytes per candidate instead of the embedding;
   *  - stage 2 rejoins vectors only for the `m * |Q|` survivors (hinted
   *    broadcast — survivors are bounded by construction), so the corpus
   *    is read once and never shuffled with its payload.
   *
   * Candidate order ties break on cid, final ties on (cos desc, cid) —
   * fully deterministic, hash-checked against DuckDB end to end
   * (`q_ann_binary_rerank`). Recall-vs-m is spec-checked: at m = |corpus|
   * the result equals [[bruteForceTopK]] exactly.
   */
  def binaryRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int,
      qId: String = "qid", cId: String = "cid", vecCol: String = "embedding",
      nWords: Int = 4, bitsPerWord: Int = 16): DataFrame = {
    require(m >= k, s"rerank pool m=$m must be >= k=$k")
    def coded(df: DataFrame, id: String, out: String) =
      df.select(col(id), col(vecCol).as(out),
        binaryCode(col(vecCol), nWords, bitsPerWord).as(s"__${out}c"))
    val q = coded(queries, qId, "qe")
    val c = coded(corpus, cId, "ce")
    val ham = broadcast(q.select(col(qId), col("__qec")))
      .crossJoin(c.select(col(cId), col("__cec")))
      .select(col(qId), col(cId),
        hammingDist(col("__qec"), col("__cec")).as("ham"))
    val wm = Window.partitionBy(col(qId)).orderBy(col("ham").asc, col(cId).asc)
    val cand = ham.withColumn("__hrnk", row_number().over(wm))
      .filter(col("__hrnk") <= m)
      .join(q.select(col(qId), col("qe")), Seq(qId))
    val rer = c.select(col(cId), col("ce")).join(broadcast(cand), Seq(cId))
      .select(col(qId), col(cId), col("ham"),
        round(cosine(col("qe"), col("ce")), 6).as("cos"))
    val wk = Window.partitionBy(col(qId)).orderBy(col("cos").desc, col(cId).asc)
    rer.withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= k)
      .select(col(qId), col(cId), col("ham"), col("cos"),
        col("rnk").cast("long").as("rnk"))
  }

  final case class IcpDoc(id: Long, bucket: Long, embedding: Seq[Float])
  final case class IcpPos(id: Long, bucket: Long, chain_pos: Long,
      link_cos: Double)

  /**
   * In-context-pretraining document ordering (Shi et al. 2023, "In-Context
   * Pretraining: Language Modeling Beyond Document Boundaries"): lay out
   * the corpus so each training context window holds RELATED documents —
   * within each locality bucket, chain docs by a greedy nearest-neighbor
   * walk (start at the min id; each step jumps to the unvisited doc with
   * the highest cosine to the current one, ties to min id) and emit the
   * chain position. Sorting the corpus by (bucket, chain_pos) before
   * [[graft.ops.Text.packChunksAcrossDocs]] gives packs whose members are
   * semantically adjacent instead of random — the paper's curriculum.
   *
   * `link_cos` is the similarity of the edge that PLACED the doc (0 for
   * each chain head), rounded to 1e-6 so reruns are bit-stable.
   *
   * Scale shape: the walk is O(m²) per bucket, so buckets must stay small
   * and numerous — exactly the coarse-quantizer regime. This overload
   * takes a PRE-ASSIGNED bucket column (IVF cell ids from
   * [[graft.ops.IvfIndex]], or [[signBucket]] via the convenience
   * overload), and the only movement is ONE shuffle keyed on the bucket;
   * at 100 TB you raise the cell count so per-cell membership stays
   * a few hundred docs, never grow the per-task quadratic. The greedy is
   * a typed mapGroups — the SURVEY-sanctioned imperative site — and is
   * not SQL-expressible without a per-step recursive CTE, so the catalog
   * query is rows-only with a reference-parity spec (permutation,
   * determinism, and chained-adjacency beating id-order adjacency).
   */
  def icpOrderInBuckets(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(bucketCol).cast("long").as("bucket"), col(vecCol).as("embedding"))
      .as[IcpDoc]
      .groupByKey(_.bucket)
      .flatMapGroups { (bucket, it) =>
        val pool = scala.collection.mutable.ArrayBuffer.from(it)
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val x = a(i).toDouble; val y = b(i).toDouble
            d += x * y; na += x * x; nb += y * y; i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[IcpPos]
        // head: min id — content-derived, so the walk replays exactly
        var curIdx = pool.indices.minBy(pool(_).id)
        var pos = 1L
        out += IcpPos(pool(curIdx).id, bucket, pos, 0.0)
        var cur = pool.remove(curIdx)
        while (pool.nonEmpty) {
          var best = 0; var bestCos = Double.NegativeInfinity
          var i = 0
          while (i < pool.length) {
            val c = math.rint(cos(cur.embedding, pool(i).embedding) * 1e6) / 1e6
            if (c > bestCos || (c == bestCos && pool(i).id < pool(best).id)) {
              best = i; bestCos = c
            }
            i += 1
          }
          cur = pool.remove(best)
          pos += 1
          out += IcpPos(cur.id, bucket, pos, bestCos)
        }
        out.iterator
      }
      .toDF()
  }

  /** [[icpOrderInBuckets]] with [[signBucket]] locality buckets — the
    * self-contained form for corpora without a fitted IVF index. */
  def icpOrder(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, offset: Int = 32): DataFrame =
    icpOrderInBuckets(
      df.withColumn("__icpb", signBucket(col(vecCol), nPlanes, offset)),
      idCol, vecCol, "__icpb")

  /**
   * ANN quality-vs-cost frontier: macro-averaged Recall@k / MRR@k /
   * nDCG@k of EACH candidate index against brute-force truth, one row
   * per variant — so the recall of every index the library ships (LSH,
   * SQ8, PQ-ADC, residual IVF-PQ, binary-rerank, ...) is MEASURED in one
   * report, not asserted. Composes [[Search.rankingMetrics]] per variant
   * (truth top-k as unit-relevance qrels) and averages over queries.
   *
   * All inputs are top-k tables (O(queries · k) rows): every join and
   * aggregate here is broadcast-sized regardless of the corpus that
   * produced the rankings — the expensive work already happened inside
   * the per-variant retrievers.
   *
   * Output: (variant, n_queries, recall_k, mrr_k, ndcg_k), one row per
   * variant, 6-dp rounded, ordered by variant name.
   */
  def annRecallReport(truth: DataFrame, variants: Seq[(String, DataFrame)],
      k: Int, qId: String = "qid", dId: String = "cid",
      rankCol: String = "rnk"): DataFrame = {
    require(variants.nonEmpty, "need at least one variant")
    val qrels = truth.select(col(qId), col(dId), lit(1.0).as("rel"))
    variants.map { case (name, topk) =>
      Search.rankingMetrics(topk, qrels, k, qId, dId, rankCol, "rel")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall_k")), 6).as("recall_k"),
          round(avg(col("mrr_k")), 6).as("mrr_k"),
          round(avg(col("ndcg_k")), 6).as("ndcg_k"))
        .select(lit(name).as("variant"), col("n_queries"),
          col("recall_k"), col("mrr_k"), col("ndcg_k"))
    }.reduce(_ unionByName _).orderBy(col("variant"))
  }
}
