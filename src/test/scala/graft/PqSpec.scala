package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pq, PqCodebook}

class PqSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated clusters in 8-dim, deterministic construction
  private def clustered = {
    val base = Seq(
      Array.fill(8)(0.0f),
      Array.fill(8)(10.0f),
      Array.tabulate(8)(i => if (i < 4) 20.0f else -20.0f))
    (0 until 30).map { i =>
      val c = base(i % 3)
      (i.toLong, c.map(x => x + (i / 3) * 0.01f).toSeq)
    }.toDF("cid", "embedding")
  }

  test("VecL2Sq codegen expression is bit-identical to the HOF fold") {
    val pairs = clustered.select($"embedding".as("a"),
      reverse($"embedding").as("b"))
    val viaExpr = pairs.select(
      graft.functions.VecL2Sq.vecL2Sq($"a", $"b")).collect().map(_.getDouble(0))
    val viaHof = pairs.select(
      aggregate(zip_with($"a", $"b",
        (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
        lit(0.0d), (acc, x) => acc + x)).collect().map(_.getDouble(0))
    assert(viaExpr.length == 30)
    viaExpr.zip(viaHof).foreach { case (e, h) =>
      assert(java.lang.Double.doubleToLongBits(e) ==
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("fit + encode: codebook shape, codes in range, m-byte representation") {
    val cb = Pq.fit(clustered, m = 2, k = 3, seed = 7L)
    assert(cb.m == 2 && cb.k == 3 && cb.subDim == 4)
    val codes = Pq.encode(clustered, "cid", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codes.length == 30)
    assert(codes.forall { case (_, cs) =>
      cs.length == 2 && cs.forall(c => c >= 0 && c < 3) })
    // k = number of clusters: quantization collapses each cluster to one
    // code word and distinct clusters never share one
    val byCluster = codes.groupBy(_._1 % 3).view.mapValues(_.map(_._2).distinct).toMap
    assert(byCluster.values.forall(_.length == 1))
    assert(byCluster.values.flatten.toSeq.distinct.length == 3)
  }

  test("ADC is exact when corpus vectors sit on codebook entries") {
    // codebook = the 3 base vectors themselves (plus one filler), corpus
    // rows 0..2 are exactly those rows -> ADC == true squared L2
    val corpus = clustered.filter($"cid" < 3)
    val cb = Pq.codebookFromRows(clustered, "cid", "embedding",
      Seq(0L, 1L, 2L, 3L), m = 2)
    val codes = Pq.encode(corpus, "cid", "embedding", cb)
    val queries = clustered.filter($"cid" >= 27)
      .select($"cid".as("qid"), $"embedding")
    val adc = Pq.adcTopK(queries, "qid", codes, "cid", cb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = queries.withColumnRenamed("embedding", "qe")
      .crossJoin(corpus.withColumnRenamed("embedding", "ce"))
      .select($"qid", $"cid",
        round(aggregate(zip_with($"qe", $"ce",
          (a, b) => { val d = a.cast("double") - b.cast("double"); d * d }),
          lit(0.0d), (acc, x) => acc + x), 6).as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(adc.keySet == exact.keySet)
    assert(adc.forall { case (k2, v) => math.abs(v - exact(k2)) < 1e-6 })
  }

  test("ADC top-1 with a fitted codebook recalls the true cluster") {
    val cb = Pq.fit(clustered, m = 2, k = 4, seed = 7L)
    val codes = Pq.encode(clustered, "cid", "embedding", cb)
    val queries = clustered.filter($"cid" % 3 === 1L && $"cid" < 10)
      .select($"cid".as("qid"), $"embedding")
    val top1 = Pq.adcTopK(queries, "qid", codes, "cid", cb, k = 1)
      .collect()
    assert(top1.nonEmpty)
    // nearest code word of a cluster-1 query is a cluster-1 row
    assert(top1.forall(r => r.getLong(1) % 3 == 1L))
  }

  test("IVF-PQ at full probe equals plain ADC; partial probe recalls cluster") {
    import graft.ops.IvfIndex
    val cb = Pq.fit(clustered, m = 2, k = 3, seed = 7L)
    val codes = Pq.encode(clustered, "cid", "embedding", cb)
    val ivf = IvfIndex.fit(clustered, nCells = 3, cId = "cid")
    val queries = clustered.filter($"cid" < 6)
      .select($"cid".as("qid"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val full = rows(Pq.ivfAdcTopK(queries, "qid", ivf, codes, "cid", cb,
      k = 5, nProbe = 3))
    val plain = rows(Pq.adcTopK(queries, "qid", codes, "cid", cb, k = 5))
    assert(full == plain)
    // nProbe=1: shortlist is the query's own cell -> all top-5 in-cluster
    val partial = Pq.ivfAdcTopK(queries, "qid", ivf, codes, "cid", cb,
      k = 5, nProbe = 1).collect()
    assert(partial.nonEmpty)
    partial.foreach(r => assert(r.getLong(1) % 3 == r.getLong(0) % 3))
  }

  test("ADC agrees with brute-force cosine ranking on separated clusters") {
    val cb = Pq.fit(clustered, m = 2, k = 4, seed = 7L)
    val codes = Pq.encode(clustered, "cid", "embedding", cb)
    val queries = clustered.filter($"cid" < 6)
      .select($"cid".as("qid"), $"embedding")
    val adcTop = Pq.adcTopK(queries, "qid", codes, "cid", cb, k = 10)
      .filter($"rnk" <= 10).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1) % 3).toSet }
    // all top-10 of each query collapse to the query's own cluster
    adcTop.foreach { case (q, cls) => assert(cls == Set(q % 3)) }
  }

  test("residual IVF-PQ: exact when residuals sit on codebook entries; in-cluster recall") {
    import graft.ops.IvfIndex
    // centroids = one row per cluster -> residuals are the small 0.01*i
    // perturbations; a codebook drawn FROM those residuals must rank each
    // query's own perturbation group exactly
    val cents = Seq(0L, 1L, 2L).map(i =>
      clustered.filter($"cid" === i).head().getSeq[Float](1).map(_.toDouble).toArray)
    val ivf = IvfIndex.fromCentroids(cents.toArray, clustered, "cid", "embedding")
    val res = Pq.residuals(ivf.assigned, "embedding", cents.toArray)
    val cb = Pq.codebookFromRows(res, "cid", "residual", (0L to 8L), m = 2)
    val codes = Pq.encode(res, "cid", "residual", cb)
    val queries = clustered.filter($"cid" < 6).select($"cid".as("qid"), $"embedding")
    val out = Pq.ivfAdcResidualTopK(queries, "qid", ivf, codes, "cid", cb,
        k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty && out.length == 6 * 3)
    // rank-1 hit is the query itself at ad2 == 0 (its residual IS a
    // codebook entry for cid <= 8, so reconstruction is exact)
    val top1 = out.filter(_._4 == 1L)
    assert(top1.forall(t => t._2 == t._1 && t._3 == 0.0))
    // every hit stays in the query's own cluster at nProbe covering all
    assert(out.forall(t => t._2 % 3 == t._1 % 3))
  }

  test("PqCodebook save/load round-trips exactly; loaded codebook encodes identically") {
    val cb = Pq.fit(clustered, m = 2, k = 3, seed = 7L)
    val dir = tempDir("graft-pq-").toString
    try {
      Pq.save(cb, spark, dir)
      val cb2 = Pq.loadCodebook(spark, dir)
      assert(cb2.m == cb.m && cb2.k == cb.k && cb2.subDim == cb.subDim)
      for (j <- 0 until cb.m; c <- 0 until cb.k)
        assert(cb2.centroids(j)(c).toSeq == cb.centroids(j)(c).toSeq)
      val a = Pq.encode(clustered, "cid", "embedding", cb)
        .orderBy("cid").collect().map(_.getSeq[Int](1).toSeq).toSeq
      val b = Pq.encode(clustered, "cid", "embedding", cb2)
        .orderBy("cid").collect().map(_.getSeq[Int](1).toSeq).toSeq
      assert(a == b)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
