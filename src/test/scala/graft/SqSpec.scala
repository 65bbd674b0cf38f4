package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sq, Vectors}

/** Scalar quantization (SQ8): exact fit, bounded reconstruction error,
  * byte-packing round trip, and ranking sanity on separated clusters. */
class SqSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("id", "embedding")

  test("fit is the exact per-dimension min/max; constant dim spans 0") {
    val df = vecs(Seq(
      (1L, Seq(0.0f, -2.0f, 7.0f)),
      (2L, Seq(1.0f, 3.0f, 7.0f)),
      (3L, Seq(0.5f, 0.0f, 7.0f))))
    val p = Sq.fit(df)
    assert(p.mins.toSeq == Seq(0.0, -2.0, 7.0))
    assert(p.maxs.toSeq == Seq(1.0, 3.0, 7.0))
    assert(p.spans.toSeq == Seq(1.0, 5.0, 0.0))
  }

  test("encode clamps to [0,255]; constant dimension encodes to 0") {
    val df = vecs(Seq((1L, Seq(0.0f, 5.0f)), (2L, Seq(10.0f, 5.0f))))
    val p = Sq.fit(df)
    val codes = Sq.encode(df, "id", "embedding", p)
      .orderBy("id").collect().map(_.getSeq[Int](1).toSeq)
    assert(codes(0) == Seq(0, 0))
    assert(codes(1) == Seq(255, 0))
  }

  test("decode(encode(x)) reconstruction error is within half a cell") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 10f - 5f)))
    val df = vecs(rows)
    val p = Sq.fit(df)
    val rec = df.select(col("id"),
        col("embedding").cast("array<double>").as("x"),
        p.decodeExpr(p.encodeExpr(col("embedding"))).as("xr"))
      .collect()
    rec.foreach { r =>
      val x = r.getSeq[Double](1); val xr = r.getSeq[Double](2)
      x.indices.foreach { i =>
        val halfCell = p.spans(i) / 255.0 / 2.0
        assert(math.abs(x(i) - xr(i)) <= halfCell + 1e-9,
          s"dim $i: ${x(i)} vs ${xr(i)} (half-cell $halfCell)")
      }
    }
  }

  test("toBytes/fromBytes round-trips every code 0..255") {
    val df = Seq((1L, (0 until 256).toList)).toDF("id", "codes")
    val back = df.select(Sq.fromBytes(Sq.toBytes(col("codes"))).as("c"))
      .head().getSeq[Int](0)
    assert(back.toList == (0 until 256).toList)
  }

  test("topK over codes recalls the true cluster on separated data") {
    // two tight clusters far apart: SQ distortion cannot flip the ranking
    val rnd = new scala.util.Random(11)
    def around(base: Float) = Seq.fill(8)(base + rnd.nextFloat() * 0.1f)
    val corpus = (0L until 10L).map(i =>
      (i, if (i < 5) around(0f) else around(100f)))
    val queries = Seq((100L, around(0f)), (101L, around(100f)))
    val p = Sq.fit(vecs(corpus), "embedding")
    val codes = Sq.encode(vecs(corpus), "id", "embedding", p)
      .withColumnRenamed("id", "cid")
    val top = Sq.topK(vecs(queries).withColumnRenamed("id", "qid"), "qid",
        codes, "cid", p, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(top(100L).map(_._2).toSet == (0L until 5L).toSet)
    assert(top(101L).map(_._2).toSet == (5L until 10L).toSet)
  }

  test("topK distances equal brute-force squared L2 over decoded vectors") {
    val rnd = new scala.util.Random(3)
    val corpus = (0L until 20L).map(i => (i, Seq.fill(6)(rnd.nextFloat())))
    val queries = Seq((50L, Seq.fill(6)(rnd.nextFloat())))
    val p = Sq.fit(vecs(corpus), "embedding")
    val codes = Sq.encode(vecs(corpus), "id", "embedding", p)
      .withColumnRenamed("id", "cid")
    val got = Sq.topK(vecs(queries).withColumnRenamed("id", "qid"), "qid",
        codes, "cid", p, k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // reference: decode codes on the driver, exact squared L2, same rounding
    val q = queries.head._2.map(_.toDouble)
    val ref = corpus.map { case (cid, v) =>
      val dec = v.indices.map { i =>
        val code =
          if (p.spans(i) == 0) 0
          else math.min(255L, math.max(0L,
            math.floor((v(i).toDouble - p.mins(i)) / p.spans(i) * 255).toLong)).toInt
        p.mins(i) + (code + 0.5) * p.spans(i) / 255
      }
      val d2 = q.indices.foldLeft(0.0)((a, i) =>
        a + (q(i) - dec(i)) * (q(i) - dec(i)))
      (cid, BigDecimal(d2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(x => (x._2, x._1)).take(3)
    assert(got == ref)
  }

  test("JL projection matrix is a deterministic ±1 Rademacher sketch") {
    val a = Vectors.projectionMatrix(64, 16)
    val b = Vectors.projectionMatrix(64, 16)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 16 && a.forall(_.length == 64))
    assert(a.flatten.forall(x => x == 1.0 || x == -1.0))
    val c = Vectors.projectionMatrix(64, 16, seed = 7L)
    assert(a.map(_.toSeq).toSeq != c.map(_.toSeq).toSeq)
  }

  test("projectExpr computes the exact matrix-vector product") {
    val mat = Array(Array(1.0, -1.0, 1.0), Array(-1.0, -1.0, 1.0))
    val df = Seq((1L, Seq(2.0f, 3.0f, 5.0f))).toDF("id", "embedding")
    val p = df.select(Vectors.projectExpr(col("embedding"), mat).as("p"))
      .head().getSeq[Double](0)
    assert(p == Seq(2.0 - 3.0 + 5.0, -2.0 - 3.0 + 5.0))
  }

  test("rpTopK recalls separated clusters in the sketched space") {
    // cosine clusters must differ in DIRECTION: support on the first vs
    // the last 32 coordinates (cross-cluster cosine ~0, within ~1)
    val rnd = new scala.util.Random(5)
    def lo() = Seq.fill(32)(1f + rnd.nextFloat()) ++ Seq.fill(32)(0f)
    def hi() = Seq.fill(32)(0f) ++ Seq.fill(32)(1f + rnd.nextFloat())
    val corpus = (0L until 10L).map(i =>
      (i, if (i < 5) lo() else hi())).toDF("cid", "embedding")
    val queries = Seq((100L, lo()), (101L, hi()))
      .toDF("qid", "embedding")
    val top = Vectors.rpTopK(queries, corpus, k = 5, dOut = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(top(100L).map(_._2).toSet == (0L until 5L).toSet)
    assert(top(101L).map(_._2).toSet == (5L until 10L).toSet)
  }

  test("SqParams save/load round-trips exactly; loaded params encode identically") {
    val df = vecs(Seq(
      (1L, Seq(0.0f, -2.0f, 7.0f)),
      (2L, Seq(1.0f, 3.0f, 7.0f))))
    val p = Sq.fit(df)
    val dir = tempDir("graft-sq-").toString
    try {
      Sq.save(p, spark, dir)
      val p2 = Sq.loadParams(spark, dir)
      assert(p2.mins.toSeq == p.mins.toSeq && p2.maxs.toSeq == p.maxs.toSeq)
      val a = Sq.encode(df, "id", "embedding", p)
        .orderBy("id").collect().map(_.getSeq[Int](1).toSeq).toSeq
      val b = Sq.encode(df, "id", "embedding", p2)
        .orderBy("id").collect().map(_.getSeq[Int](1).toSeq).toSeq
      assert(a == b)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
