package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Layout}

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: exact Morton interleave on hand-computed points") {
    // identity scaling (values already span 0..3 at bits=2)
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
    val z = pts.select($"x", $"y",
        Layout.zValue(Seq("x", "y"), Seq(0L, 0L), Seq(3L, 3L), bits = 2).as("zv"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((0L, 0L)) == 0L)
    assert(z((1L, 0L)) == 1L)   // x bit 0 -> position 0
    assert(z((0L, 1L)) == 2L)   // y bit 0 -> position 1
    assert(z((1L, 1L)) == 3L)
    assert(z((3L, 3L)) == 15L)
    assert(z((2L, 1L)) == 6L)   // x=10b -> pos2, y=01b -> pos1
  }

  test("zorderBy: partitions bound BOTH dims tighter than a 1-column sort") {
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    // per-partition [min,max] of y — what parquet row-group stats would
    // record, i.e. what a filter on y can prune against
    def ySpans(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.withColumn("p", spark_partition_id())
        .groupBy("p").agg(min($"y").as("lo"), max($"y").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val zS = ySpans(Layout.zorderBy(grid, Seq("x", "y"), nPartitions = 4, bits = 4))
    val lexS = ySpans(grid.repartitionByRange(4, $"x").sortWithinPartitions("x"))
    // x-sorted layout: EVERY partition spans all of y -> a y-predicate
    // prunes nothing; z-order: quadrant-compact partitions -> y < 4
    // skips every partition whose y-min is above it
    assert(lexS.count { case (lo, hi) => hi < 4 || lo >= 4 } == 0)
    val zPrunable = zS.count { case (lo, _) => lo >= 4 }
    assert(zPrunable >= zS.size / 2, s"z-order y-spans not prunable: $zS")
    assert(zS.map { case (lo, hi) => hi - lo }.max < 15,
      s"z-order partitions must not span all of y: $zS")
  }

  test("saltedJoin: identical rows to the plain join; salt splits a hot key") {
    import graft.ops.Skew
    // 90% of left rows share one hot key
    val left = (1 to 200).map(i => (if (i <= 180) 1L else i.toLong, i.toLong))
      .toDF("k", "row_id")
    val right = Seq((1L, "hot"), (20L, "cold"), (190L, "cold2"))
      .toDF("k", "tag")
    val plain = left.join(right, left("k") === right("k"))
      .select($"row_id", $"tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(left, right, "k", nSalts = 8,
      saltBy = Seq("row_id"))
      .select($"row_id", $"tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain && plain.size == 181) // 180 hot + 1 cold match
    // the hot key's rows really spread over several salt buckets
    val buckets = left.filter($"k" === 1L)
      .select(pmod(xxhash64($"row_id"), lit(8L))).distinct().count()
    assert(buckets >= 4, s"expected spread over salts, got $buckets")
  }

  test("compactTo coalesces a many-file corpus without losing rows") {
    import graft.sources.CorpusIo
    val dir = tempDir("graft-compact").toFile.getAbsolutePath
    val docs = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    docs.repartition(16).write.parquet(s"$dir/in")
    assert(spark.read.parquet(s"$dir/in").inputFiles.length == 16)
    val nOut = CorpusIo.compactTo(spark, s"$dir/in", s"$dir/out",
      targetRecordsPerFile = 50L)
    assert(nOut == 2)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 100 &&
      back.agg(sum($"doc_id")).as[Long].head() == 5050L)
  }

  test("dedupIncremental admits only unseen content, canonical within batch") {
    val existing = Seq((1L, "alpha text", "web"), (2L, "beta text", "web"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (10L, "beta text", "web"),     // dup of existing -> dropped
      (11L, "gamma text", "web"),    // new, canonical
      (12L, "gamma text", "books"),  // intra-batch dup -> dropped
      (13L, "delta text", "web")     // new
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupIncremental(batch, "text", "doc_id",
        Dedup.hashIndex(existing, "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L, 13L))
  }
}
