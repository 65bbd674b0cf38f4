package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.CorpusIo

class CorpusIoSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  test("jsonl ingest: good lines parse, broken lines quarantine, drift nulls") {
    val dir = tempDir("graft-jsonl").toFile
    val f = new java.io.File(dir, "part0.jsonl")
    Files.writeString(f.toPath,
      """{"doc_id": 1, "text": "hello world", "source": "web"}
        |{"doc_id": 2, "text": "second doc", "source": "books"}
        |{"doc_id": 3, "source": "web"}
        |this line is not json at all {{{
        |{"doc_id": "not-a-number", "text": "bad type", "source": "web"}
        |""".stripMargin)
    val r = CorpusIo.readJsonl(spark, f.getAbsolutePath, docSchema)
    val good = r.good.collect().map(x => (x.get(0), x.get(1), x.get(2)))
    assert(good.length == 3)
    assert(good.contains((1L, "hello world", "web")))
    assert(good.contains((3L, null, "web")))           // missing field -> null
    assert(r.good.columns.toSeq == Seq("doc_id", "text", "source"))
    val bad = r.bad.collect().map(_.getString(0))
    assert(bad.length == 2)                            // broken + bad-type
    assert(bad.exists(_.contains("not json at all")))
  }

  test("bucketed tables: co-located join and keyed agg plan ZERO exchanges") {
    import spark.implicits._
    import graft.sources.Bucketed
    val feats = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("uid", "feat")
    val labels = (1 to 100).map(i => (i.toLong, i % 2)).toDF("uid", "label")
    // force the big-join planning path (tiny fixtures would broadcast) and
    // freeze the static plan (AQE wrapper hides the subtree)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Bucketed.writeBucketed(feats, "bk_feats", Seq("uid"), 4, Seq("uid"))
      Bucketed.writeBucketed(labels, "bk_labels", Seq("uid"), 4, Seq("uid"))
      val joined = Bucketed.readTable(spark, "bk_feats")
        .join(Bucketed.readTable(spark, "bk_labels"), "uid")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 100)
      val agg = Bucketed.readTable(spark, "bk_feats").groupBy($"uid")
        .agg(sum($"feat"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "keyed agg over a bucketed table must not shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS bk_feats")
      spark.sql("DROP TABLE IF EXISTS bk_labels")
    }
  }

  test("partitioned corpus write: round trip + partition pruning in the scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "web", "train"), (2L, "b", "web", "test"),
      (3L, "c", "books", "train"), (4L, "d", "books", "train")
    ).toDF("doc_id", "text", "source", "split")
    val dir = tempDir("graft-corpus").toFile.getAbsolutePath
    val path = CorpusIo.writeCorpus(docs, s"$dir/corpus",
      partitionCols = Seq("source", "split"))
    val back = CorpusIo.readCorpus(spark, path)
    assert(back.count() == 4)
    assert(back.select(sum($"doc_id")).as[Long].head() == 10L)

    val pruned = back.filter($"source" === "web" && $"split" === "train")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      (scan.contains("isnotnull(source") || scan.contains("source#")),
      s"expected partition filters in scan:\n$scan")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // pruning really skipped files: only the one matching partition dir read
    val files = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files).length
    }.sum
    assert(files == 1, s"expected 1 file after pruning, got $files")
  }
  test("jsonFieldCoverage: per-key coverage over ALL rows, invalid rows count in the denominator") {
    import spark.implicits._
    val df = Seq(
      """{"a": 1, "b": 2}""", """{"a": 3}""", """not json""", """{"b": 4}"""
    ).toDF("js")
    val cov = CorpusIo.jsonFieldCoverage(df, "js")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(cov == Map("a" -> ((2L, 0.5)), "b" -> ((2L, 0.5))))
  }

  test("warc round-trip: bodies with blank lines and empties survive; malformed records null out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain body", "web"),
      (2L, "multi\n\nparagraph\n\nbody", "web"), // blank lines INSIDE a body:
      // only the Content-Length cut (not a blank-line search) keeps it whole
      (3L, "", "books"),
      (4L, "trailing spaces  ", "books"),
      // non-ASCII payload: Content-Length is BYTES (привет = 12 bytes,
      // 6 chars) and the byte-offset cut must not over-read into the
      // record trailer
      (5L, "привет мир — ok", "web")
    ).toDF("doc_id", "text", "source")
    val dir = tempDir("graft-warc").toString
    val uri = concat(lit("http://x/"), col("source"), lit("/"), col("doc_id"))
    graft.sources.Warc.write(docs, "doc_id", "text", uri, dir)
    val back = graft.sources.Warc.read(spark, dir)
      .select(regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
        .cast("long").as("doc_id"), col("target_uri"),
        col("content_length"), col("body"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(back(1L) == (("http://x/web/1", 10L, "plain body")))
    assert(back(2L) == (("http://x/web/2", 22L, "multi\n\nparagraph\n\nbody")))
    assert(back(3L) == (("http://x/books/3", 0L, "")))
    assert(back(4L) == (("http://x/books/4", 17L, "trailing spaces  ")))
    val nonAscii = "привет мир — ok"
    assert(back(5L) == (("http://x/web/5",
      nonAscii.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong,
      nonAscii)))
    // malformed record (no headers at all) parses to null fields, no throw
    val badDir = tempDir("graft-warc-bad").toString
    Seq("WARC/1.0\r\ngarbage with no headers").toDF("value")
      .write.mode("overwrite").text(badDir)
    val bad = graft.sources.Warc.read(spark, badDir).collect()
    assert(bad.length == 1 && bad.head.isNullAt(0) && bad.head.isNullAt(2))
  }

  test("pairRecall: order-canonicalized, de-duplicated, exact counts") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    // cand: one hit emitted BOTH ways + duplicated, one false positive
    val cand = Seq((2L, 1L), (1L, 2L), (4L, 3L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val r = graft.ops.Dedup.pairRecall(cand, truth).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-6)
    assert(math.abs(r.getDouble(4) - 2.0 / 3) < 1e-6)
    // a perfect generator grades 1.0 / 1.0
    val perfect = graft.ops.Dedup.pairRecall(truth, truth).head()
    assert(perfect.getDouble(3) == 1.0 && perfect.getDouble(4) == 1.0)
  }
}
