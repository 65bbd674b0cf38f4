package graft

import org.apache.spark.sql.functions._
import graft.core.ColumnRoles
import graft.prep.{CasprFeaturizer, FeaturizerConfig}

/** FIXTURES.md §3 edge cases: empty role kinds, single-event entities,
  * empty windows, all-null date behavior. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(rows: Seq[(Long, String, String, Double)]) =
    rows.map { case (u, ts, et, v) =>
      (u, java.sql.Timestamp.valueOf(ts), et, v)
    }.toDF("user_id", "ts", "event_type", "value")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
      .withColumn("event_id", monotonically_increasing_id())

  private val base = Seq(
    (1L, "2024-01-20 10:00:00", "a", 1.0),
    (1L, "2024-01-21 10:00:00", "b", 2.0),
    (2L, "2024-01-25 10:00:00", "a", 3.0))

  test("dedup/text edge cases: empty pair graph, short and empty docs") {
    import spark.implicits._
    // empty pair input -> empty groups, no iteration blow-up
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.ops.Dedup.dedupGroups(noPairs).count() == 0)
    // docs shorter than n produce no shingles but still score
    val tiny = Seq((1L, "two words"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.shingles(tiny, "text", "doc_id", 3).count() == 1) // only doc 3
    val rep = graft.ops.Text.repetitionScore(tiny, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep(1L).getLong(1) == 0 && rep(1L).getDouble(3) == 0.0)
    assert(rep(2L).getLong(1) == 0 && rep(2L).getDouble(3) == 0.0)
    assert(rep(3L).getLong(1) == 1 && rep(3L).getLong(2) == 1)
  }

  test("SMOTE-NC edge cases: balanced input unchanged; singleton class replicates") {
    import spark.implicits._
    // already balanced -> no synthesis, output == input (same rows)
    val bal = Seq(("a", 1.0, 0), ("b", 2.0, 0), ("a", 3.0, 1), ("b", 4.0, 1))
      .toDF("seg", "x", "y")
    val outBal = graft.prep.Sampling.smoteNC(bal, "y", Seq("seg"), Seq("x"))
    assert(outBal.count() == 4)
    assert(outBal.collect().map(_.toSeq).toSet ==
      bal.collect().map(_.toSeq).toSet)
    // a single-row minority has no neighbors -> replication, exact top-up
    val single = (Seq.tabulate(5)(i => ("m", i * 1.0, 0)) :+ (("only", 9.0, 1)))
      .toDF("seg", "x", "y")
    val outSingle = graft.prep.Sampling.smoteNC(single, "y", Seq("seg"), Seq("x"))
    val minority = outSingle.filter(col("y") === 1).collect()
    assert(minority.length == 5)
    assert(minority.forall(r => r.getString(0) == "only" && r.getDouble(1) == 9.0))
  }

  test("multi-probe LSH with nProbe=1 equals the single-bucket search") {
    import spark.implicits._
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
    val c = e.filter($"vec_id" >= 10).select($"vec_id".as("cid"), $"embedding")
    val one = graft.ops.Vectors.lshTopK(q, c, 3, nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dflt = graft.ops.Vectors.lshTopK(q, c, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(one == dflt)
  }

  test("roles with zero seq cat columns (cont-only sequences)") {
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Nil, Seq("value"), Seq("value", "ts"), Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 3, historyDays = 21,
      tiebreak = Seq("event_id"))
    val wide = CasprFeaturizer.fit(mkEvents(base), cfg).transform(mkEvents(base))
    assert(wide.count() == 2)
    assert(wide.columns.toSet ==
      Set("user_id") ++ (1 to 3).flatMap(t => Seq(s"value_$t", s"ts_days_$t")))
  }

  test("roles with zero cont columns (cat-only sequences)") {
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Nil, Seq("event_type"), Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 2, historyDays = 21,
      tiebreak = Seq("event_id"))
    val wide = CasprFeaturizer.fit(mkEvents(base), cfg).transform(mkEvents(base))
    assert(wide.count() == 2)
    // user 2 has one event: slot 2 imputed to UNK=0
    val u2 = wide.filter($"user_id" === 2).head()
    assert(u2.getLong(wide.columns.indexOf("event_type_2")) == 0L)
  }

  test("single-event entity right-pads; empty window yields empty output") {
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value"), Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 3, historyDays = 21,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(mkEvents(base), cfg)
    val wide = model.transform(mkEvents(base))
    val u2 = wide.filter($"user_id" === 2).head()
    assert(u2.getLong(wide.columns.indexOf("event_type_1")) > 0)
    assert(u2.getLong(wide.columns.indexOf("event_type_2")) == 0) // padded
    // events entirely outside the window -> no entities
    val stale = mkEvents(Seq((9L, "2023-06-01 00:00:00", "a", 1.0)))
    assert(model.transform(stale).count() == 0)
  }

  test("unseen categories at apply time map to UNK=0 end to end") {
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value"), Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 2, historyDays = 21,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(mkEvents(base), cfg)
    val novel = mkEvents(Seq((7L, "2024-01-26 12:00:00", "NEVER_SEEN", 1.0)))
    val wide = model.transform(novel)
    assert(wide.head().getLong(wide.columns.indexOf("event_type_1")) == 0L)
  }

  test("composite entity key: ranks and pivot group on both columns") {
    val df = Seq(
      (1L, "x", "2024-01-20 10:00:00", "a", 1.0),
      (1L, "x", "2024-01-21 10:00:00", "b", 2.0),
      (1L, "y", "2024-01-22 10:00:00", "a", 3.0))
      .map { case (u, r, ts, et, v) =>
        (u, r, java.sql.Timestamp.valueOf(ts), et, v)
      }.toDF("user_id", "region", "ts", "event_type", "value")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
      .withColumn("event_id", monotonically_increasing_id())
    val roles = ColumnRoles(Seq("user_id", "region"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value"), Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 2, historyDays = 21,
      tiebreak = Seq("event_id"))
    val wide = CasprFeaturizer.fit(df, cfg).transform(df)
    assert(wide.count() == 2) // (1,x) and (1,y)
    val xRow = wide.filter($"region" === "x").head()
    assert(xRow.getLong(wide.columns.indexOf("event_type_2")) > 0) // 2 events
    val yRow = wide.filter($"region" === "y").head()
    assert(yRow.getLong(wide.columns.indexOf("event_type_2")) == 0) // padded
  }

  test("admission edge cases: empty batch, empty index, sub-n-token docs") {
    import graft.ops.Dedup
    val docs = Seq((1L, "the quick brown fox jumps over it"),
      (2L, "tiny")).toDF("doc_id", "text")
    val empty = docs.filter($"doc_id" < 0)
    val idx = Dedup.minhashBandIndex(docs, "text", "doc_id", 3, 16, 4)
    // empty batch -> empty verdicts; empty index -> every batch doc novel
    assert(Dedup.admitNearDups(empty, idx, "text", "doc_id", 3, 16, 4, 0.4).count() == 0)
    val emptyIdx = Dedup.minhashBandIndex(empty, "text", "doc_id", 3, 16, 4)
    val allNovel = Dedup.admitNearDups(docs, emptyIdx, "text", "doc_id", 3, 16, 4, 0.4)
      .collect()
    assert(allNovel.length == 2 && allNovel.forall(!_.getBoolean(1)))
    // a doc too short to shingle ("tiny") is novel, never an error — in
    // the aggregation path AND the packed path
    val packed = Dedup.packedAdmitIndex(idx, "doc_id")
    val viaPacked = Dedup.admitNearDupsPacked(docs, packed, "text", "doc_id",
      3, 16, 4, 0.4).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaPacked(1L) && !viaPacked(2L)) // 1 is in the index; tiny is not dup
  }

  test("corpusDiff with an empty side; epochShuffle with one epoch") {
    import graft.ops.{Dedup, Text}
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val none = docs.filter($"doc_id" < 0)
    val gone = Dedup.corpusDiff(docs, none, "text", "doc_id").collect()
    assert(gone.length == 2 && gone.forall(_.getString(1) == "removed"))
    val born = Dedup.corpusDiff(none, docs, "text", "doc_id").collect()
    assert(born.length == 2 && born.forall(_.getString(1) == "added"))
    val one = Text.epochShuffle(docs, "doc_id", epochs = 1, nShards = 1).collect()
    assert(one.length == 2 && one.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0))
  }

  test("round-16 operator edge cases: empty inputs, blanks, degenerate groups") {
    import graft.ops.{Dedup, Profile, Select, Text, Urls, Vectors}
    import spark.implicits._
    // blocklist: empty corpus flows through; blank-phrase dict rejected
    val emptyHosts = Seq.empty[(Long, String)].toDF("id", "host")
    assert(Urls.blocklistFlag(emptyHosts, "host", Seq("x.com")).count() == 0)
    intercept[IllegalArgumentException] {
      Text.keywordTag(Seq((1L, "a")).toDF("id", "t"), "t", "id", Seq("  "))
    }
    // truncateMiddle: empty text -> zero tokens, not truncated
    val tr = Text.truncateMiddle(Seq((1L, ""), (2L, "   ")).toDF("id", "t"),
      "t", "id", 2, 2).collect().map(r => (r.getString(1), r.getLong(2), r.getBoolean(4)))
    assert(tr.forall { case (txt, n, flag) => txt == "" && n == 0 && !flag })
    // temperatureMix: single source gets share = q = boost = 1
    val one = Select.temperatureMix(Seq(("s", 10L)).toDF("k", "tok"), "k", "tok", 0.5)
      .collect()(0)
    assert(one.getDouble(2) == 1.0 && one.getDouble(3) == 1.0 && one.getDouble(4) == 1.0)
    // groupEntropy on an empty frame is empty, not an error
    assert(Profile.groupEntropy(Seq.empty[(String, String)].toDF("g", "c"),
      Seq("g"), "c").count() == 0)
    // icpOrder: singleton corpus = one chain head
    val solo = Vectors.icpOrder(Seq((5L, Seq(1f, 2f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").collect()
    assert(solo.length == 1 && solo(0).getLong(2) == 1L && solo(0).getDouble(3) == 0.0)
    // clusterSafeSplit with an empty group table = plain hash split
    val noGroups = Seq.empty[(Long, Long)].toDF("doc_id", "canonical_id")
    val split = Dedup.clusterSafeSplit((1L to 4L).toDF("doc_id"), noGroups,
      "doc_id", Seq("a" -> 0.5, "b" -> 0.5))
    assert(split.count() == 4)
  }

  test("objective-transform edge cases: empty/short docs, string ids, degenerate params") {
    import graft.ops.{Dedup, Text}
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one"), (4L, "one two"),
      (5L, "exactly three tokens")).toDF("doc_id", "text")
    // winnowing: nothing hashable below k tokens; k=1 fingerprints everything non-empty
    assert(Text.winnowFingerprints(docs, "text", "doc_id", k = 4, w = 4).count() == 0)
    assert(Text.winnowFingerprints(docs, "text", "doc_id", k = 1, w = 1)
      .select("doc_id").distinct().count() == 3)
    // FIM: < 3 tokens always passes through, even at rate 1
    val fim = Text.fimTransform(docs, "text", "doc_id", rate = 1.0).collect()
    assert(fim.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == Set(5L))
    assert(fim.filter(_.getLong(0) == 1L).head.getString(1) == "")
    // span corruption: below one block nothing masks; text survives verbatim
    val sc = Text.spanCorrupt(docs, "text", "doc_id").collect()
    assert(sc.forall(_.getLong(5) == 0L) && sc.forall(_.getString(2) == ""))
    assert(sc.filter(_.getLong(0) == 5L).head.getString(1) == "exactly three tokens")
    // string doc ids flow through hashing + pairing untouched
    val sdocs = Seq(("doc/a", "alpha bravo charlie delta echo foxtrot golf hotel"),
      ("doc/b", "alpha bravo charlie delta echo foxtrot golf hotel"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(sdocs, "text", "doc_id", minShared = 1).collect()
    assert(pairs.length == 1 && pairs.head.getString(0) == "doc/a" &&
      pairs.head.getDouble(3) == 1.0)
    assert(Text.fimTransform(sdocs, "text", "doc_id", rate = 1.0)
      .filter(col("fim_applied")).count() == 2)
  }

  test("sftTokenSpans: empty assistant content spans zero tokens after its header") {
    import graft.ops.Chat
    val js = """[{"role":"user","content":"hello there"},{"role":"assistant","content":""}]"""
    val df = Seq((1L, js)).toDF("id", "conv")
    val rows = Chat.sftTokenSpans(df, "conv", "id").orderBy("turn_idx").collect()
    assert(rows.length == 2)
    // "<|assistant|>" with empty content is one whitespace token
    assert(rows(1).getLong(4) - rows(1).getLong(3) == 1L)
    assert(rows(1).getBoolean(5))
  }

  test("profile scoring: empty input and all-null c_acctbal take the constant-column branch") {
    val raw = (t: String) => spark.read.parquet(s"$sf/$t.parquet")
    val empty = java.nio.file.Files.createTempDirectory("graft-empty").toString
    Seq("events", "customer").foreach(t => raw(t).limit(0).write.parquet(s"$empty/$t.parquet"))
    assert(SparkEntry.queries("q_score_embeddings")(spark, empty).count() == 0)
    val noBal = java.nio.file.Files.createTempDirectory("graft-nobal").toString
    raw("events").write.parquet(s"$noBal/events.parquet")
    raw("customer").withColumn("c_acctbal", lit(null).cast("double"))
      .write.parquet(s"$noBal/customer.parquet")
    assert(SparkEntry.queries("q_score_embeddings")(spark, noBal).count() > 0)
  }
}
