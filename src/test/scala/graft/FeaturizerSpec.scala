package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.core.{ColumnRoles, Tables}
import graft.prep.{CasprFeaturizer, CategoricalEncoding, Encoding, FeaturizerConfig}

/** Pipeline-level contract tests (SURVEY.md §5.2 item 2). */
class FeaturizerSpec extends SparkSpec {

  private lazy val events = Tables.load(spark, sf, "events")
  private lazy val input = events.withColumn("pred_date",
    to_timestamp(lit("2024-02-01 00:00:00")))

  private val roles = ColumnRoles(
    tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
    catCols = Seq("event_type"), contCols = Seq("value"),
    seqCols = Seq("event_type", "value", "ts"), nonSeqCols = Nil,
    dateCols = Seq("ts"))
  private val cfg = FeaturizerConfig(roles, seqLen = 4, historyDays = 21,
    tiebreak = Seq("event_id"))

  test("output: one row per active entity; full wide column set") {
    val model = CasprFeaturizer.fit(input, cfg)
    val wide = model.transform(input)
    val active = input.filter(col("ts") < col("pred_date") &&
      col("ts") > col("pred_date") - expr("INTERVAL 21 DAYS"))
      .select("user_id").distinct().count()
    assert(wide.count() == active)
    val expected = Set("user_id") ++
      (for (c <- Seq("event_type", "value", "ts_days"); t <- 1 to 4) yield s"${c}_$t")
    assert(wide.columns.toSet == expected)
  }

  test("min-max cont features land in [0,1]; cat codes are non-negative") {
    val wide = CasprFeaturizer.fit(input, cfg).transform(input)
    for (t <- 1 to 4) {
      val bad = wide.filter(col(s"value_$t") < 0 || col(s"value_$t") > 1).count()
      assert(bad == 0, s"value_$t outside [0,1]")
      assert(wide.filter(col(s"event_type_$t") < 0).count() == 0)
    }
  }

  test("fit on train, apply to disjoint data reuses train statistics") {
    val train = input.filter(col("user_id") < 10)
    val test = input.filter(col("user_id") >= 10)
    val model = CasprFeaturizer.fit(train, cfg)
    val testWide = model.transform(test)
    // codes on test come from the train-fitted vocabulary
    assert(testWide.count() > 0)
    val trainVocab = model.encodings("event_type").mapping.count()
    assert(trainVocab > 0 && trainVocab <= 5)
  }

  test("entity with more events than seqLen is truncated to newest seqLen") {
    val wide = CasprFeaturizer.fit(input, cfg).transform(input)
    // sf0.001 has ~67 events/user; all 4 slots must be filled (no nulls/fills
    // for a fully active user): every cat slot > 0
    for (t <- 1 to 4)
      assert(wide.filter(col(s"event_type_$t") === 0).count() == 0)
  }

  test("fitted model keeps its fit-time vocabulary when the source table is replaced") {
    val dir = tempDir("graft_fit_source").toString + "/events"
    input.filter(col("user_id") < 10).write.parquet(dir)
    val capped = cfg.copy(maxCardinality = 3)
    val model = CasprFeaturizer.fit(spark.read.parquet(dir), capped)
    // the fit-time (value, code) rows, copied into a model that cannot
    // depend on the table any more
    val mapping = model.encodings("event_type").mapping
    val fitted = spark.createDataFrame(
      java.util.Arrays.asList(mapping.collect(): _*), mapping.schema)
    val pinned = model.copy(encodings = Map("event_type" -> CategoricalEncoding("event_type", fitted)))
    // overwrite the table with a fresh log whose frequencies rank differently
    input.filter(col("user_id") >= 10).write.mode("overwrite").parquet(dir)
    val fresh = spark.read.parquet(dir)
    val refit = CasprFeaturizer.fit(fresh, capped).encodings("event_type").mapping.collect().toSet
    assert(refit != fitted.collect().toSet, "the fresh log must rank its values differently")
    val got = model.transform(fresh).collect().toSet
    assert(got.nonEmpty && got == pinned.transform(fresh).collect().toSet)

    // a saved and re-loaded model holds its vocabularies as rows too
    val saved = tempDir("graft_fit_saved").toString
    graft.ml.Persist.saveFeaturizer(model, saved)
    val loaded = graft.ml.Persist.loadFeaturizer(spark, saved, capped)
    assert(loaded.cardinalities == model.cardinalities && model.cardinalities("event_type") == 3)
    new scala.reflect.io.Directory(new java.io.File(saved)).deleteRecursively()
    assert(loaded.transform(fresh).collect().toSet == got)
  }

  test("one-pass vocabularies equal Encoding.fit per column, capped or not") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-20 00:00:00")
    // s: strings with a count tie (b, c: 3 each) and a null; i: integers
    // with ties and a null; one: a single value; d: doubles with both
    // zeros and a NaN, which the join-based apply matches by value
    val s = Seq("a", "a", "a", "a", "b", "b", "b", "c", "c", "c", "d", null)
    val i = Seq(7, 7, 3, 3, 9, 9, 9, 1, 5, 5, 2, 2).map(Option(_)).updated(11, None)
    val d = Seq(0.0, -0.0, 0.0, Double.NaN, Double.NaN, 1.5, 1.5, 1.5, 2.5, 2.5, 0.0, -0.0)
    val rows = s.indices.map(k => (k.toLong % 3, k.toLong, t0, s(k), i(k), "x", d(k), k.toDouble))
    val df = rows.toDF("user_id", "event_id", "ts", "s", "i", "one", "d", "v")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
    val cats = Seq("s", "i", "one", "d")
    val r = ColumnRoles(tgtId = Seq("user_id"), activityDate = "ts",
      predictionDate = "pred_date", catCols = cats, contCols = Seq("v"),
      seqCols = cats ++ Seq("v", "ts"), nonSeqCols = Nil, dateCols = Seq("ts"))
    for (cap <- Seq(2, 3, 100)) {
      val model = CasprFeaturizer.fit(df, FeaturizerConfig(r, seqLen = 3, historyDays = 21,
        maxCardinality = cap, tiebreak = Seq("event_id")))
      for (c <- cats) {
        val got = model.encodings(c).mapping.collect().toSeq
        val want = Encoding.fit(df, c, cap).mapping.collect().toSeq
        assert(got.sortBy(_.getInt(1)) == want.sortBy(_.getInt(1)), s"$c cap $cap")
        assert(got.size <= cap && model.cardinalities(c) == got.size, s"$c cap $cap")
        // the lookup codes every row as the broadcast-join apply does
        val applied = Encoding.apply(df, model.encodings(c), "code")
          .select(col("event_id"), col("code")).collect().toSet
        assert(df.select(col("event_id"), model.encodings(c).lookup(col(c)).as("code"))
          .collect().toSet == applied, s"$c cap $cap lookup")
      }
      assert(model.summary.stats("v").max == 11.0)
    }
  }
}
