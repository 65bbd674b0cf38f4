package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream

/** Streaming extension: drive the file stream synchronously on testdata. */
class StreamingSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = tempDir("graft_stream")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming as-of enrichment (packed lookup) matches the batch as-of join") {
    import org.apache.spark.sql.functions._
    val batchEv = graft.core.Tables.load(spark, sf, "events")
    // static dimension history: each user's signup events as state changes
    val dim = batchEv.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("sts"),
        col("event_id").as("state_id"), col("value").as("state_val"))
    def project(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "asof_ts", "state_id")
    val leftCols = Seq("event_id", "user_id", "ts")
    val stream = graft.ops.Temporal.asofLookupJoin(
      EventStream.readEvents(spark, streamDir).select(leftCols.map(col): _*),
      dim, "user_id", "user_id", "ts", "sts", Seq("state_id", "state_val"),
      rightTiebreak = Seq("state_id"))
    val q = project(stream).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("asof_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, asof_ts, state_id FROM asof_stream")
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val want = project(graft.ops.Temporal.asofJoin(
          batchEv.select(leftCols.map(col): _*), dim,
          "user_id", "user_id", "ts", "sts", Seq("state_id", "state_val"),
          rightTiebreak = Seq("state_id")))
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      assert(got == want && got.size == 1000)
      assert(got.exists(_._3.isDefined) && got.exists(_._3.isEmpty))
    } finally q.stop()
  }

  test("streaming corpus mixing: stateless operator emits batch-identical copies") {
    // mixCorpus is one projection + explode with content-derived copy
    // counts — it applies to a streaming DataFrame unchanged, and the
    // mixture is partition/batch-invariant because nothing is RNG-driven
    val dir = tempDir("graft_docs_mix")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val weights = Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 2.5)
    val mixed = graft.ops.Text.mixCorpus(docsStream, "doc_id", "source", weights)
      .select("doc_id", "source", "copy")
    val q = mixed.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mix_stream").start()
    try {
      q.processAllAvailable()
      val batch = graft.ops.Text.mixCorpus(
        graft.core.Tables.load(spark, sf, "documents"), "doc_id", "source", weights)
        .select("doc_id", "source", "copy")
      assert(spark.sql("SELECT * FROM mix_stream").collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet)
    } finally q.stop()
  }

  test("streaming blocklist + truncation: shuffle-free projections run stream-legal, batch-identical") {
    val dir = tempDir("graft_docs_gate")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    import org.apache.spark.sql.functions.{col, concat, lit}
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.truncateMiddle(
        graft.ops.Urls.blocklistFlag(
          df.withColumn("host", concat(col("source"), lit(".example.org"))),
          "host", Seq("src1.example.org", "src3.example.org"))
          .filter(!col("blocked")),
        "text", "doc_id", headTokens = 6, tailTokens = 3)
    val q = gate(docsStream).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate_stream").start()
    try {
      q.processAllAvailable()
      val batch = gate(graft.core.Tables.load(spark, sf, "documents"))
      assert(spark.sql("SELECT * FROM gate_stream").collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet)
      assert(batch.count() > 0)
    } finally q.stop()
  }

  test("stream-static packed ANN equals batch single-probe lshTopK") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_annq_stream")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val e = graft.core.Tables.load(spark, sf, "embeddings")
    val index = graft.ops.Vectors.packedIndex(
      e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")))
    val qStream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
      .parquet(dir.toString)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding"))
    val res = graft.ops.Vectors.packedTopK(qStream, index, k = 3)
    val q = res.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ann_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT qid, cid, cos, rnk FROM ann_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val want = graft.ops.Vectors.lshTopK(
          e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding")),
          e.filter(col("vec_id") >= 20).select(col("vec_id").as("cid"), col("embedding")),
          k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(got.nonEmpty && got == want,
        s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming featurization emits batch-identical wide rows (config grid)") {
    import org.apache.spark.sql.functions._
    import graft.core.{ColumnRoles, Tables}
    import graft.prep.{CasprFeaturizer, FeaturizerConfig}
    import graft.queries.Catalog.{HistoryDays, PredTs}
    val roles = ColumnRoles(
      tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
      catCols = Seq("event_type"), contCols = Seq("value"),
      seqCols = Seq("event_type", "value", "ts"), nonSeqCols = Nil,
      dateCols = Seq("ts"))
    val predTs = java.sql.Timestamp.from(
      java.time.Instant.parse(PredTs.replace(" ", "T") + "Z"))
    // a second event log whose newest in-window event has a null seq cont:
    // the batch keeps its slot and imputes 0.0, and so must the stream
    val nullContDir = {
      val ev = Tables.load(spark, sf, "events")
      val nulled = ev.filter(col("ts") < to_timestamp(lit(PredTs)))
        .orderBy(col("ts").desc, col("event_id").desc).head().getAs[Long]("event_id")
      val stage = tempDir("graft_feat_null_stage")
      ev.drop(Tables.RawTsCol)
        .withColumn("value", when(col("event_id") === nulled, lit(null))
          .otherwise(col("value")))
        .coalesce(1).write.parquet(s"$stage/out")
      val part = Files.list(Paths.get(s"$stage/out")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      val dir = tempDir("graft_feat_null")
      Files.copy(Paths.get(part), dir.resolve("events.parquet"))
      dir.toString
    }
    // default axes AND the other side of every config axis
    // (left-pad, z-score, absolute dates)
    val grid = Seq(
      ("feat_default", FeaturizerConfig(roles, seqLen = 5,
        historyDays = HistoryDays, tiebreak = Seq("event_id"))),
      ("feat_leftz", FeaturizerConfig(roles, seqLen = 5,
        historyDays = HistoryDays, leftPad = true, normMode = "z_score",
        dateMode = "absolute", tiebreak = Seq("event_id"))))
    for ((dir, tag) <- Seq(sf -> "", nullContDir -> "_nullcont");
         (name, cfg) <- grid) {
      val sink = name + tag
      val input = Tables.load(spark, dir, "events")
        .withColumn("pred_date", to_timestamp(lit(PredTs)))
      // fit the featurizer in batch (the reference fit/transform discipline)
      val model = CasprFeaturizer.fit(input, cfg)
      val batchWide = model.transform(input)
      val cols = batchWide.columns.sorted.toSeq
      val eventsDir = if (dir == sf) streamDir else dir
      val stream = EventStream.streamingFeaturize(spark,
        EventStream.readEvents(spark, eventsDir), model, predTs)
      val q = stream.writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
          df.select(cols.map { c =>
            if (df.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
              round(col(c), 9) else col(c)
          }: _*).collect().map(_.toSeq.toIndexedSeq).toSeq
            .sortBy(_.mkString("|"))
        val streamRows = canon(spark.table(sink))
        val batchRows = canon(batchWide)
        assert(streamRows.size == batchRows.size,
          s"$sink row count: stream=${streamRows.size} batch=${batchRows.size}")
        assert(streamRows == batchRows, s"$sink rows diverge")
      } finally q.stop()
    }
  }

  test("streaming inference: featurize -> scorer emits batch-identical embeddings") {
    import org.apache.spark.sql.functions._
    import graft.core.{ColumnRoles, Tables}
    import graft.prep.{CasprFeaturizer, FeaturizerConfig}
    import graft.queries.Catalog.{HistoryDays, PredTs}
    val batchEv = Tables.load(spark, sf, "events")
    val input = batchEv.withColumn("pred_date", to_timestamp(lit(PredTs)))
    val roles = ColumnRoles(
      tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
      catCols = Seq("event_type"), contCols = Seq("value"),
      seqCols = Seq("event_type", "value", "ts"), nonSeqCols = Nil,
      dateCols = Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 5, historyDays = HistoryDays,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(input, cfg)
    val vocab = (model.encodings("event_type").mapping.count() + 1).toInt
    val aeCfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(vocab), nCont = 2)
    val res = graft.train.AeResult(aeCfg, aeCfg.initParams(), Nil, 0)
    // scoring is a projection + mapPartitions with broadcast weights, so
    // the SAME weights transform the batch wide frame and the streaming
    // featurized frame — end-to-end streaming inference
    def score(wide: org.apache.spark.sql.DataFrame) =
      graft.train.TransformerTrainer.transform(wide, res, "user_id",
        Seq((1 to 5).map(t => s"event_type_$t")),
        Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t")))
    val batchEmb = score(model.transform(input))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val predTs = java.sql.Timestamp.from(
      java.time.Instant.parse(PredTs.replace(" ", "T") + "Z"))
    val streamWide = EventStream.streamingFeaturize(spark,
      EventStream.readEvents(spark, streamDir), model, predTs)
    val q = score(streamWide)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stream_emb").start()
    try {
      q.processAllAvailable()
      val streamEmb = spark.table("stream_emb")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      assert(streamEmb.keySet == batchEmb.keySet)
      assert(streamEmb.forall { case (id, e) => e == batchEmb(id) },
        "streaming embeddings diverge from batch")
    } finally q.stop()
  }

  test("objective transforms (FIM, span corruption, winnowing) are stateless: streaming equals batch") {
    import graft.ops.Text
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_obj_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val sFim = Text.fimTransform(docsStream, "text", "doc_id", rate = 0.5)
    val sSpan = Text.spanCorrupt(docsStream, "text", "doc_id")
    val sWin = Text.winnowFingerprints(docsStream, "text", "doc_id")
    // sentence-boundary chunking folds inside the row -> stream-legal too
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      regexp_replace(col("text"), "((\\S+\\s+){6}\\S+)\\s+", "$1. "))
    val sSent = Text.chunkSentences(seeded(docsStream), "text", "doc_id", 16)
    val q1 = sFim.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fim_stream").start()
    val q2 = sSpan.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("span_stream").start()
    val q3 = sWin.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("win_stream").start()
    val q4 = sSent.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sent_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      q3.processAllAvailable(); q4.processAllAvailable()
      val batch = graft.core.Tables.load(spark, sf, "documents")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("fim_stream")) ==
        key(Text.fimTransform(batch, "text", "doc_id", rate = 0.5)))
      assert(key(spark.table("span_stream")) ==
        key(Text.spanCorrupt(batch, "text", "doc_id")))
      assert(key(spark.table("win_stream")) ==
        key(Text.winnowFingerprints(batch, "text", "doc_id")))
      assert(key(spark.table("sent_stream")) ==
        key(Text.chunkSentences(seeded(batch), "text", "doc_id", 16)))
      assert(spark.table("fim_stream").count() > 0)
      assert(spark.table("sent_stream").count() > 0)
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop() }
  }

  test("subword tokenizers are stateless projections: streaming equals batch") {
    val dir = tempDir("graft_tok_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val sWp = graft.ops.WordPiece.tokenize(docsStream, "text", "doc_id",
      graft.ops.WordPiece.FixedEnglishVocab)
    val sUlm = graft.ops.Unigram.tokenize(docsStream, "text", "doc_id",
      graft.ops.Unigram.FixedEnglishPieces)
    val q1 = sWp.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wp_stream").start()
    val q2 = sUlm.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ulm_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      val batch = graft.core.Tables.load(spark, sf, "documents")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("wp_stream")) ==
        key(graft.ops.WordPiece.tokenize(batch, "text", "doc_id",
          graft.ops.WordPiece.FixedEnglishVocab)))
      assert(key(spark.table("ulm_stream")) ==
        key(graft.ops.Unigram.tokenize(batch, "text", "doc_id",
          graft.ops.Unigram.FixedEnglishPieces)))
      assert(spark.table("wp_stream").count() > 0)
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming WARC ingest and mojibake/script gates equal their batch twins") {
    import org.apache.spark.sql.functions._
    // write a WARC archive from the fixture, then ingest it as a STREAM
    val batchDocs = graft.core.Tables.load(spark, sf, "documents")
      .withColumn("text", // seed artifacts + scripts so the gates fire
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" donâ€™t Ã©lite")))
          .when(col("doc_id") % 5 === 0, concat(col("text"), lit(" привет 你好")))
          .otherwise(col("text")))
    val warcDir = tempDir("graft_warc_stream").toString
    graft.sources.Warc.write(batchDocs, "doc_id", "text",
      concat(lit("http://x/"), col("doc_id")), warcDir)
    val streamed = graft.sources.Warc.readStream(spark, warcDir)
    // chain the new curation gates onto the streamed records
    val withId = (df: org.apache.spark.sql.DataFrame) => df.select(
      regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
        .cast("long").as("doc_id"), col("body"))
    val sChain = graft.ops.Text.scriptProfile(
      graft.ops.Text.fixMojibake(withId(streamed), "body", "doc_id")
        .withColumnRenamed("fixed_text", "body2"),
      "body2", "doc_id")
    val q = sChain.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("warc_chain_stream").start()
    try {
      q.processAllAvailable()
      val bChain = graft.ops.Text.scriptProfile(
        graft.ops.Text.fixMojibake(
          withId(graft.sources.Warc.read(spark, warcDir)), "body", "doc_id")
          .withColumnRenamed("fixed_text", "body2"),
        "body2", "doc_id")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("warc_chain_stream")) == key(bChain))
      // the seeds actually exercised both gates
      val rows = spark.table("warc_chain_stream")
      assert(rows.filter(col("n_cyrillic") > 0).count() > 0)
      assert(rows.count() == batchDocs.count())
    } finally { q.stop() }
  }

  test("readability and compression gates are stateless: streaming equals batch") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_gate_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      regexp_replace(col("text"), "((\\S+\\s+){6}\\S+)\\s+", "$1. "))
    val sRead = graft.ops.Text.readability(seeded(docsStream), "text", "doc_id")
    val sComp = graft.ops.Text.compressionSignal(docsStream, "text", "doc_id")
    val q1 = sRead.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("read_stream").start()
    val q2 = sComp.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("comp_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      val batch = graft.core.Tables.load(spark, sf, "documents")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toList).toSet
      assert(key(spark.table("read_stream")) ==
        key(graft.ops.Text.readability(seeded(batch), "text", "doc_id")))
      assert(key(spark.table("comp_stream")) ==
        key(graft.ops.Text.compressionSignal(batch, "text", "doc_id")))
      assert(spark.table("read_stream").count() > 0)
    } finally { q1.stop(); q2.stop() }
  }

  test("curation chain (strip -> scrub -> normalize -> gate) is stateless: streaming equals batch") {
    import graft.ops.Text
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_cur_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def chain(df: org.apache.spark.sql.DataFrame) = {
      // page chrome first: the in-row main-content cut is stream-legal too
      val paged = df.withColumn("page",
        concat(lit("<nav><a href=\"/\">Home page</a> <a href=\"/b\">About page</a></nav><div>"),
          col("text"), lit("</div>")))
      val mc = Text.extractMainContent(paged, "page", "doc_id")
      val html = mc.withColumn("html",
        concat(lit("<p>"), col("main_text"), lit("</p><!-- x --><b>&amp;fin</b>")))
      val stripped = Text.stripMarkup(html, "html", "doc_id")
      val scrubbed = Text.scrubPii(stripped, "clean_text", "doc_id")
      val normed = Text.normalizeText(scrubbed, "clean_text", "doc_id")
      // the repetition gate is a stateless narrow projection too —
      // streaming-legal in the same chain, text carried through (no join)
      val gated = Text.gopherRepetition(normed, "clean_text", "doc_id",
          carry = Seq("clean_text"))
        .filter(col("keep"))
      Text.qualityScore(gated, "clean_text", "doc_id", carry = Seq("clean_text"))
        .filter(col("stop_ratio") >= 0.05)
    }
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = chain(docsStream).writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cur_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text FROM cur_stream")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = chain(graft.core.Tables.load(spark, sf, "documents"))
        .select("doc_id", "clean_text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming paragraph Bloom cut: append-legal, equals the batch form") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_para_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = graft.core.Tables.load(spark, sf, "documents")
    // seed a known boilerplate paragraph so the sketch has real hits
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("\n\nshared boilerplate para"))
          .otherwise(lit(""))))
    val index = Dedup.paragraphHashIndex(
      seeded(batchDocs).filter(col("doc_id") < 100), "text")
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = Dedup.dropKnownParagraphsBloom(seeded(docsStream), "text", "doc_id",
        index, expectedItems = 4096, fpp = 0.001)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("para_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text, n_dropped FROM para_stream")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = Dedup.dropKnownParagraphsBloom(seeded(batchDocs), "text", "doc_id",
          index, expectedItems = 4096, fpp = 0.001)
        .select("doc_id", "clean_text", "n_dropped")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == want && got.nonEmpty)
      // the seeded boilerplate is actually cut on streamed docs >= 100
      assert(got.exists { case (id, (_, d)) => id >= 100 && d > 0 })
    } finally q.stop()
  }

  test("streaming chunk Bloom cut: append-legal, equals the batch form") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_chunk_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = graft.core.Tables.load(spark, sf, "documents")
    // a long seeded boilerplate block so interior chunks hit the sketch
    val boiler = " subscribe to our newsletter for updates and offers." +
      " this website uses cookies to improve your experience. all rights" +
      " reserved by the publisher of this content. terms of service apply."
    def seeded(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(boiler)).otherwise(lit(""))))
    val index = Dedup.contentChunkHashIndex(
      seeded(batchDocs).filter(col("doc_id") < 100), "text")
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
    val q = Dedup.dropKnownChunksBloom(seeded(docsStream), "text", "doc_id",
        index, expectedItems = 4096, fpp = 0.001)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunk_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, clean_text, n_dropped FROM chunk_stream")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val want = Dedup.dropKnownChunksBloom(seeded(batchDocs), "text", "doc_id",
          index, expectedItems = 4096, fpp = 0.001)
        .select("doc_id", "clean_text", "n_dropped")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == want && got.nonEmpty)
      // seeded boilerplate chunks are actually cut on streamed docs >= 100
      assert(got.exists { case (id, (_, d)) => id >= 100 && id % 3 == 0 && d > 0 })
    } finally q.stop()
  }

  test("stream-static packed admission equals the batch admission verdicts") {
    import graft.ops.Dedup
    val dir = tempDir("graft_admit_stream")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = graft.core.Tables.load(spark, sf, "documents")
    val corpus = all.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
    val packed = Dedup.packedAdmitIndex(
      Dedup.minhashBandIndex(corpus, "text", "doc_id", 3, 16, 4, fastHash = true),
      "doc_id")
    // the packed index is static; the NEW batch arrives as a stream — the
    // very same operator call, now planned as stream-static left joins
    val docsStream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir.toString)
      .filter("doc_id % 10 = 0")
    val q = Dedup.admitNearDupsPacked(docsStream, packed, "text", "doc_id",
        3, 16, 4, 0.4, fastHash = true)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("admit_stream").start()
    try {
      q.processAllAvailable()
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
      val got = canon(spark.sql("SELECT * FROM admit_stream").collect())
      val want = canon(Dedup.admitNearDupsPacked(
        all.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
        packed, "text", "doc_id", 3, 16, 4, 0.4, fastHash = true).collect())
      assert(got == want && got.exists(_._2))
    } finally q.stop()
  }

  test("replayEval is stream-legal as-is: stream-static policy join + one agg equals the batch row") {
    import org.apache.spark.sql.functions._
    // the batch operator's shape (broadcast ctx-grain policy join into a
    // single aggregate) is ALREADY a legal streaming plan in Complete
    // mode — no twin needed; this pins that contract
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    def derive(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("value").isNotNull)
      .withColumn("ctx", col("user_id") % 10)
      .withColumn("armL",
        conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 4)
    val batchEv = derive(graft.core.Tables.load(spark, sf, "events"))
    val policy = graft.ops.Experiment.greedyPolicy(
      batchEv.filter(col("ts") < cut), "ctx", "armL", "value")
    val out = graft.ops.Experiment.replayEval(
      derive(EventStream.readEvents(spark, streamDir))
        .filter(col("ts") >= cut),
      "ctx", "armL", "value", policy)
    val q = out.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("replay_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("""SELECT n_logged, n_matched, match_rate,
          reward_policy, reward_logged FROM replay_stream""").collect()
      assert(got.length == 1)
      val batch = graft.ops.Experiment.replayEval(
        batchEv.filter(col("ts") >= cut), "ctx", "armL", "value", policy)
        .collect().head
      assert(got.head == batch, s"${got.head} vs $batch")
    } finally q.stop()
  }

  test("drReplay is stream-legal as-is: policy + model ride stream-static broadcasts into one agg") {
    import org.apache.spark.sql.functions._
    // same contract as the replayEval case: the batch shape (two
    // ctx-grain broadcast joins + a single aggregate) is already a
    // legal streaming plan in Complete mode — no twin needed
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    def derive(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("value").isNotNull)
      .withColumn("ctx", col("user_id") % 10)
      .withColumn("armL",
        conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 4)
      .withColumn("prop", lit(0.25))
    val batchEv = derive(graft.core.Tables.load(spark, sf, "events"))
    val pre = batchEv.filter(col("ts") < cut)
    val policy = graft.ops.Experiment.greedyPolicy(pre, "ctx", "armL", "value")
    val model = pre.groupBy(col("ctx"), col("armL").as("arm"))
      .agg(sum(round(col("value") * 1e6).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("ctx"), col("arm"),
        (col("__s").cast("double") / col("__n") / 1e6).as("mu"))
    val out = graft.ops.Experiment.drReplay(
      derive(EventStream.readEvents(spark, streamDir))
        .filter(col("ts") >= cut),
      "ctx", "armL", "value", "prop", policy, model)
    val q = out.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("dr_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("""SELECT n_logged, n_matched, match_rate,
          value_model, value_dr, se FROM dr_stream""").collect()
      assert(got.length == 1)
      val batch = graft.ops.Experiment.drReplay(
        batchEv.filter(col("ts") >= cut), "ctx", "armL", "value", "prop",
        policy, model).collect().head
      assert(got.head == batch, s"${got.head} vs $batch")
    } finally q.stop()
  }
}
