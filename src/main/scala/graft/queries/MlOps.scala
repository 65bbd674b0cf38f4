package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analyze.Segmentation
import graft.core.{ColumnRoles, Tables}
import graft.nn.{AeConfig, LstmAeConfig}
import graft.prep.{CasprFeaturizer, Encoding, FeaturizerConfig}
import graft.train.{AeResult, LinearAutoencoder, LstmTrainer, TrainConfig, TransformerTrainer}
import Catalog.{HistoryDays, LabelDays, PredTs}

/**
 * Model-side surfaces (SURVEY.md §2.I/J/K). Not SQL-expressible, so these
 * carry no DuckDB oracle (driver records rows-only checks); invariants are
 * covered in MlSpec instead. Embedding outputs are projected to
 * deterministic SCALAR columns (norm + leading dims) so row-level
 * comparators can sort them — raw array columns crash pandas sorting.
 */
object MlOps extends QueryGroup {

  private val seqLen = 5

  /** Shared: featurize events at sfDir (same fixture as q_pipeline_e2e,
    * without the profile join). */
  private def featurized(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = Tables.load(s, dir, "events")
    val input = ev.withColumn("pred_date", to_timestamp(lit(PredTs)))
    val roles = ColumnRoles(
      tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
      catCols = Seq("event_type"), contCols = Seq("value"),
      seqCols = Seq("event_type", "value", "ts"), nonSeqCols = Nil,
      dateCols = Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = seqLen, historyDays = HistoryDays,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(input, cfg)
    (model, model.transform(input))
  }

  /** Featurize with the customer profile as non-seq columns, then prep the
    * non-seq inputs for a scorer: c_mktsegment encoded to int codes,
    * c_acctbal min-max scaled (scalar-stats broadcast — the reference's
    * non-seq scaler pattern). Returns (prepped wide, vocab sizes). The wide
    * output is cached: the encoding fit, the min-max agg, the apply join,
    * and the scorer each scan it, and without the cache the full featurizer
    * pipeline re-executes per consumer. Each call REPLACES (unpersists) the
    * previous call's cache via the one-slot registry below, so repeated
    * invocations (both score queries, bench warm-up + timed passes) never
    * accumulate cached copies in the block manager; the result is still
    * recomputed per call — timings stay honest. */
  private val lastWide =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  private def profileFeaturized(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = Tables.load(s, dir, "events")
    val cust = Tables.load(s, dir, "customer")
    val input = ev
      .join(cust.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")),
        ev("user_id") === col("c_custkey"), "inner").drop("c_custkey")
      .withColumn("pred_date", to_timestamp(lit(PredTs)))
    val roles = ColumnRoles(
      tgtId = Seq("user_id"), activityDate = "ts", predictionDate = "pred_date",
      catCols = Seq("event_type"), contCols = Seq("value"),
      seqCols = Seq("event_type", "value", "ts"),
      nonSeqCols = Seq("c_acctbal", "c_mktsegment"),
      dateCols = Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = seqLen, historyDays = HistoryDays,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(input, cfg)
    // unpersist BEFORE persisting the replacement: the new plan is often
    // identical, and CacheManager would dedup the persist onto the old
    // entry — which the later unpersist would then remove
    val prev = lastWide.getAndSet(null)
    if (prev != null) prev.unpersist(blocking = false)
    val wide = model.transform(input)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lastWide.set(wide)
    val segEnc = Encoding.fit(wide, "c_mktsegment")
    // ONE eager aggregate over the cached wide carries the scaler stats
    // AND the segment cardinality (was: a lazy min/max broadcast + a
    // separate mapping.count() job); it is also the action that
    // materializes the cache, so every later consumer reads memory.
    // c_acctbal is double, so folding min/max in as literals is
    // bit-identical to the broadcast-column arithmetic it replaces.
    val mmRow = wide.agg(min("c_acctbal").as("__mn"),
      max("c_acctbal").as("__mx"),
      countDistinct(col("c_mktsegment")).as("__card")).head()
    // min and max are null on an empty frame or an all-null c_acctbal,
    // which then scales like a constant column
    val (mn, mx) =
      if (mmRow.isNullAt(0)) (0.0, 0.0) else (mmRow.getDouble(0), mmRow.getDouble(1))
    val wideEnc = Encoding.apply(wide, segEnc)
      // constant-column guard (mirrors NormalizationSummary.minMaxOf):
      // max==min would divide to NaN and read as a silent 0-fill downstream
      .withColumn("c_acctbal",
        if (mx == mn) lit(0.0)
        else (col("c_acctbal") - lit(mn)) / lit(mx - mn))
    // segEnc keeps at most MaxCardinality codes; the vocab matches it
    val vocab = Map(
      "event_type" -> (model.cardinality("event_type") + 1),
      "c_mktsegment" -> (math.min(mmRow.getLong(2), Encoding.MaxCardinality.toLong) + 1))
    (wideEnc, vocab)
  }

  /** Scoring columns of [[profileFeaturized]]'s output. */
  private val ProfileSeqCat = Seq((1 to seqLen).map(t => s"event_type_$t"))
  private val ProfileSeqCont =
    Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t"))
  private val ProfileNsCat = Seq("c_mktsegment")
  private val ProfileNsCont = Seq("c_acctbal")

  /** Driver-checkable projection of an (id, embedding) frame: L2 norm +
    * first 4 dims as rounded scalars. */
  private def embedScalars(df: DataFrame): DataFrame = {
    val id = df.columns.head
    df.select(
      col(id),
      round(sqrt(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double"))), 6).as("emb_norm"),
      round(element_at(col("embedding"), 1).cast("double"), 6).as("emb_d0"),
      round(element_at(col("embedding"), 2).cast("double"), 6).as("emb_d1"),
      round(element_at(col("embedding"), 3).cast("double"), 6).as("emb_d2"),
      round(element_at(col("embedding"), 4).cast("double"), 6).as("emb_d3"))
  }

  def queries: Seq[QueryDef] = Seq(

    // J6 scoring: featurize (with the customer profile as NON-SEQ inputs,
    // I8 extra timestep) -> seeded-init transformer encoder -> embeddings
    QueryDef("q_score_embeddings",
      (s, dir) => {
        val (wideEnc, vocab) = profileFeaturized(s, dir)
        val cfg = AeConfig(dModel = 16, heads = 2, layers = 2, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab("event_type").toInt), nCont = 2,
          nonSeqVocabSizes = Seq(vocab("c_mktsegment").toInt), nNonSeqCont = 1)
        embedScalars(TransformerTrainer.transform(wideEnc,
          AeResult(cfg, cfg.initParams(), Nil, 0), "user_id",
          ProfileSeqCat, ProfileSeqCont, ProfileNsCat, ProfileNsCont))
      },
      None),

    // J6 LSTM-architecture scoring (arch switch, spark/score.py:53-61);
    // non-seq enters via the LSTM mechanism — DenseBnDropout MLP over the
    // ns cat embeddings concatenated into the fuse input
    // (unified_encoder.py:142-146, 257-266), not an extra timestep
    QueryDef("q_score_embeddings_lstm",
      (s, dir) => {
        val (wideEnc, vocab) = profileFeaturized(s, dir)
        val cfg = LstmAeConfig(hidden = 16, outDim = 16, attnDim = 0,
          seqLen = seqLen, vocabSizes = Seq(vocab("event_type").toInt), nCont = 2,
          nonSeqVocabSizes = Seq(vocab("c_mktsegment").toInt), nNonSeqCont = 1,
          numLayers = 2, bidirectional = true) // I12 stack exercised end-to-end
        embedScalars(LstmTrainer.transform(wideEnc,
          AeResult(cfg, cfg.initParams(), Nil, 0), "user_id",
          ProfileSeqCat, ProfileSeqCont, ProfileNsCat, ProfileNsCont))
      },
      None),

    // I1 pretrained/frozen embedding vectors (embedding_layer.py:18-39,
    // surfaced per unified_transformer_encoder.py:41-44): scoring consumes
    // externally-supplied per-category vectors injected into the flat-param
    // layout (frozen by default — the optimizer-mask contract is spec'd in
    // MlSpec; here the serving path reads them end-to-end)
    QueryDef("q_score_embeddings_pretrained",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val base = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2)
        // deterministic stand-in for externally trained vectors (e.g. a
        // word2vec table): row r dim c = (r*d + c + 1) / ((vocab+1)*d)
        val dim = base.embDims.head
        val vecs = Array.tabulate(vocab + 1, dim)((r, c) =>
          (r * dim + c + 1).toDouble / ((vocab + 1) * dim))
        val cfg = base.copy(pretrainedEmb = Map(0 -> vecs))
        val res = AeResult(cfg, cfg.initParams(), Nil, 0)
        embedScalars(graft.train.TransformerTrainer.transform(wide, res, "user_id",
          Seq((1 to seqLen).map(t => s"event_type_$t")),
          Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t"))))
      },
      None),

    // J1/J2/J5 training loop: per-epoch mean loss from the distributed
    // broadcast + treeAggregate harness (loss must decrease; see MlSpec)
    QueryDef("q_train_ae_loss",
      (s, dir) => {
        val (_, wide) = featurized(s, dir)
        val cols = for (c <- Seq("value", "ts_days"); t <- 1 to seqLen) yield s"${c}_$t"
        val res = LinearAutoencoder.fit(wide, cols,
          TrainConfig(nHidden = 4, lr = 1e-2, maxEpochs = 10, warmupEpochs = 2))
        import s.implicits._
        res.losses.zipWithIndex.map { case (l, e) => (e, l) }.toDF("epoch", "loss")
      },
      None),

    // Importance-weighted training (the soft-dedup consumer): per-example
    // loss scales by a weight column and epoch means divide by the weight
    // sum, so weight w == the example repeated w times (parity-spec'd in
    // TrainerSpec). Weights here downweight half the entities; trained
    // numerics are not SQL-expressible -> rows-only.
    QueryDef("q_train_ae_weighted",
      (s, dir) => {
        val (_, wide) = featurized(s, dir)
        val cols = for (c <- Seq("value", "ts_days"); t <- 1 to seqLen) yield s"${c}_$t"
        val res = LinearAutoencoder.fit(
          wide.withColumn("w",
            when(col("user_id") % 2 === 0, lit(0.5)).otherwise(lit(1.0))),
          cols, TrainConfig(nHidden = 4, lr = 1e-2, maxEpochs = 10, warmupEpochs = 2),
          weightCol = Some("w"))
        import s.implicits._
        res.losses.zipWithIndex.map { case (l, e) => (e, l) }.toDF("epoch", "loss")
      },
      None),

    // Full CASPR lifecycle: featurize -> pretrain transformer AE (3 epochs,
    // mini-batched distributed treeAggregate grads, reference batch-step
    // training spark/large/train.py:35) -> score with trained weights
    QueryDef("q_train_transformer",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val cfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2,
          decoderLayers = 1) // teacher-forced seq2seq pretraining (I7/I9)
        val catCols = Seq((1 to seqLen).map(t => s"event_type_$t"))
        val contCols = Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t"))
        // smoke-budget epochs: 1024 examples / 1 step per epoch (monitored
        // loss comes from EpochLoop's fixed holdout); fit() defaults cover
        // the full corpus reference-style
        val res = graft.train.TransformerTrainer.fit(wide, cfg, catCols, contCols,
          graft.train.TrainConfig(lr = 1e-2, maxEpochs = 3, warmupEpochs = 1),
          batchSize = 1024, examplesPerEpoch = Some(1024))
        embedScalars(
          graft.train.TransformerTrainer.transform(wide, res, "user_id", catCols, contCols))
          .withColumn("final_loss", round(lit(res.losses.last), 6))
          .withColumn("epochs", lit(res.stoppedAt.toLong))
      },
      None),

    // I13-I15 LSTM autoencoder lifecycle: featurize -> teacher-forced LSTM
    // seq2seq pretraining (decoder hidden = (fused embedding, c_T)) ->
    // score with the trained fused embedding
    QueryDef("q_train_lstm_ae",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val cfg = graft.nn.LstmAeConfig(hidden = 12, outDim = 12,
          attnDim = 0, // reference-faithful Bahdanau widths (round 8 default)
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2, decoder = "teacher")
        val catCols = Seq((1 to seqLen).map(t => s"event_type_$t"))
        val contCols = Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t"))
        val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
          graft.train.TrainConfig(lr = 1e-2, maxEpochs = 3, warmupEpochs = 1),
          batchSize = 1024, examplesPerEpoch = Some(1024))
        embedScalars(
          graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols))
          .withColumn("final_loss", round(lit(res.losses.last), 6))
          .withColumn("epochs", lit(res.stoppedAt.toLong))
      },
      None),

    // K1/K2 segmentation: silhouette-selected KMeans on the embeddings table
    QueryDef("q_segment_kmeans",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val (_, _, assigned) = Segmentation.cluster(emb, "embedding", ks = Seq(3, 4, 5))
        assigned.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      },
      None),

    // K4 explainability: integrated-gradients attributions of the cat
    // (embedding-space interpolation) and cont sequence features toward
    // embedding dim 0 (completeness-tested); per-(feature, t) scalar columns
    // G5 true SMOTE-NC (preprocess.py:365-385): churn-labeled customers
    // (cat = segment, cont = balance) balanced with synthetic minority
    // rows; output aggregated per (class, segment) so the row count is a
    // stable fixture property (synthesis is seed-deterministic)
    QueryDef("q_smote_balance",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val ev = Tables.load(s, dir, "events")
        val pred = to_timestamp(lit(PredTs))
        val active = ev.filter(col("ts") >= pred - expr(s"INTERVAL $LabelDays DAYS") &&
            col("ts") < pred)
          .select(col("user_id")).distinct()
        val labeled = cust.join(active,
            cust("c_custkey") === active("user_id"), "left")
          .withColumn("churn", col("user_id").isNull.cast("int"))
          .select(col("c_mktsegment"), col("c_acctbal"), col("churn"))
        val bal = graft.prep.Sampling.smoteNC(labeled, "churn",
          Seq("c_mktsegment"), Seq("c_acctbal"), k = 5, seed = 7L)
        bal.groupBy(col("churn"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("c_acctbal")), 2).as("avg_bal"))
      },
      None),

    // K4 default algorithm: DeepLift (CASPRExplainer.py:70-73) — one
    // backward per row against the zero baseline
    QueryDef("q_explain_deeplift",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val cfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2)
        val attrs = graft.analyze.Explainer.deepLift(wide, cfg,
          cfg.initParams(), "user_id",
          Seq((1 to seqLen).map(t => s"event_type_$t")),
          Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t")),
          targetDim = 0)
        attrs.columns.filter(_.startsWith("attr_"))
          .foldLeft(attrs)((d, c) => d.withColumn(c, round(col(c), 6)))
      },
      None),

    // K4 DeepLiftShap (CASPRExplainer.py:78): DeepLift averaged over a
    // baseline SAMPLE — here the 4 lowest-id users' rows, deterministic
    QueryDef("q_explain_deepliftshap",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val cfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2)
        val seqCat = Seq((1 to seqLen).map(t => s"event_type_$t"))
        val seqCont = Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t"))
        import s.implicits._
        val (bCat, bCont) = wide.orderBy(col("user_id")).limit(4)
          .select(graft.ml.Ingress.inputs(seqCat, seqCont, Nil, Nil))
          .as[Array[Double]].collect()
          .map(graft.ml.Ingress.decode(_, seqLen, 1, 2, 0, 0)((c, x, _, _) => (c, x)))
          .unzip
        val attrs = graft.analyze.Explainer.deepLift(wide, cfg,
          cfg.initParams(), "user_id", seqCat, seqCont,
          targetDim = 0, baselineCat = bCat, baselineCont = bCont)
        attrs.columns.filter(_.startsWith("attr_"))
          .foldLeft(attrs)((d, c) => d.withColumn(c, round(col(c), 6)))
      },
      None),

    // K4 add_across_time join + K5 data-side importance summary
    // (CASPRExplainer.py:214-231; explain/utils.py:6-41 minus the plot):
    // DeepLift attrs -> per-feature time sums -> model-level mean pos/neg
    QueryDef("q_explain_summary",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val cfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2)
        val attrs = graft.analyze.Explainer.deepLift(wide, cfg,
          cfg.initParams(), "user_id",
          Seq((1 to seqLen).map(t => s"event_type_$t")),
          Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t")),
          targetDim = 0)
        val acrossTime = graft.analyze.Explainer.sumAcrossTime(attrs,
          Seq("event_type", "value", "ts_days"), seqLen)
        val summary = graft.analyze.Explainer.importanceSummary(acrossTime)
        summary.select(col("feature"), round(col("mean_pos"), 6).as("mean_pos"),
          round(col("mean_neg"), 6).as("mean_neg"),
          round(col("mean_combined"), 6).as("mean_combined"))
      },
      None),

    QueryDef("q_explain_ig",
      (s, dir) => {
        val (model, wide) = featurized(s, dir)
        val vocab = (model.cardinality("event_type") + 1).toInt
        val cfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
          seqLen = seqLen, vocabSizes = Seq(vocab), nCont = 2)
        val attrs = graft.analyze.Explainer.integratedGradients(wide, cfg,
          cfg.initParams(), "user_id",
          Seq((1 to seqLen).map(t => s"event_type_$t")),
          Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t")),
          targetDim = 0)
        attrs.columns.filter(_.startsWith("attr_"))
          .foldLeft(attrs)((d, c) => d.withColumn(c, round(col(c), 6)))
      },
      None),

    // I17 DEC: KMeans-initialized centroids refined by KL(P||Q) descent
    QueryDef("q_dec_segment",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val res = graft.analyze.Dec.refine(emb, "embedding", k = 4, iterations = 5)
        graft.analyze.Dec.assign(emb, "embedding", "vec_id", res.centroids)
      },
      None),

    // I16 churn head: LR on the embedding column predicting the label
    QueryDef("q_churn_auc",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .withColumn("is_class0", (col("label") === 0).cast("double"))
        val (auc, _) = Segmentation.churnHead(emb, "embedding", "is_class0")
        import s.implicits._
        Seq(auc).toDF("auc")
      },
      None),

    // I16 fine-tune mode (ChurnModel, model_wrapper.py:123-155): BCE trained
    // end-to-end through the UNFROZEN LSTM encoder (ns branch included),
    // reported next to the frozen-head baseline — an LR on the same
    // (untrained) encoder's embeddings over the SAME fixture and label
    QueryDef("q_churn_finetune",
      (s, dir) => {
        val (wideEnc, vocab) = profileFeaturized(s, dir)
        // recency-churn label: last in-window event more than 2 days before
        // the cutoff (present in BOTH classes at every test SF — the
        // q_pipeline_e2e LabelDays rule degenerates to all-active at sf0.001)
        val pred = to_timestamp(lit(PredTs))
        val recency = Tables.load(s, dir, "events")
          .filter(col("ts") < pred && col("ts") > pred - expr(s"INTERVAL $HistoryDays DAYS"))
          .groupBy(col("user_id"))
          .agg(max(col("ts")).as("last_ts"))
          .select(col("user_id"),
            (col("last_ts") < pred - expr("INTERVAL 2 DAYS")).cast("double").as("churn"))
        val wideL = wideEnc.join(recency, Seq("user_id"), "left")
          .withColumn("churn", coalesce(col("churn"), lit(1.0)))
        val catCols = Seq((1 to seqLen).map(t => s"event_type_$t"))
        val contCols = Seq("value", "ts_days").map(c => (1 to seqLen).map(t => s"${c}_$t"))
        // NOTE: c_acctbal arrives min-max scaled to [0,1] — profileFeaturized
        // normalizes it with the broadcast min/max agg (the reference's
        // non-seq scaler pattern), so the ns cont input is NOT raw balance
        val cfg = graft.nn.LstmAeConfig(hidden = 12, outDim = 12,
          attnDim = 0, // reference-faithful Bahdanau widths
          seqLen = seqLen, vocabSizes = Seq(vocab("event_type").toInt), nCont = 2,
          decoder = "churn",
          nonSeqVocabSizes = Seq(vocab("c_mktsegment").toInt), nNonSeqCont = 1)
        // held-out eval: deterministic ~25% test fold by id hash (stratified
        // in expectation); degrade to in-sample only if a class is stranded
        // on either side (possible at sf0.001), flagged in the output
        val folded = wideL.withColumn("__fold", pmod(xxhash64(col("user_id")), lit(4)))
        val trainCand = folded.filter(col("__fold") =!= 0).drop("__fold")
        val testCand = folded.filter(col("__fold") === 0).drop("__fold")
        def bothClasses(df: DataFrame): Boolean =
          df.select(col("churn")).distinct().count() == 2
        val heldOut = bothClasses(trainCand) && bothClasses(testCand)
        val (trainSet, testSet) =
          if (heldOut) (trainCand, testCand) else (wideL, wideL)
        // small batches => enough SGD steps on the ~110-row sf0.01 train
        // fold (batch size is a fixture knob, not the 100-TB setting)
        val res = graft.train.LstmTrainer.fit(trainSet, cfg, catCols, contCols,
          graft.train.TrainConfig(lr = 3e-2, maxEpochs = 25, warmupEpochs = 3),
          nonSeqCatCols = Seq("c_mktsegment"), nonSeqContCols = Seq("c_acctbal"),
          labelCol = Some("churn"), batchSize = 32)
        val testLabels = testSet.select(col("user_id"), col("churn"))
        val scored = graft.train.LstmTrainer.transformChurn(testSet, res, "user_id",
          catCols, contCols, Seq("c_mktsegment"), Seq("c_acctbal"))
          .join(testLabels, Seq("user_id"))
        val aucFt = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
          .setRawPredictionCol("churn_prob").setLabelCol("churn")
          .setMetricName("areaUnderROC").evaluate(scored)
        // frozen baseline: LR head on the untrained encoder's embeddings,
        // fit on the SAME train fold, evaluated on the SAME test fold
        def frozenEmb(df: DataFrame) = {
          val emb = graft.train.LstmTrainer.transform(df,
            AeResult(cfg, cfg.initParams(), Nil, 0), "user_id",
            catCols, contCols, Seq("c_mktsegment"), Seq("c_acctbal"))
            .join(df.select(col("user_id"), col("churn")), Seq("user_id"))
          Segmentation.withFeatures(emb, "embedding")
            .withColumn("label", col("churn"))
        }
        val lrModel = new org.apache.spark.ml.classification.LogisticRegression()
          .setMaxIter(25).setRegParam(0.01).fit(frozenEmb(trainSet))
        val aucFrozen = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
          .setMetricName("areaUnderROC").evaluate(lrModel.transform(frozenEmb(testSet)))
        import s.implicits._
        Seq((math.round(aucFt * 1e4) / 1e4, math.round(aucFrozen * 1e4) / 1e4,
          math.round(res.losses.last * 1e4) / 1e4, res.stoppedAt.toLong,
          if (heldOut) 1L else 0L))
          .toDF("auc_finetune", "auc_frozen", "final_loss", "epochs", "held_out")
      },
      None)
  )
}
