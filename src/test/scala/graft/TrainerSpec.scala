package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.graftbridge.CatalystBridge
import graft.nn.AeConfig
import graft.train.{EpochLoop, TrainConfig, TransformerTrainer}

/** Distributed transformer-AE training on the real featurized fixture. */
class TrainerSpec extends SparkSpec {

  /** Per job, in job order: (result-stage tasks, partitions of the shuffle
    * the result stage reads; 0 when it reads none). */
  private class ResultStages extends SparkListener {
    private val finalStage = scala.collection.mutable.ArrayBuffer[Int]()
    private val shape = scala.collection.mutable.Map[Int, (Int, Int)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      finalStage += j.stageIds.max
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
      val i = s.stageInfo
      val shuffled = i.rddInfos.filter(_.name == "ShuffledRDD").map(_.numPartitions)
      shape(i.stageId) = (i.numTasks, shuffled.headOption.getOrElse(0))
    }
    def jobs: Seq[(Int, Int)] = synchronized(finalStage.toSeq.map(shape))
  }

  private def withResultStages[A](body: => A): (A, Seq[(Int, Int)]) = {
    val sc = spark.sparkContext
    val l = new ResultStages
    sc.addSparkListener(l)
    try {
      val r = body
      CatalystBridge.drainListenerBus(sc)
      (r, l.jobs)
    } finally sc.removeSparkListener(l)
  }

  /** 0.5 * (p0 - x)^2 + 0.5 * (p1 - x^2)^2: two params, order-sensitive sums. */
  private val quadLoss = (p: Array[Double], a: Array[Double], x: Double) => {
    val e0 = p(0) - x; val e1 = p(1) - x * x
    a(0) += e0; a(1) += e1
    0.5 * (e0 * e0 + e1 * e1)
  }

  test("BENCH-4 train-smoke: loss decreases over epochs on sf0.001") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 5, warmupEpochs = 1))
    assert(res.losses.size == 5)
    assert(res.losses.last < res.losses.head,
      s"losses not decreasing: ${res.losses}")
    val scored = TransformerTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 5 * 8)
  }

  test("non-seq branch trains distributed: extra timestep + ns heads (I8)") {
    import org.apache.spark.sql.functions._
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
      .withColumn("acct_n", col("c_acctbal") / lit(10000.0)) // tame the MSE scale
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2,
      nonSeqVocabSizes = Seq(2), nNonSeqCont = 1) // churn as the ns cat
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1),
      nonSeqCatCols = Seq("churn"), nonSeqContCols = Seq("acct_n"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = TransformerTrainer.transform(wide, res, "user_id", catCols, contCols,
      nonSeqCatCols = Seq("churn"), nonSeqContCols = Seq("acct_n"))
    assert(scored.count() == wide.count())
    // T+1 timesteps in the serving embedding
    assert(scored.select("embedding").head().getSeq[Float](0).size == 6 * 8)
  }

  test("teacher-forced LSTM AE trains distributed (I13/I15)") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, decoder = "teacher")
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("LSTM trainer: distributed loss decreases and trained scoring works") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2)
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 5, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("I12 2-layer bidirectional LSTM trains distributed") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2,
      numLayers = 2, bidirectional = true, dropout = 0.1)
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("I11 LSTM non-seq fuse branch trains distributed (ns MLP + embeddings)") {
    import org.apache.spark.sql.functions._
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
      .withColumn("acct_n", col("c_acctbal") / lit(10000.0))
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2,
      nonSeqVocabSizes = Seq(2), nNonSeqCont = 1) // churn as the ns cat
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1),
      nonSeqCatCols = Seq("churn"), nonSeqContCols = Seq("acct_n"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    // ns params actually moved (the round-7 gap: silently-untrained fuse)
    val lay = cfg.layout
    val init = cfg.initParams()
    val (nsOff, _) = lay.offsets("ns_w")
    val nsSpec = lay.specs.find(_.name == "ns_w").get
    assert((0 until nsSpec.size).exists(i =>
      math.abs(res.params(nsOff + i) - init(nsOff + i)) > 1e-9),
      "ns MLP weights did not train")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id",
      catCols, contCols, Seq("churn"), Seq("acct_n"))
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("I16 churn fine-tune trains distributed: BCE loss decreases, probs vary") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 0,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, decoder = "churn")
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 2e-2, maxEpochs = 4, warmupEpochs = 1),
      labelCol = Some("churn"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transformChurn(wide, res, "user_id",
      catCols, contCols)
    val probs = scored.select("churn_prob").collect().map(_.getDouble(0))
    assert(probs.length == wide.count())
    assert(probs.forall(p => p > 0.0 && p < 1.0))
    assert(probs.distinct.length > 1, "churn head must discriminate")
    // labelCol is rejected outside churn mode, and required inside it
    intercept[IllegalArgumentException] {
      graft.train.LstmTrainer.fit(wide, cfg.copy(decoder = "none"),
        catCols, contCols, TrainConfig(lr = 1e-2, maxEpochs = 1),
        labelCol = Some("churn"))
    }
    intercept[IllegalArgumentException] {
      graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
        TrainConfig(lr = 1e-2, maxEpochs = 1))
    }
  }

  test("I16 transformer churn fine-tune trains distributed (TransformerChurnModel twin)") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, churn = true)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 2e-2, maxEpochs = 4, warmupEpochs = 1),
      labelCol = Some("churn"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = TransformerTrainer.transformChurn(wide, res, "user_id",
      catCols, contCols)
    val probs = scored.select("churn_prob").collect().map(_.getDouble(0))
    assert(probs.length == wide.count())
    assert(probs.forall(p => p > 0.0 && p < 1.0))
    assert(probs.distinct.length > 1, "churn head must discriminate")
    intercept[IllegalArgumentException] { // labelCol gated on churn mode
      TransformerTrainer.fit(wide, cfg.copy(churn = false), catCols, contCols,
        TrainConfig(lr = 1e-2, maxEpochs = 1), labelCol = Some("churn"))
    }
  }

  test("dropout=0.1 distributed training still reduces the monitored loss") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, dropout = 0.1)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
  }

  test("EpochLoop multi-step epochs read each example once per epoch") {
    // the source RDD is deliberately UNcached and counts every element read:
    // with per-step randomSplit selection scans an epoch would cost
    // O(nSteps x corpus) reads; the shuffle-sliced loop must stay O(corpus)
    val sc = spark.sparkContext
    val n = 2000
    val reads = sc.longAccumulator("sourceReads")
    val data = sc.parallelize(1 to n, 8).map { x => reads.add(1); x.toDouble }
    val params = Array(0.0)
    val (res, jobs) = withResultStages(graft.train.EpochLoop.run[Double](data, params,
      TrainConfig(lr = 1e-2, maxEpochs = 1), batchSize = 400, // -> 5 steps
      examplesPerEpoch = None,
      (p, a, x) => { val e = p(0) - x; a(0) += e; 0.5 * e * e }))
    assert(res.losses.size == 1 && res.losses.head.isFinite)
    // count() pass + one epoch map-side pass = 2n; randomSplit would be 6n
    assert(reads.value <= 3L * n,
      s"epoch read amplification: ${reads.value} reads for $n examples")
    // one job per step after the count(); each step's result stage runs k
    // tasks over its k of the nSteps * k shuffle partitions
    val k = math.min(sc.defaultParallelism, math.ceil(400 / 64.0).toInt)
    assert(jobs.size == 1 + 5, s"jobs: $jobs")
    assert(jobs.tail == Seq.fill(5)((k, 5 * k)), s"step result stages: ${jobs.tail}")
  }

  test("EpochLoop step key: sub-partitions split exactly the one-per-step draw") {
    val seed = 42L
    for (nSteps <- Seq(1, 3, 7); k <- Seq(1, 2, 4); pi <- Seq(0, 5)) {
      val keys = EpochLoop.sliceKeys((0 until 500).iterator, pi, seed, nSteps, k).toSeq
      val rng = new java.util.Random(seed + pi)
      val draw = Seq.fill(500)(rng.nextInt(nSteps))
      assert(keys.map(_._2) == (0 until 500))
      assert(keys.forall { case (key, _) => key >= 0 && key < nSteps * k })
      // the union of step s's sub-partitions is exactly the step-s draw
      assert(keys.map(_._1 / k) == draw, s"nSteps=$nSteps k=$k pi=$pi")
      if (k == 1) assert(keys.map(_._1) == draw)
      // round-robin per step: a step's subs differ in size by at most one
      for (s <- 0 until nSteps) {
        val sizes = (0 until k).map(sub => keys.count(_._1 == s * k + sub))
        assert(sizes.max - sizes.min <= 1, s"step $s sub sizes $sizes")
      }
    }
  }

  test("EpochLoop multi-task steps are bit-for-bit reproducible") {
    val sc = spark.sparkContext
    // irrational values make every sum order-sensitive; the jitter varies
    // which step task finishes first between the two runs
    val data = sc.parallelize((1 to 1200).map(i => math.sqrt(i.toDouble) / 7.0), 6)
    val loss = quadLoss
    val jittered = (p: Array[Double], a: Array[Double], x: Double) => {
      if (scala.util.Random.nextInt(50) == 0) Thread.sleep(1)
      loss(p, a, x)
    }
    def fit(): (Seq[Double], Array[Double]) = {
      val params = Array(0.3, -0.2)
      val res = EpochLoop.run[Double](data, params,
        TrainConfig(lr = 5e-2, maxEpochs = 3), batchSize = 256, // k > 1
        examplesPerEpoch = None, jittered)
      (res.losses, params)
    }
    val (l1, p1) = fit()
    val (l2, p2) = fit()
    val bits = (xs: Seq[Double]) => xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(l1) == bits(l2), s"losses $l1 vs $l2")
    assert(bits(p1.toSeq) == bits(p2.toSeq), s"params ${p1.toSeq} vs ${p2.toSeq}")
  }

  test("EpochLoop batchSize 32 keeps one task and one shuffle partition per step") {
    val sc = spark.sparkContext
    val data = sc.parallelize((1 to 320).map(_.toDouble / 320), 4)
    val (res, jobs) = withResultStages(EpochLoop.run[Double](data, Array(0.0, 0.0),
      TrainConfig(lr = 1e-2, maxEpochs = 1), batchSize = 32, // -> 10 steps, k = 1
      examplesPerEpoch = None, quadLoss))
    assert(res.losses.size == 1 && res.losses.head.isFinite)
    assert(jobs.tail == Seq.fill(10)((1, 10)), s"step result stages: ${jobs.tail}")
  }

  test("weighted AE training: weight w equals the example repeated w times; w=1 is a no-op") {
    import spark.implicits._
    import graft.train.LinearAutoencoder
    val base = Seq(
      (1.0, 2.0), (2.0, 1.0), (3.0, 3.0), (0.5, 1.5), (2.5, 0.5), (1.5, 2.5))
    // row 0 carries weight 3; the duplicated twin corpus repeats it 3 times
    val weightedDf = base.zipWithIndex.map { case ((a, b), i) =>
      (a, b, if (i == 0) 3.0 else 1.0) }.toDF("a", "b", "w")
    val dupDf = (Seq.fill(2)(base.head) ++ base).toDF("a", "b")
    val cfg = TrainConfig(nHidden = 2, lr = 1e-2, maxEpochs = 4, warmupEpochs = 1)
    // full-batch (one step per epoch) so step slicing can't diverge the runs
    val rw = LinearAutoencoder.fit(weightedDf, Seq("a", "b"), cfg,
      batchSize = 0, weightCol = Some("w"))
    val rd = LinearAutoencoder.fit(dupDf, Seq("a", "b"), cfg, batchSize = 0)
    assert(rw.losses.size == rd.losses.size)
    rw.losses.zip(rd.losses).foreach { case (lw, ld) =>
      assert(math.abs(lw - ld) < 1e-9, s"weighted $lw != duplicated $ld") }
    rw.weights.params.zip(rd.weights.params).foreach { case (pw, pd) =>
      assert(math.abs(pw - pd) < 1e-9) }
    // all-ones weight column reproduces the unweighted run (same arithmetic;
    // tolerance absorbs aggregate combine-order ulps, as above)
    val ones = weightedDf.withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    val r1 = LinearAutoencoder.fit(ones, Seq("a", "b"), cfg,
      batchSize = 0, weightCol = Some("w"))
    val r0 = LinearAutoencoder.fit(weightedDf, Seq("a", "b"), cfg, batchSize = 0)
    r1.losses.zip(r0.losses).foreach { case (l1, l0) =>
      assert(math.abs(l1 - l0) < 1e-9, s"all-ones $l1 != unweighted $l0") }
    r1.weights.params.zip(r0.weights.params).foreach { case (p1, p0) =>
      assert(math.abs(p1 - p0) < 1e-9) }
  }

  test("EpochLoop batchSize <= 0 runs one full-batch step per epoch") {
    val sc = spark.sparkContext
    val data = sc.parallelize(Seq.fill(64)(1.0), 4)
    val params = Array(0.0)
    val res = graft.train.EpochLoop.run[Double](data, params,
      TrainConfig(lr = 1e-1, maxEpochs = 3), batchSize = 0,
      examplesPerEpoch = None,
      (p, a, x) => { val e = p(0) - x; a(0) += e; 0.5 * e * e })
    assert(res.losses.size == 3)
    assert(res.losses.last < res.losses.head) // full-batch steps still learn
  }
}
