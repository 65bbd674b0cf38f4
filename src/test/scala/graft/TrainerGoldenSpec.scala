package graft

import org.apache.spark.sql.DataFrame
import graft.nn.{AeConfig, LstmAeConfig}
import graft.train.{LstmTrainer, TrainConfig, TransformerTrainer}

/** Golden values of both autoencoder trainers on the sf0.001 fixture: the
  * bits of the loss history, the trained params and the scored embeddings
  * of one small capped-epoch fit per architecture, plus LSTM churn
  * probabilities. A refactor of the trainer layer must reproduce them bit
  * for bit. */
class TrainerGoldenSpec extends SparkSpec {

  private val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
  private val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
  private val train = TrainConfig(lr = 1e-2, maxEpochs = 3, warmupEpochs = 1)

  private def wide: DataFrame = SparkEntry.queries("q_pipeline_e2e")(spark, sf)

  /** Every entity's embedding in id order, as one flat array. */
  private def embeddings(scored: DataFrame): Array[Double] =
    scored.collect().sortBy(_.getLong(0))
      .flatMap(_.getSeq[Float](1).map(_.toDouble))

  private def check(what: String, got: Array[Double], want: Fingerprint): Unit = {
    val fp = Fingerprint.of(got)
    assert(fp.matches(want, 0), s"$what: got $fp, pinned $want")
  }

  test("golden: transformer fit with a decoder layer, dropout 0.1 and a capped epoch") {
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8, seqLen = 5,
      vocabSizes = Seq(6), nCont = 2, decoderLayers = 1, dropout = 0.1)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols, train,
      batchSize = 4, examplesPerEpoch = Some(8))
    assert(res.losses.size == 3)
    check("losses", res.losses.toArray,
      Fingerprint(6572338350010095565L, 7.715465664172548, 14.777479375483907))
    check("params", res.params,
      Fingerprint(5803021210842308426L, 401.5078473355337, 283.6657526989096))
    check("embeddings",
      embeddings(TransformerTrainer.transform(wide, res, "user_id", catCols, contCols)),
      Fingerprint(-2781133803710851823L, 506.0159242331283, 74.7563203854952))
  }

  test("golden: 2-layer teacher-forced LSTM fit with a capped epoch") {
    val cfg = LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4, seqLen = 5,
      vocabSizes = Seq(6), nCont = 2, decoder = "teacher", numLayers = 2,
      dropout = 0.1)
    val res = LstmTrainer.fit(wide, cfg, catCols, contCols, train,
      batchSize = 4, examplesPerEpoch = Some(8))
    assert(res.losses.size == 3)
    check("losses", res.losses.toArray,
      Fingerprint(4318625098801299474L, 5.713764084986248, 11.365090526147231))
    check("params", res.params,
      Fingerprint(5383412064693030672L, 531.8082182407013, 173.19522825502713))
    check("embeddings",
      embeddings(LstmTrainer.transform(wide, res, "user_id", catCols, contCols)),
      Fingerprint(781824557580521745L, 5.197677135467529, 21.7551954574883))
  }

  test("golden: LSTM churn fine-tune probabilities") {
    val cfg = LstmAeConfig(hidden = 8, outDim = 8, attnDim = 0, seqLen = 5,
      vocabSizes = Seq(6), nCont = 2, decoder = "churn")
    val res = LstmTrainer.fit(wide, cfg, catCols, contCols, train,
      labelCol = Some("churn"), batchSize = 4, examplesPerEpoch = Some(8))
    val probs = LstmTrainer.transformChurn(wide, res, "user_id", catCols, contCols)
      .collect().sortBy(_.getLong(0)).map(_.getDouble(1))
    check("losses", res.losses.toArray,
      Fingerprint(-3260461153119570756L, 1.5831391433383804, 2.9747855099641014))
    check("churn probabilities", probs,
      Fingerprint(-8481734233311501008L, 5.253472671071292, 20.275258515508565))
  }
}
