package graft.train

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._
import graft.nn.{LstmAE, LstmAeConfig}

/**
 * Distributed LSTM-encoder training (SURVEY.md §2.I11/I12): the same
 * [[EpochLoop]] harness as [[TransformerTrainer]] (reference-style
 * multi-step epochs; see its scaladoc for the `examplesPerEpoch` budget
 * semantics), over the BPTT-gradient-checked [[LstmAE]].
 *
 * Non-seq features enter via the LSTM mechanism (unified_encoder.py:
 * 142-146,257-266): ns cat embeddings -> DenseBnDropout MLP, prepended with
 * ns cont to the fuse input — trained end-to-end here, matching the serving
 * twin [[graft.nn.LstmEncoderWeights]]. `labelCol` feeds the `decoder =
 * "churn"` BCE fine-tune objective (I16, ChurnModel model_wrapper.py:
 * 123-155); it is ignored by the reconstruction decoders.
 */
object LstmTrainer {

  final case class Result(cfg: LstmAeConfig, params: Array[Double],
      losses: Seq[Double], stoppedAt: Int)

  /** (seq cat, seq cont, ns cat, ns cont, label) per entity. */
  private type Example =
    (Array[Array[Int]], Array[Array[Double]], Array[Int], Array[Double], Double)

  private def examples(wide: DataFrame, seqCatCols: Seq[Seq[String]],
      seqContCols: Seq[Seq[String]], nsCatCols: Seq[String],
      nsContCols: Seq[String], labelCol: Option[String]) = {
    val t = seqCatCols.headOption.map(_.size)
      .orElse(seqContCols.headOption.map(_.size)).getOrElse(0)
    val nCat = seqCatCols.size; val nCont = seqContCols.size
    val nNsCat = nsCatCols.size
    // the label rides the projection as one extra ns-cont double
    val nsContAll = nsContCols ++ labelCol.toSeq
    val nAll = nsContAll.size
    val hasLabel = labelCol.isDefined
    graft.ml.Ingress.project(wide, wide.columns.head, seqCatCols, seqContCols,
        nsCatCols, nsContAll)
      .rdd.map { row =>
        val nsAll = graft.ml.Ingress.nsContOf(row, t, nCat, nCont, nNsCat, nAll)
        val (nsCont, label) =
          if (hasLabel) (nsAll.dropRight(1), nsAll.last) else (nsAll, 0.0)
        (graft.ml.Ingress.seqCatOf(row, t, nCat),
         graft.ml.Ingress.seqContOf(row, t, nCat, nCont),
         graft.ml.Ingress.nsCatOf(row, t, nCat, nCont, nNsCat),
         nsCont, label): Example
      }
  }

  def fit(wide: DataFrame, cfg: LstmAeConfig,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      train: TrainConfig,
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil,
      labelCol: Option[String] = None,
      batchSize: Int = 4096,
      examplesPerEpoch: Option[Int] = None): Result = {
    require(labelCol.isEmpty || cfg.hasChurn,
      "labelCol only feeds the churn objective (decoder = \"churn\")")
    require(!cfg.hasChurn || labelCol.nonEmpty,
      "decoder = \"churn\" trains BCE against labelCol — pass one")
    val lay = cfg.layout
    val data = examples(wide, seqCatCols, seqContCols,
        nonSeqCatCols, nonSeqContCols, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val params = cfg.initParams()
    // per-example dropout seed (see TransformerTrainer.fit: its call
    // counter is per task, so the masks depend on EpochLoop's per-step
    // split, the expected loss does not); probe evaluates with dropout off
    // (inference behavior)
    val lossGradFn = {
      var calls = 0L
      (p: Array[Double], a: Array[Double], ex: Example) => {
        calls += 1
        val ds = train.seed ^ (calls * 0x9E3779B97F4A7C15L) ^
          java.util.Arrays.deepHashCode(ex._1.asInstanceOf[Array[AnyRef]])
        LstmAE.lossGradEmbed(cfg, lay, p, a, ex._1, ex._2, ex._3, ex._4, ex._5,
          dropSeed = ds)._1
      }
    }
    val cfgEval = cfg.copy(dropout = 0.0)
    val res = EpochLoop.run(data, params, train, batchSize, examplesPerEpoch,
      lossGradFn,
      lossOnly = Some((p: Array[Double], ex: Example) =>
        LstmAE.lossGradEmbed(cfgEval, lay, p, null, ex._1, ex._2, ex._3, ex._4,
          ex._5)._1),
      frozenRanges = cfg.frozenRanges)
    data.unpersist()
    Result(cfg, params, res.losses, res.stoppedAt)
  }

  /** Score with trained weights: pooled attention-fused embedding. */
  def transform(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    val spark = wide.sparkSession
    val lay = res.cfg.layout
    val bc = spark.sparkContext.broadcast(res.params)
    val t = res.cfg.seqLen
    val nCat = seqCatCols.size; val nCont = seqContCols.size
    val nNsCat = nonSeqCatCols.size; val nNsCont = nonSeqContCols.size
    val proj = graft.ml.Ingress.project(wide, idCol, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols)
    val outSchema = StructType(Seq(proj.schema(0),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    proj.mapPartitions { rows =>
      val p = bc.value
      rows.map { row =>
        val (_, emb) = LstmAE.lossGradEmbed(res.cfg, lay, p, null,
          graft.ml.Ingress.seqCatOf(row, t, nCat),
          graft.ml.Ingress.seqContOf(row, t, nCat, nCont),
          graft.ml.Ingress.nsCatOf(row, t, nCat, nCont, nNsCat),
          graft.ml.Ingress.nsContOf(row, t, nCat, nCont, nNsCat, nNsCont),
          embedOnly = true)
        Row(row.get(0), emb.map(_.toFloat))
      }
    }(Encoders.row(outSchema))
  }

  /** I16 churn scoring: sigmoid(head) probability from a churn-trained
    * result, alongside the embedding. */
  def transformChurn(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    require(res.cfg.hasChurn, "transformChurn needs a churn-trained Result")
    val spark = wide.sparkSession
    val lay = res.cfg.layout
    val bc = spark.sparkContext.broadcast(res.params)
    val t = res.cfg.seqLen
    val nCat = seqCatCols.size; val nCont = seqContCols.size
    val nNsCat = nonSeqCatCols.size; val nNsCont = nonSeqContCols.size
    val proj = graft.ml.Ingress.project(wide, idCol, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols)
    val outSchema = StructType(Seq(proj.schema(0),
      StructField("churn_prob", DoubleType, nullable = false)))
    proj.mapPartitions { rows =>
      val p = bc.value
      val (wOff, _) = lay.offsets("churn_w")
      val (bOff, _) = lay.offsets("churn_b")
      val outDim = res.cfg.outDim
      rows.map { row =>
        val (_, emb) = LstmAE.lossGradEmbed(res.cfg, lay, p, null,
          graft.ml.Ingress.seqCatOf(row, t, nCat),
          graft.ml.Ingress.seqContOf(row, t, nCat, nCont),
          graft.ml.Ingress.nsCatOf(row, t, nCat, nCont, nNsCat),
          graft.ml.Ingress.nsContOf(row, t, nCat, nCont, nNsCat, nNsCont),
          embedOnly = true)
        var z = p(bOff)
        var i = 0
        while (i < outDim) { z += p(wOff + i) * emb(i); i += 1 }
        Row(row.get(0), 1.0 / (1.0 + math.exp(-z)))
      }
    }(Encoders.row(outSchema))
  }
}
