package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType
import graft.train.LstmTrainer

/**
 * Shared `ml.Transformer` surface of the embedding stages (SURVEY.md
 * §7.1): [[CasprModel]] (transformer arch) and [[LstmScorerStage]] (LSTM
 * arch, the J6 serving path) drop into an `org.apache.spark.ml.Pipeline`
 * next to [[CasprStage]] and [[CasprAutoencoder]]. The stage APPENDS
 * `embedding: array<float>` to the input row (computed on the narrowed
 * Ingress projection, joined back on the entity-unique id), so labels and
 * profile columns flow through to downstream MLlib stages.
 */
private[ml] trait EmbeddingStage extends Transformer {
  def idCol: String
  /** The underlying (id, embedding) scoring transform. */
  protected def score(df: DataFrame): DataFrame

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    df.join(score(df), Seq(idCol))
  }

  override def transformSchema(schema: StructType): StructType =
    EmbeddingStage.outSchema(schema)
}

private[ml] object EmbeddingStage {
  def outSchema(input: StructType): StructType =
    StructType(input.fields.toIndexedSeq :+ Ingress.EmbeddingField)
}

/** LSTM-architecture scoring (the reference's arch switch,
  * caspr/utils/spark/score.py:53-61) as a Pipeline stage: embeds through
  * [[graft.train.LstmTrainer.transform]] with the result's weights. Column
  * lists are the per-timestep wide columns, as for the trainer. */
class LstmScorerStage(
    val res: LstmTrainer.Result,
    override val idCol: String,
    val seqCatCols: Seq[Seq[String]],
    val seqContCols: Seq[Seq[String]],
    val nonSeqCatCols: Seq[String] = Nil,
    val nonSeqContCols: Seq[String] = Nil,
    override val uid: String = Identifiable.randomUID("lstmScorer"))
    extends EmbeddingStage {
  override protected def score(df: DataFrame): DataFrame =
    LstmTrainer.transform(df, res, idCol, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols)
  override def copy(extra: ParamMap): LstmScorerStage =
    new LstmScorerStage(res, idCol, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols, uid)
}
