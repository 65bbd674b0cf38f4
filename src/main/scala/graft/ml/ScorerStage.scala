package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.nn.LstmAeConfig
import graft.train.{AeResult, LstmTrainer}

/**
 * Shared `ml.Transformer` surface of the embedding stages (SURVEY.md
 * §7.1): [[CasprModel]] (transformer arch) and [[LstmScorerStage]] (LSTM
 * arch, the J6 serving path) drop into an `org.apache.spark.ml.Pipeline`
 * next to [[CasprStage]] and [[CasprAutoencoder]]. The stage APPENDS
 * `embedding: array<float>` to each input row in one scan (the
 * [[Ingress.score]] UDF over the narrowed model inputs; no join back, no
 * driver round trip), so labels and profile columns flow through to
 * downstream MLlib stages. Rows with a null id are dropped and the id
 * column comes first: the rows and column order of the entity-keyed
 * `df.join(scores, id)` this replaces.
 */
private[ml] trait EmbeddingStage extends Transformer {
  def idCol: String
  /** `df` with the embedding appended to every row. */
  protected def withEmbedding(df: DataFrame): DataFrame

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val cols = col(idCol) +: df.columns.toSeq.filterNot(_ == idCol).map(col) :+
      col(Ingress.EmbeddingField.name)
    withEmbedding(df.where(col(idCol).isNotNull)).select(cols: _*)
  }

  override def transformSchema(schema: StructType): StructType =
    EmbeddingStage.outSchema(schema, idCol)
}

private[ml] object EmbeddingStage {
  /** [[EmbeddingStage.transform]]'s output schema: the id field first, the
    * other input fields in order, then the embedding. */
  def outSchema(input: StructType, idCol: String): StructType = {
    require(input.fieldNames.contains(idCol),
      s"embedding stage: id column '$idCol' is not in the input schema " +
        input.fieldNames.mkString("(", ", ", ")"))
    val (id, rest) = input.fields.toIndexedSeq.partition(_.name == idCol)
    StructType((id ++ rest) :+ Ingress.EmbeddingField)
  }
}

/** LSTM-architecture scoring (the reference's arch switch,
  * caspr/utils/spark/score.py:53-61) as a Pipeline stage: embeds through
  * [[graft.train.LstmTrainer.withEmbedding]] — the [[graft.train.AeTrainer]]
  * scoring body [[CasprModel]] runs for the transformer — with the
  * result's weights. Column lists are the per-timestep wide columns, as for
  * the trainer. */
class LstmScorerStage(
    val res: AeResult[LstmAeConfig],
    override val idCol: String,
    val seqCatCols: Seq[Seq[String]],
    val seqContCols: Seq[Seq[String]],
    val nonSeqCatCols: Seq[String] = Nil,
    val nonSeqContCols: Seq[String] = Nil,
    override val uid: String = Identifiable.randomUID("lstmScorer"))
    extends EmbeddingStage {
  override protected def withEmbedding(df: DataFrame): DataFrame =
    LstmTrainer.withEmbedding(df, res, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols)
  override def copy(extra: ParamMap): LstmScorerStage =
    new LstmScorerStage(res, idCol, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols, uid)
}
