package graft.ml

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField}
import graft.nn.AeModelConfig

/**
 * Row ingress for the model-side operators (trainers, scoring, explainer).
 *
 * `wide.rdd` over the raw featurizer output deserializes EVERY column of
 * every row — including string profile columns the model never reads — and
 * the extraction then pays a megamorphic `asInstanceOf[Number]` per cell.
 * Fine at sf0.1, measurable at 100x. This helper pushes the narrowing,
 * casts, and null fills into the Catalyst projection (whole-stage codegen),
 * so the deserialized row is exactly [id, seq cat (col-major int), seq cont
 * (col-major double), ns cat (int), ns cont (double)] and per-row access is
 * positional primitive getters.
 */
private[graft] object Ingress {

  /** Fixed positional layout: id at 0, then the four groups in order. */
  def project(wide: DataFrame, idCol: String,
      seqCat: Seq[Seq[String]], seqCont: Seq[Seq[String]],
      nsCat: Seq[String] = Nil, nsCont: Seq[String] = Nil): DataFrame =
    wide.select(
      col(idCol) +:
      (seqCat.flatten.map(c => coalesce(col(c).cast("int"), lit(0)).as(c)) ++
       seqCont.flatten.map(c => coalesce(col(c).cast("double"), lit(0.0)).as(c)) ++
       nsCat.map(c => coalesce(col(c).cast("int"), lit(0)).as(c)) ++
       nsCont.map(c => coalesce(col(c).cast("double"), lit(0.0)).as(c))): _*)

  def seqCatOf(row: Row, t: Int, nCat: Int): Array[Array[Int]] =
    Array.tabulate(t, nCat)((ts, c) => row.getInt(1 + c * t + ts))

  def seqContOf(row: Row, t: Int, nCat: Int, nCont: Int): Array[Array[Double]] =
    Array.tabulate(t, nCont)((ts, c) => row.getDouble(1 + (nCat + c) * t + ts))

  def nsCatOf(row: Row, t: Int, nCat: Int, nCont: Int, nNsCat: Int): Array[Int] =
    Array.tabulate(nNsCat)(c => row.getInt(1 + (nCat + nCont) * t + c))

  def nsContOf(row: Row, t: Int, nCat: Int, nCont: Int, nNsCat: Int,
      nNsCont: Int): Array[Double] =
    Array.tabulate(nNsCont)(c => row.getDouble(1 + (nCat + nCont) * t + nNsCat + c))

  /** Checks, once per trainer or scoring call and before any task runs,
    * that the column lists match the model config. A short list would
    * index past the projected row inside a task, a long one would be
    * dropped silently, and a seq group that is not `seqLen` long would
    * make the positional getters read across group boundaries. */
  def requireColumns(cfg: AeModelConfig[_],
      seqCat: Seq[Seq[String]], seqCont: Seq[Seq[String]],
      nsCat: Seq[String], nsCont: Seq[String]): Unit = {
    def count(what: String, got: Int, want: Int, field: String): Unit =
      require(got == want,
        s"$what: $got column lists given, the model config has $want ($field)")
    count("seq cat", seqCat.size, cfg.vocabSizes.size, "vocabSizes")
    count("seq cont", seqCont.size, cfg.nCont, "nCont")
    count("non-seq cat", nsCat.size, cfg.nonSeqVocabSizes.size, "nonSeqVocabSizes")
    count("non-seq cont", nsCont.size, cfg.nNonSeqCont, "nNonSeqCont")
    (seqCat ++ seqCont).foreach(g => require(g.size == cfg.seqLen,
      s"seq column group [${g.mkString(", ")}] has ${g.size} columns, the model's seqLen is ${cfg.seqLen}"))
  }

  /** One entity's model inputs: (T x nCat codes, T x nCont doubles, ns
    * codes, ns doubles, label). */
  type Example =
    (Array[Array[Int]], Array[Array[Double]], Array[Int], Array[Double], Double)

  /** Training examples for the autoencoder trainers. The label (churn mode
    * only) rides the projection as one extra ns-cont double. */
  def examples(wide: DataFrame, seqCat: Seq[Seq[String]],
      seqCont: Seq[Seq[String]], nsCat: Seq[String], nsCont: Seq[String],
      labelCol: Option[String]): RDD[Example] = {
    val t = seqCat.headOption.map(_.size)
      .orElse(seqCont.headOption.map(_.size)).getOrElse(0)
    val nCat = seqCat.size; val nCont = seqCont.size
    val nNsCat = nsCat.size
    val nsContAll = nsCont ++ labelCol.toSeq
    val nAll = nsContAll.size
    val hasLabel = labelCol.isDefined
    // any column works as the ingress anchor
    project(wide, wide.columns.head, seqCat, seqCont, nsCat, nsContAll)
      .rdd.map { row =>
        val nsAll = nsContOf(row, t, nCat, nCont, nNsCat, nAll)
        val (nsC, label) =
          if (hasLabel) (nsAll.dropRight(1), nsAll.last) else (nsAll, 0.0)
        (seqCatOf(row, t, nCat), seqContOf(row, t, nCat, nCont),
         nsCatOf(row, t, nCat, nCont, nNsCat), nsC, label): Example
      }
  }

  /** The scoring output column every embedding path emits. */
  val EmbeddingField: StructField =
    StructField("embedding", ArrayType(FloatType, containsNull = false))

  /** Per-entity scoring in one pass: appends column `out` to every row of
    * `wide`, computed by one UDF over an `array<double>` of the narrowed
    * model inputs (seq cat codes col-major, seq conts, ns cat codes, ns
    * conts; null -> 0, codes exact as doubles), so no pass-through column
    * is boxed and nothing is joined back. `params` is broadcast once;
    * `rowFn` receives the broadcast value once per task and returns the
    * per-row function of (seq cat, seq cont, ns cat, ns cont). `t` is the
    * model's sequence length. The (id, score) callers select from the
    * result. */
  def score[R: TypeTag](wide: DataFrame, t: Int,
      seqCat: Seq[Seq[String]], seqCont: Seq[Seq[String]],
      nsCat: Seq[String], nsCont: Seq[String],
      params: Array[Double], out: String)(
      rowFn: Array[Double] =>
        (Array[Array[Int]], Array[Array[Double]], Array[Int], Array[Double]) => R)
      : DataFrame = {
    val bc = wide.sparkSession.sparkContext.broadcast(params)
    def code(c: String) = coalesce(col(c).cast("int"), lit(0)).cast("double")
    def real(c: String) = coalesce(col(c).cast("double"), lit(0.0))
    val inputs = seqCat.flatten.map(code) ++ seqCont.flatten.map(real) ++
      nsCat.map(code) ++ nsCont.map(real)
    val f = new Scorer(bc, rowFn, t, seqCat.size, seqCont.size, nsCat.size, nsCont.size)
    wide.withColumn(out, udf(f).apply(array(inputs: _*).cast("array<double>")))
  }

  /** The scoring UDF's function: splits the input array into the four
    * model-input groups and runs the forward built once per task. */
  private final class Scorer[R](bc: Broadcast[Array[Double]],
      rowFn: Array[Double] =>
        (Array[Array[Int]], Array[Array[Double]], Array[Int], Array[Double]) => R,
      t: Int, nCat: Int, nCont: Int, nNsCat: Int, nNsCont: Int)
      extends (Array[Double] => R) with Serializable {
    @transient private lazy val f = rowFn(bc.value)
    def apply(x: Array[Double]): R = {
      val ns = (nCat + nCont) * t
      f(Array.tabulate(t, nCat)((ts, c) => x(c * t + ts).toInt),
        Array.tabulate(t, nCont)((ts, c) => x((nCat + c) * t + ts)),
        Array.tabulate(nNsCat)(c => x(ns + c).toInt),
        Array.tabulate(nNsCont)(c => x(ns + nNsCat + c)))
    }
  }
}
