package graft.ml

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField}
import graft.nn.AeModelConfig

/**
 * The one model-input path of the model-side operators (trainers, scoring,
 * explainers). [[inputs]] narrows a row to one `array<double>` inside the
 * Catalyst projection (whole-stage codegen) — seq cat codes column-major,
 * seq conts, ns cat codes, ns conts; null -> 0, codes exact as doubles —
 * so no pass-through column is deserialized and no cell is boxed, and
 * [[decode]] splits that array into the four model-input groups.
 */
private[graft] object Ingress {

  /** Per-row function of the four model-input groups: (T x nCat codes,
    * T x nCont doubles, ns codes, ns doubles). */
  type RowFn[R] =
    (Array[Array[Int]], Array[Array[Double]], Array[Int], Array[Double]) => R

  /** The model-input projection: every input of a row, in [[decode]]'s
    * layout, as one `array<double>`. */
  def inputs(seqCat: Seq[Seq[String]], seqCont: Seq[Seq[String]],
      nsCat: Seq[String], nsCont: Seq[String]): Column = {
    def code(c: String) = coalesce(col(c).cast("int"), lit(0)).cast("double")
    def real(c: String) = coalesce(col(c).cast("double"), lit(0.0))
    array(seqCat.flatten.map(code) ++ seqCont.flatten.map(real) ++
      nsCat.map(code) ++ nsCont.map(real): _*).cast("array<double>")
  }

  /** Splits one [[inputs]] array into the four model-input groups of a
    * model with sequence length `t` and hands them to `f`; values after
    * the groups (a label) are the caller's. */
  def decode[R](x: Array[Double], t: Int, nCat: Int, nCont: Int,
      nNsCat: Int, nNsCont: Int)(f: RowFn[R]): R = {
    val ns = (nCat + nCont) * t
    f(Array.tabulate(t, nCat)((ts, c) => x(c * t + ts).toInt),
      Array.tabulate(t, nCont)((ts, c) => x((nCat + c) * t + ts)),
      Array.tabulate(nNsCat)(c => x(ns + c).toInt),
      Array.tabulate(nNsCont)(c => x(ns + nNsCat + c)))
  }

  /** Checks, once per trainer or scoring call and before any task runs,
    * that the column lists match the model config. A short list would
    * index past the input array inside a task, a long one would be
    * dropped silently, and a seq group that is not `seqLen` long would
    * make [[decode]] read across group boundaries. */
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

  /** Training examples for the autoencoder trainers, read as primitive
    * arrays. The label (churn mode only) rides the projection as one extra
    * ns-cont double after the inputs. */
  def examples(wide: DataFrame, seqCat: Seq[Seq[String]],
      seqCont: Seq[Seq[String]], nsCat: Seq[String], nsCont: Seq[String],
      labelCol: Option[String]): RDD[Example] = {
    val spark = wide.sparkSession
    import spark.implicits._
    val t = seqCat.headOption.map(_.size)
      .orElse(seqCont.headOption.map(_.size)).getOrElse(0)
    val (nCat, nCont, nNsCat, nNsCont) = (seqCat.size, seqCont.size, nsCat.size, nsCont.size)
    val hasLabel = labelCol.isDefined
    wide.select(inputs(seqCat, seqCont, nsCat, nsCont ++ labelCol)).as[Array[Double]]
      .rdd.map { x =>
        val label = if (hasLabel) x(x.length - 1) else 0.0
        decode(x, t, nCat, nCont, nNsCat, nNsCont)((cat, cont, nc, nq) =>
          (cat, cont, nc, nq, label): Example)
      }
  }

  /** The scoring output column every embedding path emits. */
  val EmbeddingField: StructField =
    StructField("embedding", ArrayType(FloatType, containsNull = false))

  /** Per-entity scoring in one pass: appends column `out` to every row of
    * `wide`, computed by one UDF over the [[inputs]] array, so no
    * pass-through column is boxed and nothing is joined back. `params` is
    * broadcast once; `rowFn` receives the broadcast value once per task
    * and returns the per-row function of the [[decode]]d groups. `t` is
    * the model's sequence length. The (id, score) callers select from the
    * result. */
  def score[R: TypeTag](wide: DataFrame, t: Int,
      seqCat: Seq[Seq[String]], seqCont: Seq[Seq[String]],
      nsCat: Seq[String], nsCont: Seq[String],
      params: Array[Double], out: String)(rowFn: Array[Double] => RowFn[R])
      : DataFrame = {
    val bc = wide.sparkSession.sparkContext.broadcast(params)
    val f = new Scorer(bc, rowFn, t, seqCat.size, seqCont.size, nsCat.size, nsCont.size)
    wide.withColumn(out, udf(f).apply(inputs(seqCat, seqCont, nsCat, nsCont)))
  }

  /** The scoring UDF's function: decodes the input array and runs the
    * forward built once per task. */
  private final class Scorer[R](bc: Broadcast[Array[Double]],
      rowFn: Array[Double] => RowFn[R],
      t: Int, nCat: Int, nCont: Int, nNsCat: Int, nNsCont: Int)
      extends (Array[Double] => R) with Serializable {
    @transient private lazy val f = rowFn(bc.value)
    def apply(x: Array[Double]): R = decode(x, t, nCat, nCont, nNsCat, nNsCont)(f)
  }
}
