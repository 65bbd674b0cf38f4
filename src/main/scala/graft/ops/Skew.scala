package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Salted equi-join for skewed keys. AQE's skew-join handles sort-merge
 * skew AFTER a shuffle materializes; salting is the plan-level fix when a
 * handful of hot keys would otherwise pin whole partitions — the standard
 * recipe for fact⋈fact joins where neither side broadcasts.
 *
 * `left` (the skewed/fact side) gets a deterministic per-row salt in
 * [0, nSalts); `right` (the smaller-but-not-broadcastable side) is
 * replicated nSalts× via a literal-array explode. The join key becomes
 * (key, salt), splitting each hot key across nSalts reducers. Output rows
 * are identical to the plain equi-join (spec-pinned) — salting changes
 * the partitioning, never the result.
 *
 * The salt is `pmod(xxhash64(saltBy…), nSalts)` — content-derived and
 * replayable (same row → same salt on retry/speculation), never rand().
 * Pass high-cardinality row-identifying columns as `saltBy`.
 */
object Skew {

  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      nSalts: Int, saltBy: Seq[String]): DataFrame = {
    require(nSalts >= 2, "nSalts >= 2 (1 would be a plain join)")
    require(saltBy.nonEmpty, "saltBy columns required for a stable salt")
    val l = left.withColumn("__salt",
      pmod(xxhash64(saltBy.map(col): _*), lit(nSalts.toLong)).cast("int"))
    val r = right.withColumn("__salt",
      explode(array((0 until nSalts).map(lit): _*)))
    l.join(r, l(key) === r(key) && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /**
   * Key-skew diagnosis: the one-row report that tells you whether a
   * planned `groupBy`/`join` on `keyCol` needs [[saltedJoin]] at all —
   * n_keys, n_rows, the share of the single hottest key, the share of
   * the top-`topK`, and the Gini coefficient of the per-key count
   * distribution (0 = perfectly uniform, → 1 = one key owns everything).
   *
   * Shape: one map-side-combining count per key (the same aggregate the
   * skewed job itself would run), then windows over the KEY-count table —
   * vocabulary-sized, orders of magnitude below the data. Gini uses the
   * sorted-rank identity `G = 2·Σ i·cᵢ / (n·Σcᵢ) − (n+1)/n` with ranks
   * assigned (count asc, key asc) so ties are deterministic.
   */
  def report(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
    val ranked = counts
      .withColumn("i",
        row_number().over(Window.orderBy(col("c").asc, col("k").asc)))
      .withColumn("r",
        row_number().over(Window.orderBy(col("c").desc, col("k").asc)))
    ranked.agg(
        count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_c"),
        sum(when(col("r") <= topK, col("c")).otherwise(lit(0L))).as("topk_c"),
        // i·c summed in double: the long product overflows at 1e9 keys ×
        // hot counts; 1e-13 relative double error is invisible in a Gini
        sum(col("i").cast("double") * col("c")).as("ic"))
      .select(col("n_keys"), col("n_rows"),
        round(col("max_c").cast("double") / col("n_rows"), 6).as("top1_share"),
        round(col("topk_c").cast("double") / col("n_rows"), 6).as("topk_share"),
        round(lit(2.0) * col("ic")
            / (col("n_keys").cast("double") * col("n_rows"))
          - (col("n_keys") + lit(1.0)) / col("n_keys"), 6).as("gini"))
  }
}
