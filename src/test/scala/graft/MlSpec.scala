package graft

import org.apache.spark.sql.functions._
import graft.nn.Dims
import graft.train.{LinearAutoencoder, TrainConfig}

/** Model-side specs: encoder numerics, training convergence, scoring shape. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  test("embedding dim rule matches factory.py:63-64") {
    assert(Dims.embeddingDim(3) == 2)
    assert(Dims.embeddingDim(49) == 25)
    assert(Dims.embeddingDim(100000) == 25)
  }

  test("linear AE training: loss strictly decreases on overfit-able data") {
    val data = (1 to 50).map(i => (i.toLong, i % 7 * 0.1, (i % 5) * 0.2, i % 3 * 0.3))
      .toDF("id", "a", "b", "c")
    val res = LinearAutoencoder.fit(data, Seq("a", "b", "c"),
      TrainConfig(nHidden = 3, lr = 5e-2, maxEpochs = 15, warmupEpochs = 2))
    assert(res.losses.size >= 3)
    assert(res.losses.last < res.losses.head,
      s"loss did not decrease: ${res.losses.head} -> ${res.losses.last}")
  }

  test("scoring query emits one embedding row per entity, scalar projections") {
    val out = SparkEntry.queries("q_score_embeddings")(spark, sf)
    val n = out.count()
    val users = graft.core.Tables.load(spark, sf, "events")
      .filter(col("ts") > to_timestamp(lit("2024-01-11 00:00:00")))
      .select("user_id").distinct().count()
    assert(n == users) // inner customer join: every user_id is a custkey
    // array payloads are projected to sortable scalars for the driver
    assert(out.columns.toSet == Set("user_id", "emb_norm", "emb_d0", "emb_d1", "emb_d2", "emb_d3"))
    val row = out.orderBy("user_id").head()
    assert(row.getDouble(out.columns.indexOf("emb_norm")) > 0.0)
  }

  test("training query: per-epoch losses decrease overall") {
    val losses = SparkEntry.queries("q_train_ae_loss")(spark, sf)
      .orderBy("epoch").select("loss").as[Double].collect()
    assert(losses.last < losses.head)
  }
}
