package graft

import org.apache.spark.sql.functions._
import graft.analyze.{Dec, Hungarian}
import graft.core.ColumnRoles
import graft.ml.Persist
import graft.prep.{CasprFeaturizer, FeaturizerConfig}

/** I17 DEC refinement + A4 persistence round trips. */
class DecPersistSpec extends SparkSpec {
  import spark.implicits._

  test("DEC: KL decreases and separable clusters stay recovered") {
    // 3 well-separated gaussian blobs in 4-d
    val rng = new scala.util.Random(1)
    val centers = Seq(Array(5f, 0f, 0f, 0f), Array(0f, 5f, 0f, 0f), Array(0f, 0f, 5f, 0f))
    val pts = for (c <- 0 until 3; _ <- 1 to 60) yield {
      val base = centers(c)
      (c.toLong * 100 + rng.nextInt(100000), c,
        base.map(v => v + rng.nextGaussian().toFloat * 0.5f).toSeq)
    }
    val df = pts.toDF("id", "truth", "embedding")
    val res = Dec.refine(df, "embedding", k = 3, iterations = 8, lr = 0.5)
    assert(res.klByIter.last <= res.klByIter.head + 1e-9,
      s"KL not non-increasing: ${res.klByIter}")
    val assigned = Dec.assign(df, "embedding", "id", res.centroids)
      .join(df.select($"id", $"truth"), "id")
      .select($"cluster".cast("int"), $"truth").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(Hungarian.clusterAccuracy(assigned.toSeq, 3) > 0.95)
  }

  test("featurizer + params persistence round trips") {
    val ev = graft.core.Tables.load(spark, sf, "events")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value", "ts"),
      Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 3, historyDays = 21,
      tiebreak = Seq("event_id"))
    val model = CasprFeaturizer.fit(ev, cfg)
    val dir = tempDir("graft_persist").toString
    Persist.saveFeaturizer(model, dir)
    val loaded = Persist.loadFeaturizer(spark, dir, cfg)
    // identical transforms
    val a = model.transform(ev).orderBy("user_id").collect()
    val b = loaded.transform(ev).orderBy("user_id").collect()
    assert(a.sameElements(b))
    // flat params
    val params = Array(1.5, -2.25, 3.125, 0.0)
    Persist.saveParams(params, s"$dir/params.bin")
    assert(Persist.loadParams(s"$dir/params.bin").sameElements(params))
  }
}
