package graft

import org.apache.spark.sql.functions._
import graft.analyze.{Capacity, Hungarian}
import graft.nn.AeConfig
import graft.prep.Sampling
import graft.sources.Handover

/** Splits/sampling, handover sink, capacity formulas, Hungarian matching. */
class MiscSpec extends SparkSpec {
  import spark.implicits._

  test("G3 split: count preservation and disjointness") {
    val df = (1 to 1000).toDF("id")
    val parts = Sampling.split(df, Seq(0.7, 0.2, 0.1))
    assert(parts.map(_.count()).sum == 1000)
    val all = parts.map(_.select("id").as[Int].collect().toSet)
    assert(all(0).intersect(all(1)).isEmpty && all(0).intersect(all(2)).isEmpty)
  }

  test("G5 oversample: classes equalized; class weights inverse to frequency") {
    val df = ((1 to 90).map(i => (i, 0)) ++ (1 to 10).map(i => (100 + i, 1)))
      .toDF("id", "y")
    val up = Sampling.oversampleMinority(df, "y")
    val counts = up.groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) == 90 && counts(1) >= 80) // sampled approx to parity
    val w = Sampling.withClassWeights(df, "y")
    val ws = w.select("y", "class_weight").distinct().collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(ws(0) - 100.0 / (2 * 90)) < 1e-9)
    assert(math.abs(ws(1) - 100.0 / (2 * 10)) < 1e-9)
  }

  test("G5 SMOTE-NC: exact top-up, convex synthesis, neighbor-local cats") {
    // minority class = two well-separated clusters with distinct cats:
    // cluster A near 0 tagged "a", cluster B near 100 tagged "b". True
    // k-NN synthesis must interpolate WITHIN a cluster (no point lands in
    // the 20..80 gap) and take the cat from the neighborhood — replication
    // or random-pair lerp would both fail this.
    val maj = (1 to 60).map(i => ("m", i * 1.0, 0))
    val clA = (1 to 8).map(i => ("a", i * 0.5, 1))
    val clB = (1 to 8).map(i => ("b", 100.0 + i * 0.5, 1))
    val df = (maj ++ clA ++ clB).toDF("seg", "x", "y")
    val out = Sampling.smoteNC(df, "y", Seq("seg"), Seq("x"), k = 3, seed = 11L)
    val counts = out.groupBy("y").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) == 60 && counts(1) == 60, s"exact equalization: $counts")

    val minority = out.filter(col("y") === 1)
      .select("seg", "x").collect().map(r => (r.getString(0), r.getDouble(1)))
    // originals pass through; 44 rows are synthetic
    assert(minority.length == 60)
    minority.foreach { case (seg, x) =>
      val inA = x >= 0.5 && x <= 4.0
      val inB = x >= 100.5 && x <= 104.0
      assert(inA || inB, s"synthetic point escaped its cluster: x=$x")
      assert(if (inA) seg == "a" else seg == "b",
        s"cat not taken from the neighborhood: ($seg, $x)")
    }

    // determinism: same seed, same synthesis
    val again = Sampling.smoteNC(df, "y", Seq("seg"), Seq("x"), k = 3, seed = 11L)
      .filter(col("y") === 1)
      .select("seg", "x").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(again.sortBy(t => (t._1, t._2)).toSeq ==
      minority.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("A1 handover: round trip with block-size option") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val path = Handover.write(df, tempDir("graft_handover").toString, partitions = 4)
    val back = Handover.read(spark, path)
    assert(back.count() == 100)
    assert(back.rdd.getNumPartitions >= 1)
  }

  test("A1 handover: read takes the schema from the sidecar, no job; plain parquet still reads") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "v", "x")
    val base = tempDir("graft_handover_schema").toString
    val path = Handover.write(df, base, partitions = 4)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    val back = try {
      val r = Handover.read(spark, path)
      org.apache.spark.sql.graftbridge.CatalystBridge.drainListenerBus(sc)
      r
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0)
    assert(back.schema == spark.read.parquet(path).schema)
    assert(back.collect().toSet == df.collect().toSet)
    // a directory without the sidecar falls back to inference
    val plain = s"$base/plain"
    df.write.parquet(plain)
    assert(Handover.read(spark, plain).collect().toSet == df.collect().toSet)
  }

  test("J11 capacity formulas match the actual initialized weight counts") {
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 2, pf = 4, seqLen = 10,
      vocabSizes = Seq(5, 11), nCont = 3)
    // encoder blocks of the layout: embeddings, linear_seq, positions and
    // the encoder layers (the reconstruction heads are not encoder params)
    val actual = cfg.layout.specs.filterNot(_.name.startsWith("head"))
      .map(_.size.toLong).sum
    val formula = Capacity.transformerEncoderParams(
      cfg.vocabSizes.map(_.toLong), nCont = 3,
      d = 8, layers = 2, pf = 4, maxLen = cfg.tEff)
    assert(actual == formula, s"actual=$actual formula=$formula")
  }

  test("K2 Hungarian: recovers permuted cluster labels exactly") {
    // predicted cluster = (truth + 1) mod 3, perfect under permutation
    val pairs = for (t <- 0 until 3; _ <- 1 to 10) yield ((t + 1) % 3, t)
    assert(Hungarian.clusterAccuracy(pairs, 3) == 1.0)
    val noisy = pairs ++ Seq((0, 0), (1, 1)) // 2 rows off the permutation
    assert(Hungarian.clusterAccuracy(noisy, 3) > 0.9)
  }

  test("CacheScope: a consumer built BEFORE binding (the bound instance itself) still releases") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq(1, 2, 3).toDF("x")
    // df's QueryExecution predates the binding, so the execution-id
    // watermark alone would never fire for it; the identity escape
    // (qe eq df.queryExecution) must release the block
    val bound = graft.core.CacheScope.autoUnpersist(df)
    assert(bound.collect().length == 3)
    val deadline = System.nanoTime + 30_000_000_000L
    def extra = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (extra.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(extra.isEmpty, "pre-binding consumer did not release the cache block")
  }

  test("Prebuilt: state built under one code token is not served under another") {
    import graft.core.Prebuilt
    val src = tempFile("graft_prebuilt_src", ".parquet").toFile
    var builds = 0
    def stateFor(token: String) = Prebuilt.dir("spec", src, token, 7) { p =>
      builds += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "fitted_by"), token)
    }
    def fittedBy(dir: String) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "fitted_by"))
    val oldCode = stateFor("old-code")
    assert(stateFor("old-code") == oldCode && builds == 1, "same token must reuse")
    val newCode = stateFor("new-code")
    assert(newCode != oldCode && builds == 2 && fittedBy(newCode) == "new-code")
    // no temp sibling is left behind once a build is renamed into place
    val parent = new java.io.File(newCode).getParentFile
    val name = new java.io.File(newCode).getName
    assert(!parent.list().exists(_.startsWith(name + ".tmp-")))
    java.nio.file.Files.delete(java.nio.file.Paths.get(newCode, "fitted_by"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(newCode))
    src.delete()
    // the token tracks bytecode: distinct classes, distinct tokens
    assert(Prebuilt.codeToken(graft.ops.Cf.getClass) ==
      Prebuilt.codeToken(graft.ops.Cf.getClass))
    assert(Prebuilt.codeToken(graft.ops.Cf.getClass) !=
      Prebuilt.codeToken(classOf[graft.ops.SearchIndex]))
  }

  test("Prebuilt: a rebuild under a new code token leaves exactly one directory") {
    import graft.core.Prebuilt
    val src = tempFile("graft_prebuilt_src", ".parquet").toFile
    def stateFor(token: String) = Prebuilt.dir("spec", src, token, 7) { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "fitted_by"), token)
    }
    val oldCode = new java.io.File(stateFor("old-code"))
    // another parameter set of the same source is a different prefix
    val other = new java.io.File(Prebuilt.dir("spec", src, "old-code", 8)(_ => ()))
    val newCode = new java.io.File(stateFor("new-code"))
    // graft_spec_<h(path, parts)>_<h(size, mtime, token)>
    val prefix = newCode.getName.dropRight(16)
    assert(oldCode.getName.startsWith(prefix) && !other.getName.startsWith(prefix))
    assert(newCode.getParentFile.list().filter(_.startsWith(prefix)).toSeq ==
      Seq(newCode.getName))
    assert(!oldCode.exists() && other.isDirectory)
    for (d <- Seq(newCode, other)) {
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
    }
  }

  test("Tables.load: a second load of an unchanged table runs no job; a rewritten table is re-inferred") {
    import graft.core.Tables
    val dir = tempDir("graft_tables_load").toString
    val v1 = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    v1.write.parquet(s"$dir/t.parquet")
    Tables.load(spark, dir, "t")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    val again = try {
      val r = Tables.load(spark, dir, "t")
      org.apache.spark.sql.graftbridge.CatalystBridge.drainListenerBus(sc)
      r
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0)
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.collect().toSet == v1.collect().toSet)
    // same path, new files and a new schema
    val v2 = (1 to 20).map(i => (s"k$i", i * 0.5, i)).toDF("k", "x", "n")
    v2.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.load(spark, dir, "t")
    assert(back.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(back.columns.toSeq == Seq("k", "x", "n"))
    assert(back.collect().toSet == v2.collect().toSet)
  }

  test("Bench.adjudicate: quiet retry heals a load spike; flag survives only a confirmed-hot retry") {
    import graft.Bench.{adjudicate, ContaminatedAb}
    // mid-run load spike: both passes inflated (8.0s @ ab 2.1), the
    // end-of-run retry runs quiet and faster -> the retry's sample and
    // CLEAN bracket are reported; contaminated_queries drops the query
    assert(adjudicate(8.0, 2.1, 5.1, 1.05) == ((5.1, 1.05)))
    assert(adjudicate(8.0, 2.1, 5.1, 1.05)._2 < ContaminatedAb)
    // retry slower but clean-bracketed: contention only inflates, so the
    // original minimum was real — time stands, clean bracket clears flag
    assert(adjudicate(5.0, 1.8, 5.6, 1.1) == ((5.0, 1.1)))
    // retry ALSO hot: nothing learned — original pair kept, flag survives
    val (t, ab) = adjudicate(8.0, 2.1, 9.0, 2.4)
    assert(t == 8.0 && ab == 2.1 && ab >= ContaminatedAb,
      "a confirmed-hot retry must keep the query flagged")
    // retry faster but itself hot-bracketed: better sample still wins,
    // and its hot bracket honestly keeps the flag
    assert(adjudicate(8.0, 2.1, 7.0, 1.9) == ((7.0, 1.9)))
  }
}
