package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One operation of a workload: its timed wall time, the items it
  * processed, the failed output checks (or the exception), and per-op
  * values the traced run reports. An op made of several checked parts
  * (a catalog pass) counts each part as one attempt, with at most one
  * error line per part. */
final case class Op(ms: Double, items: Long, errors: Seq[String],
    extra: Map[String, Double] = Map.empty, attempts: Int = 1, liveHeapMb: Double = 0.0) {
  def failures: Int = math.min(attempts, errors.size)
}

/** Run-wide settings handed to every workload. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, dataDir: String,
    catalogRows: Map[String, Long]) {
  private var n = 0
  /** A fresh directory path under this run's data directory. */
  def path(name: String): String = { n += 1; s"$dataDir/$name-$n" }
}

trait Workload {
  /** Builds every input the timed operations need and runs the program
    * work they depend on; run several times, each run replacing the
    * previous one's state. Returns that work as an op whose `ms` is the
    * set-up time (output checks excluded) and whose outputs are checked. */
  def setup(): Op
  /** Untimed operations after set-up (JIT, codegen cache); still checked. */
  def warmup(): Seq[Op]
  /** One operation; times itself and checks its outputs afterwards. */
  def op(i: Int, tr: Tracer): Op
  /** Per-layer metrics from the traced ops of the run. */
  def layers(tr: Tracer, ops: Seq[Op]): Map[String, Double]
}

/**
 * Entry point: `--workload --seed --seconds --trace --data-dir --cores
 * --catalog-rows file`. Prints one JSON result line last on stdout:
 * correct, attempted, failed and the metrics as name -> value (the runner
 * attaches the units from BENCHMARK.json).
 *
 * The untraced run (`--trace 0`) measures the end-to-end metrics over
 * `--seconds` of ops. The traced run (`--trace 1`) traces half of its ops
 * and reports the per-layer metrics from them, plus the tracing overhead
 * between the untraced and the traced ops; the listeners are attached only
 * while a traced op runs.
 */
object Main {

  val SetupReps = 3
  /** Timed ops per run at the least. With one, whether a second op fitted
    * in `--seconds` depended on timing, and the runs with two reported a
    * later, faster point of the JIT curve: medians split into two groups
    * about 20% apart. Two ops of either workload take longer than
    * `run_seconds`, so every run times exactly two. */
  val MinOps = 2
  /** Time given to Spark's ContextCleaner between the two GCs after an op. */
  val CleanerWaitMs = 300L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt

    val spark = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opts("data-dir") + "/spark-local")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val catalogRows = readCounts(opts("catalog-rows"))
    val ctx = Ctx(spark, seed, cores, opts("data-dir") + "/data", catalogRows)
    val w: Workload = workload match {
      case "caspr" => new Caspr(ctx)
      case "catalog" => new Catalog(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }

    val setups = Seq.fill(SetupReps)(w.setup())
    val t0 = System.nanoTime()
    val warm = w.warmup()
    System.err.println(f"setup ${setups.map(_.ms).sum / 1e3}%.1f s (${SetupReps} reps), " +
      f"warm-up ${(System.nanoTime() - t0) / 1e9}%.1f s (${warm.size} ops)")

    // timed region: ops until --seconds have passed; a traced run runs
    // them in untraced, traced, traced, untraced blocks, so both kinds sit
    // at the same mean point of the JVM's warm-up curve
    val tracer = if (traced) new Tracer(Some(spark)) else Tracer.Off
    val isTraced = (k: Int) => traced && (k % 4 == 1 || k % 4 == 2)
    val h0 = Host.sample()
    val timed = loop(w, spark.sparkContext, setups.size + warm.size, seconds, if (traced) 4 else 1)(k =>
      if (isTraced(k)) tracer else Tracer.Off)
    val stealPct = Host.stealShare(h0, Host.sample()) * 100
    System.err.println(f"steal $stealPct%.1f%% of busy CPU time in the timed region")
    val (tracedOps, untraced) = timed.indices.partition(isTraced) match {
      case (t, u) => (t.map(timed), u.map(timed))
    }

    val all = setups ++ warm ++ timed
    val attempted = all.map(_.attempts).sum
    val failed = all.map(_.failures).sum
    all.zipWithIndex.filter(_._1.errors.nonEmpty).foreach { case (o, i) =>
      System.err.println(s"op $i failed: ${o.errors.mkString("; ")}")
    }

    def rate(ops: Seq[Op]) = ops.map(_.items).sum / (ops.map(_.ms).sum / 1e3)
    val metrics: ListMap[String, Double] =
      if (!traced) {
        val ms = untraced.map(_.ms)
        val (pct, tail) = Stats.tail(ms)
        System.err.println(f"ops=${untraced.size} tail=p$pct%.1f")
        ListMap(
          "setup_s" -> Stats.median(setups.map(_.ms / 1e3)),
          "items_per_s" -> rate(untraced),
          "op_p50_ms" -> Stats.median(ms),
          "op_tail_ms" -> tail,
          "ok_frac" -> (attempted - failed).toDouble / attempted,
          "live_heap_mb" -> untraced.map(_.liveHeapMb).max)
      } else {
        val out = new java.io.File(opts("data-dir"), "spans.json")
        val stats = tracer.stats()
        java.nio.file.Files.writeString(out.toPath, Stats.json(tracer.spans.map { s =>
          val st = stats(s.id)
          ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "op" -> s.op, "start_us" -> s.startUs, "end_us" -> s.endUs,
            "self_us" -> st.selfUs, "jobs" -> st.jobs, "tasks" -> st.tasks,
            "driver_s" -> st.driverS, "plan_ms" -> st.planUs / 1e3,
            "codegen_ms" -> st.codegenMs, "gc_s" -> st.gcS)
        }))
        ListMap.from(w.layers(tracer, tracedOps).toSeq.sortBy(_._1)) +
          ("trace.overhead_pct" -> (rate(untraced) / rate(tracedOps) - 1) * 100) +
          ("host.steal_pct" -> stealPct)
      }
    val result = ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics)
    spark.stop()
    println(Stats.json(result))
  }

  /** Runs operations, in whole blocks of `block` and at least [[MinOps]],
    * until `seconds` have passed; op k runs under `tracerFor(k)`. A full GC before each op gives
    * every op the same clean heap; the heap left after the op is the op's
    * live heap. It is taken after the listener bus has drained (the
    * program releases cached tables from a query listener) and after a
    * second GC once Spark's ContextCleaner has dropped the blocks of the
    * RDDs and broadcasts the first GC found unreachable; a single GC left
    * 90 to 260 MB depending on which query ran last. */
  private def loop(w: Workload, sc: SparkContext, first: Int, seconds: Double,
      block: Int)(tracerFor: Int => Tracer): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    System.gc()
    while (ops.size < MinOps || ops.size % block != 0 || System.nanoTime() < end) {
      val tr = tracerFor(ops.size)
      tr.op = first + ops.size
      val op = tr.recording(w.op(first + ops.size, tr))
      System.err.println(f"op ${first + ops.size}: ${op.ms}%.1f ms")
      org.apache.spark.perfbench.Bus.drain(sc)
      System.gc()
      Thread.sleep(CleanerWaitMs)
      System.gc()
      ops += op.copy(liveHeapMb = heapUsedMb())
    }
    ops.toSeq
  }

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

  /** Runs `body` and returns its milliseconds with its value, or with the
    * exception it threw (a failed op, never dropped). The milliseconds are
    * wall time less the share the hypervisor stole ([[Host]]). */
  def timed[T](body: => T): (Double, Either[String, T]) = {
    val h0 = Host.sample()
    val t0 = System.nanoTime()
    val r =
      try Right(body)
      catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    ((System.nanoTime() - t0) / 1e6 * (1 - Host.stealShare(h0, Host.sample())), r)
  }

  /** Runs the untimed output checks; a check that throws is a failure. */
  def check(body: => Seq[String]): Seq[String] =
    try body catch { case e: Exception => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}") }

  private def readCounts(file: String): Map[String, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    "\"([a-z0-9_]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

/**
 * CPU time the hypervisor gave to other guests while this machine's CPUs
 * had work (`steal` in /proc/stat). On a shared host, runs made while
 * `top` showed 25-50% steal took up to 35% longer in every phase; the
 * benchmark's times are wall time scaled
 * by (1 - steal share), the share being steal over busy-plus-stolen CPU
 * time, so that they measure the program rather than its neighbours.
 * Where /proc/stat cannot be read the share is 0.
 */
object Host {
  final case class Sample(busy: Long, steal: Long)

  def sample(): Sample =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      // cpu user nice system idle iowait irq softirq steal ...
      val f = try src.getLines().next().trim.split("\\s+").tail.map(_.toLong) finally src.close()
      Sample(f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f(7))
    } catch { case _: Exception => Sample(0L, 0L) }

  def stealShare(a: Sample, b: Sample): Double = {
    val busy = b.busy - a.busy
    if (busy <= 0) 0.0 else math.min(1.0, math.max(0.0, (b.steal - a.steal).toDouble / busy))
  }
}
