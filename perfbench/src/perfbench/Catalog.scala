package perfbench

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/**
 * `catalog`: operator queries through `SparkEntry.queries` into the noop
 * sink, over tables generated from a fixed seed (so the row counts are
 * fixed); the run's seed only permutes the query order. One op is one
 * pass over all queries; items are queries.
 *
 * The queries that serve from state prebuilt on an earlier pass
 * (`q_bm25_prebuilt`, `q_bm25_rm3_prebuilt`, `q_ql_prebuilt`,
 * `q_item_cf_incremental`, `q_item_cf_touched`) are left out: their
 * timed region excludes the fit.
 */
final class Catalog(ctx: Ctx) extends Workload {
  private var dir: String = _
  private val order = new scala.util.Random(ctx.seed).shuffle(Catalog.Queries)

  /** Generates the tables and runs one checked pass over them; the first
    * set-up's pass compiles every plan. */
  def setup(): Op = {
    val (ms, gen) = Main.timed {
      dir = ctx.path("catalog")
      Gen.catalogTables(ctx.spark, dir)
    }
    val first = pass(Tracer.Off)
    first.copy(ms = ms + first.ms, errors = gen.left.toSeq ++ first.errors)
  }

  /** None: the set-up passes warm every plan. */
  def warmup(): Seq[Op] = Nil

  private def pass(tr: Tracer): Op = {
    val errors = Seq.newBuilder[String]
    var ms = 0.0
    order.foreach { q =>
      val (t, res) = Main.timed {
        tr.span(s"catalog.$q") {
          val obs = Observation(q)
          SparkEntry.queries(q)(ctx.spark, dir).observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          obs.get("rows").asInstanceOf[Long]
        }
      }
      ms += t
      res match {
        case Left(e) => errors += s"$q: $e"
        case Right(rows) => ctx.catalogRows.get(q) match {
          case Some(want) if want == rows =>
          case want => errors += s"$q: $rows rows, recorded ${want.getOrElse("none")}"
        }
      }
      System.err.println(f"catalog $q ${t / 1e3}%.3f s")
    }
    Op(ms, order.size, errors.result(), attempts = order.size)
  }

  def op(i: Int, tr: Tracer): Op = pass(tr)

  def layers(tr: Tracer, ops: Seq[Op]): Map[String, Double] = {
    val st = tr.stats()
    val all = Catalog.Queries.flatMap(q => Layers.named(st, s"catalog.$q"))
    Catalog.Queries.flatMap { q =>
      val ss = Layers.named(st, s"catalog.$q")
      def m(f: SpanStats => Double) = Stats.median(ss.map(f))
      Seq(s"catalog.$q.s" -> m(_.wallS), s"catalog.$q.jobs" -> m(_.jobs.toDouble),
        s"catalog.$q.driver_s" -> m(_.driverS), s"catalog.$q.codegen_ms" -> m(_.codegenMs))
    }.toMap + ("catalog.core_util" ->
      all.map(_.cpuNs / 1e9).sum / (all.map(_.wallS).sum * ctx.cores))
  }
}

object Catalog {
  /** Two of the queries with the most jobs and driver time between
    * stages (graph iteration, MinHash dedup), and a `graft.stats.Planners`
    * query (Simpson's-paradox scan). */
  val Queries: Seq[String] = Seq("q_hits", "q_dedup_minhash_fast", "q_simpson_scan")
}
