package perfbench

/**
 * Specs of the benchmark's own code: the seeded generator and the span
 * attribution. Plain assertions, no Spark session:
 *
 *     python3 perfbench/selftest.py
 */
object Specs {

  private var failures = 0

  private def spec(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getMessage}")
    }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def rowsOf(log: Gen.Log) = log.rows.map(_.toSeq).toSeq

  def main(args: Array[String]): Unit = {
    val events = 50000

    spec("generator: the same seed gives identical data") {
      check(rowsOf(Gen.eventLog(11, 500)) == rowsOf(Gen.eventLog(11, 500)), "logs differ")
    }

    spec("generator: a different seed gives different data") {
      check(rowsOf(Gen.eventLog(11, 500)) != rowsOf(Gen.eventLog(12, 500)), "logs are equal")
    }

    for (seed <- 1L to 3L) {
      val log = Gen.eventLog(seed, events)
      val counts = log.events.map(_.length).sorted
      val rows = log.rows.toSeq
      spec(s"generator seed $seed: the log holds exactly the requested events") {
        check(rows.size == events && log.numEvents == events, s"${rows.size} events")
        check(rows.map(_.getLong(0)) == (1L to events), "event ids are not 1..n")
      }
      spec(s"generator seed $seed: events per entity are heavy-tailed") {
        val median = counts(counts.length / 2)
        check(counts.last >= 10 * median, s"max ${counts.last} vs median $median")
        check(counts.contains(1), "no entity with exactly one event")
        check(counts.count(_ > Caspr.SeqLen) > counts.length / 4,
          s"only ${counts.count(_ > Caspr.SeqLen)} entities exceed seqLen")
      }
      spec(s"generator seed $seed: in-window item cardinality exceeds the 30k cap") {
        val items = rows.filter(r => Gen.inWindow(r.getTimestamp(2).getTime))
          .map(_.getString(4)).distinct.size
        check(items > 30000, s"$items distinct in-window items")
      }
      spec(s"generator seed $seed: the caspr log's item cardinality exceeds its cap") {
        val small = Gen.eventLog(seed, Caspr.Events).rows
        val items = small.filter(r => Gen.inWindow(r.getTimestamp(2).getTime))
          .map(_.getString(4)).toSet.size
        check(items > 5 * Caspr.Cap, s"$items distinct in-window items")
      }
      spec(s"generator seed $seed: about 5% of values are null") {
        val f = rows.count(_.isNullAt(5)).toDouble / rows.size
        check(f > 0.04 && f < 0.06, s"null fraction $f")
      }
      spec(s"generator seed $seed: some events fall outside the history window") {
        val f = rows.count(r => !Gen.inWindow(r.getTimestamp(2).getTime)).toDouble / rows.size
        check(f > 0.1 && f < 0.25, s"out-of-window fraction $f")
        check(log.activeIds.size < log.ids.length, "every entity keeps an in-window event")
      }
    }

    // --- span attribution on synthetic records (times in microseconds)
    def span(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, 0, a, b, 0, 0)
    def stage(span: Int, a: Long, b: Long, tasks: Int = 1) =
      StageRec(span, a, b, tasks, cpuNs = 1000L * (b - a), inputRows = 10, shuffleWriteBytes = 0)

    spec("trace: union of intervals, clipped") {
      check(Attribution.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30, "union")
      check(Attribution.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17, "clipped")
      check(Attribution.covered(Nil, 0, 100) == 0, "empty")
    }

    spec("trace: nested spans roll counts up and subtract children from self time") {
      val spans = Seq(span(1, 0, 10, 40), span(2, 1, 15, 25), span(0, -1, 0, 100))
      val st = Attribution.compute(spans, jobSpans = Seq(0, 1, 2, 2),
        stages = Seq(stage(2, 16, 24, tasks = 3), stage(0, 50, 60)), phases = Nil)
      check(st(0).selfUs == 70, s"root self ${st(0).selfUs}")
      check(st(1).selfUs == 20, s"child self ${st(1).selfUs}")
      check(st(0).jobs == 4 && st(1).jobs == 3 && st(2).jobs == 2, "jobs roll up")
      check(st(0).tasks == 4 && st(1).tasks == 3, "tasks roll up")
      check(st(0).stageUs == 18 && st(2).stageUs == 8, "stage time")
      check(st(2).driverS == 2e-6, s"leaf driver ${st(2).driverS}")
    }

    spec("trace: overlapping children count once in self time") {
      val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80))
      val st = Attribution.compute(spans, Nil, Nil, Nil)
      check(st(0).selfUs == 30, s"self ${st(0).selfUs}")
    }

    spec("trace: stage records that arrive after their span ended still count") {
      // the stage record is appended after later spans closed and runs past
      // its span's end: matched by id, its interval clipped to the span
      val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 90))
      val late = stage(1, 30, 55)
      val st = Attribution.compute(spans, Seq(1), Seq(stage(2, 60, 70), late), Nil)
      check(st(1).stages == 1 && st(1).stageUs == 10, s"child stage ${st(1).stageUs}")
      check(st(1).driverS == 20e-6, s"child driver ${st(1).driverS}")
      check(st(2).stages == 1, "sibling keeps only its own stage")
      check(st(0).stageUs == 35 && st(0).stages == 2, s"root stage ${st(0).stageUs}")
    }

    spec("trace: planning phases are matched to spans by time") {
      val spans = Seq(span(0, -1, 0, 100000), span(1, 0, 10000, 40000))
      val st = Attribution.compute(spans, Nil, Nil,
        Seq(PhaseRec(12000, 14000), PhaseRec(60000, 61000)))
      check(st(1).planUs == 2000, s"child plan ${st(1).planUs}")
      check(st(0).planUs == 3000, s"root plan ${st(0).planUs}")
    }

    spec("stats: tail percentile keeps ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.tail(xs) == (90.0, 90.0), s"${Stats.tail(xs)}")
      check(Stats.tail(xs.take(20)) == (50.0, 10.0), s"${Stats.tail(xs.take(20))}")
      check(Stats.tail(xs.take(5)) == (100.0, 5.0), "few samples: the maximum")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
    }

    if (failures > 0) {
      println(s"$failures spec(s) failed")
      sys.exit(1)
    }
    println("all specs passed")
  }
}
