package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call, stamped with the workload op it belongs to. Times are
  * epoch microseconds; `codegenNs` and `gcMs` are the JVM-wide compile and
  * GC time spent while the span was open. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startUs: Long, endUs: Long, codegenNs: Long, gcMs: Long) {
  def wallUs: Long = endUs - startUs
}

/** A completed stage, attributed to the span that was open on the thread
  * that submitted its job (-1 when none was). */
final case class StageRec(span: Int, startUs: Long, endUs: Long, tasks: Int,
    cpuNs: Long, inputRows: Long, shuffleWriteBytes: Long)

/** One planning phase (analysis, optimization, planning) of an executed query. */
final case class PhaseRec(startUs: Long, endUs: Long)

/** Totals of a span and all its descendants. */
final case class SpanStats(span: Span, selfUs: Long, jobs: Int, stages: Int,
    tasks: Long, stageUs: Long, cpuNs: Long, inputRows: Long,
    shuffleWriteBytes: Long, planUs: Long) {
  def wallS: Double = span.wallUs / 1e6
  /** Span wall time during which none of its stages was running. */
  def driverS: Double = (span.wallUs - stageUs) / 1e6
  def coreUtil(cores: Int): Double =
    if (span.wallUs <= 0) 0.0 else cpuNs / 1e3 / (span.wallUs.toDouble * cores)
  def gcS: Double = span.gcMs / 1e3
  def codegenMs: Double = span.codegenNs / 1e6
}

/** Pure attribution of scheduler records to spans: no Spark needed, so the
  * rules below are spec-checked on synthetic events. */
object Attribution {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toArray.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-span totals over the span's subtree. Stage and job records are
    * matched by span id, never by arrival time, so records that arrive
    * after their span closed still count; their intervals are clipped to
    * the span. Planning phases carry no span id and are matched by time:
    * a phase belongs to every span whose interval contains its midpoint. */
  def compute(spans: Seq[Span], jobSpans: Seq[Int], stages: Seq[StageRec],
      phases: Seq[PhaseRec]): Map[Int, SpanStats] = {
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def subtree(id: Int): Set[Int] =
      children.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ subtree(c.id))
    val jobsBy = jobSpans.groupBy(identity).map { case (k, v) => k -> v.size }
    val stagesBy = stages.groupBy(_.span)
    spans.map { s =>
      val ids = subtree(s.id)
      val st = ids.toSeq.flatMap(i => stagesBy.getOrElse(i, Nil))
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> SpanStats(
        span = s,
        selfUs = s.wallUs - covered(kids, s.startUs, s.endUs),
        jobs = ids.toSeq.map(i => jobsBy.getOrElse(i, 0)).sum,
        stages = st.size,
        tasks = st.map(_.tasks.toLong).sum,
        stageUs = covered(st.map(x => (x.startUs, x.endUs)), s.startUs, s.endUs),
        cpuNs = st.map(_.cpuNs).sum,
        inputRows = st.map(_.inputRows).sum,
        shuffleWriteBytes = st.map(_.shuffleWriteBytes).sum,
        planUs = phases.filter { p =>
          // phase times are whole milliseconds: match on the midpoint of
          // the millisecond-rounded interval
          val mid = (p.startUs + p.endUs) / 2 + 500
          mid >= s.startUs && mid < s.endUs
        }.map(p => p.endUs - p.startUs).sum)
    }.toMap.filter { case (id, _) => byId.contains(id) }
  }
}

/**
 * Span recorder. With `spark = None` it records nothing and `span` only runs
 * its body, so the untraced runs execute exactly the same calls.
 *
 * Spans stay in memory until [[stats]]. The open span's id rides the
 * SparkContext thread-local properties, so every job a call submits
 * carries it; the listener below keys its records on it. The listener is
 * attached only inside [[recording]], so untraced ops of a traced run pay
 * none of its cost.
 */
final class Tracer(spark: Option[SparkSession]) {
  import Tracer._

  private val sc = spark.map(_.sparkContext)
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val listener = spark.map(_ => new Listener)
  /** Op index stamped on the spans opened while it is set. */
  var op: Long = -1L

  def span[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(c) =>
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = c.getLocalProperty(SpanKey)
      c.setLocalProperty(SpanKey, id.toString)
      stack = id :: stack
      val cg0 = CodeGenerator.compileTime
      val gc0 = gcMs()
      val t0 = nowUs()
      try body
      finally {
        val t1 = nowUs()
        done += Span(id, name, parent, op, t0, t1,
          CodeGenerator.compileTime - cg0, gcMs() - gc0)
        stack = stack.tail
        c.setLocalProperty(SpanKey, prev)
      }
  }

  /** Runs `body` with the listeners attached, then waits until the
    * listener bus has delivered every event `body` caused and detaches
    * them. */
  def recording[T](body: => T): T = (spark, listener) match {
    case (Some(s), Some(l)) =>
      s.sparkContext.addSparkListener(l)
      s.listenerManager.register(l.queries)
      try body
      finally {
        org.apache.spark.perfbench.Bus.drain(s.sparkContext)
        s.listenerManager.unregister(l.queries)
        s.sparkContext.removeSparkListener(l)
      }
    case _ => body
  }

  def spans: Seq[Span] = done.toSeq

  /** Attributes the records of every [[recording]] to the spans. */
  def stats(): Map[Int, SpanStats] = listener match {
    case Some(l) =>
      Attribution.compute(done.toSeq, l.jobs.asScala.toSeq,
        l.stages.asScala.toSeq, l.phases.asScala.toSeq)
    case _ => Map.empty
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** The recorder that records nothing. */
  val Off = new Tracer(None)

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock (same epoch as the
    * scheduler's millisecond stage times). */
  def nowUs(): Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Scheduler and planner records, keyed by span id. */
  final class Listener extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val phases = new ConcurrentLinkedQueue[PhaseRec]()

    private final class Acc(val span: Int) {
      var tasks = 0; var cpuNs = 0L; var rows = 0L; var shuffle = 0L
    }
    private val open = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Acc]()

    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s >= 0) jobs.add(s)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      open.put((i.stageId, i.attemptNumber()), new Acc(spanOf(e.properties)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = open.get((e.stageId, e.stageAttemptId))
      if (a != null && e.taskMetrics != null) a.synchronized {
        a.tasks += 1
        a.cpuNs += e.taskMetrics.executorCpuTime
        a.rows += e.taskMetrics.inputMetrics.recordsRead
        a.shuffle += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = open.remove((i.stageId, i.attemptNumber()))
      if (a != null && a.span >= 0)
        stages.add(StageRec(a.span,
          i.submissionTime.getOrElse(0L) * 1000,
          i.completionTime.getOrElse(0L) * 1000,
          a.tasks, a.cpuNs, a.rows, a.shuffle))
    }

    val queries: QueryExecutionListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.values.foreach { p =>
          phases.add(PhaseRec(p.startTimeMs * 1000, p.endTimeMs * 1000))
        }
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
  }
}
