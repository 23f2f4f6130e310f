package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed region. Times are `System.nanoTime`; `parent` is -1 for an
  * operation's root span.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job with the task metrics summed over its stages. */
final class JobRec(val jobId: Int, val group: Option[String], val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Spans around each operation and each library call inside it, plus the
  * Spark jobs, task metrics and planning phases the listeners record. All
  * of it stays in memory until the run ends. A disabled tracer opens no
  * span; its listeners are registered only by [[install]].
  */
final class Tracer(spark: SparkSession, @volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[(Int, Long)]](() => Nil)

  // wall-clock anchor: listener times are epoch ms, spans are nanoTime
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** Planning phases (analysis, optimization, planning) of each executed
    * query as (start ms, total ms).
    */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  private var registered = false

  /** Register the listeners (idempotent). They record every event from
    * then on: the bus delivers events late, so the attribution to traced
    * operations happens afterwards, by job group and by time.
    */
  def install(): Unit = synchronized {
    if (!registered) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
      registered = true
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (registered) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def op[A](id: Long, name: String)(body: => A): A =
    if (!enabled) body else timed(id, name)(body)

  /** A span around one library call inside the current operation; `attrs`
    * are noted against it.
    */
  def call[A](name: String, attrs: (String, Double)*)(body: => A): A =
    if (!enabled) body
    else stack.get() match {
      case (_, op) :: _ =>
        attrs.foreach { case (k, v) => note(name, k, v) }
        timed(op, name)(body)
      case Nil => body
    }

  private def timed[A](op: Long, name: String)(body: => A): A = {
    val id = nextId.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(-1)
    stack.set((id, op) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  def allSpans: Vector[Span] = spans.asScala.toVector

  /** Sizes and ratios observed around a span (rows, bytes, files scanned),
    * as (span name, attribute, value).
    */
  private val notes = new ConcurrentLinkedQueue[(String, String, Double)]()

  def note(span: String, attr: String, value: Double): Unit =
    if (enabled) notes.add((span, attr, value))

  def allNotes: Vector[(String, String, Double)] = notes.asScala.toVector

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new JobRec(e.jobId, group, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

/** Per-operation Spark attribution of a traced run. */
final case class OpLayers(
    wallMs: Double, planMs: Double, jobs: Int, tasks: Long, driverGapMs: Double, taskCpuMs: Double,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long)

object Attribution {

  /** Attribute jobs and planning phases to the root spans of `tracer`.
    * A job belongs to the operation named by its job group; a job without
    * one (a stream-execution thread's) and every planning phase belong to
    * the operation whose interval contains its start. The traced passes
    * run one client, so at most one operation is open at any time.
    */
  def perOp(tracer: Tracer): Map[Long, OpLayers] = {
    val roots = tracer.allSpans.filter(_.parent == -1)
    val jobs = jobsByOp(tracer)
    val planByOp = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    tracer.plans.asScala.foreach { case (startMs, ms) =>
      containing(roots, tracer.msToNs(startMs)).foreach(s => planByOp(s.op) += ms)
    }
    roots.map { r =>
      val js = jobs.getOrElse(r.op, Nil)
      val covered = unionMs(js.map(j => (tracer.msToNs(j.startMs), tracer.msToNs(
        math.max(j.startMs, j.endMs)))), r.startNs, r.endNs)
      r.op -> OpLayers(
        r.ms, planByOp(r.op), js.size, js.map(_.tasks).sum, math.max(0.0, r.ms - covered),
        js.map(_.cpuNs).sum / 1e6, js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
        js.map(_.gcMs).sum)
    }.toMap
  }

  /** The recorded jobs of each operation. */
  def jobsByOp(tracer: Tracer): Map[Long, Seq[JobRec]] = {
    tracer.drain()
    val roots = tracer.allSpans.filter(_.parent == -1)
    tracer.jobs.values.asScala.toSeq.flatMap { j =>
      j.group.collect { case g if g.startsWith("op-") => g.drop(3).toLong }
        .orElse(containing(roots, tracer.msToNs(j.startMs)).map(_.op))
        .map(_ -> j)
    }.groupBy(_._1).map { case (op, js) => op -> js.map(_._2).sortBy(_.startMs) }
  }

  private def containing(roots: Seq[Span], tNs: Long): Option[Span] =
    roots.find(s => s.startNs <= tNs && tNs <= s.endNs)

  /** Milliseconds of `[lo, hi]` covered by the union of `intervals` (ns). */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered / 1e6
  }
}
