package perfbench

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A check on an operation's output failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)

  def equal[A](what: String, got: A, want: A): Unit =
    apply(got == want, s"$what: got $got, expected $want")
}

/** What a verified operation moved: rows into and out of the library. */
final case class Moved(rowsIn: Long = 0L, rowsOut: Long = 0L)

/** One attempted operation. A failed one carries its error and no latency
  * enters any statistic. `tag` names the pass of a traced run.
  */
final case class Sample(
    kind: String, write: Boolean, tag: String, startNs: Long, durNs: Long, moved: Moved,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def ms: Double = durNs / 1e6
}

/** Runs and records operations. `call` is timed; `verify` checks its result
  * outside the timed region. An exception from either, or a failed check,
  * records a failure: the operation's time is never counted as a success.
  */
final class Ops(spark: SparkSession, val tracer: Tracer) {
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val ids = new AtomicLong()

  def all: Vector[Sample] = samples.asScala.toVector

  def run[A](kind: String, write: Boolean, tag: String = "")(call: => A)(verify: A => Moved): Unit = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", kind)
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.op(id, kind)(call))
      catch { case NonFatal(e) => Left(e) }
    val dur = System.nanoTime() - t0
    sc.clearJobGroup()
    val verified = result.flatMap { a =>
      try Right(verify(a)) catch { case NonFatal(e) => Left(e) }
    }
    verified match {
      case Right(m) => samples.add(Sample(kind, write, tag, t0, dur, m, None))
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] operation $kind failed: $msg")
        samples.add(Sample(kind, write, tag, t0, dur, Moved(), Some(msg)))
    }
  }
}
