package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Writes a traced run's spans as JSON lines, one span per line:
  * `{"op", "id", "parent", "name", "start_ms", "ms", "self_ms"}`. Times are
  * relative to the first span. Spark jobs appear as `spark.job` spans under
  * the deepest library-call span of their operation that contains their
  * start; a span's self time is its duration minus the time its children
  * cover.
  */
object TraceFile {

  def write(f: File, tracer: Tracer): Unit = {
    tracer.drain()
    val spans = tracer.allSpans
    if (spans.isEmpty) return
    val ops = Attribution.jobsByOp(tracer)
    var nextId = spans.map(_.id).max
    val jobSpans = spans.filter(_.parent == -1).flatMap { root =>
      val inOp = spans.filter(_.op == root.op)
      ops.getOrElse(root.op, Nil).map { j =>
        val (a, b) = (tracer.msToNs(j.startMs), tracer.msToNs(math.max(j.startMs, j.endMs)))
        val parent = inOp.filter(s => s.startNs <= a && a <= s.endNs).sortBy(_.startNs).lastOption
          .getOrElse(root)
        nextId += 1
        Span(nextId, parent.id, root.op, "spark.job", a, b)
      }
    }
    val all = spans ++ jobSpans
    val children = all.groupBy(_.parent)
    val t0 = all.map(_.startNs).min
    val lines = all.sortBy(_.startNs).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      val self = s.ms - Attribution.unionMs(kids, s.startNs, s.endNs)
      f"""{"op": ${s.op}, "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        f""""start_ms": ${(s.startNs - t0) / 1e6}%.3f, "ms": ${s.ms}%.3f, "self_ms": $self%.3f}"""
    }
    f.getParentFile.mkdirs()
    Files.write(f.toPath, lines.asJava, StandardCharsets.UTF_8)
  }
}
