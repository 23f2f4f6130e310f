package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** A metric as reported: `samples` and `note` (e.g. the tail percentile)
  * go to the human-readable report only.
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0, note: String = "")

/** One workload, set up against a live session under a fresh root. A run
  * sets a workload up several times (timing each set-up) and measures the
  * last one.
  */
abstract class Workload {

  /** Stage data and start services. Errors propagate: a failed set-up
    * fails the run.
    */
  def setup(): Unit

  /** One round of the seeded sequence with one client: a lifecycle cycle,
    * a curation pass, a block of facade requests.
    */
  def round(ops: Ops, tag: String): Unit

  /** Work done once after the last set-up and before the window, outside
    * `setup_s`. None by default: a batch job — a lifecycle cycle, a
    * curation pass — runs in a fresh JVM and pays its first execution
    * every time, so the window measures exactly that.
    */
  def warmUp(): Unit = ()

  /** Whole rounds with tracing off while `deadlineNs` has not passed: a
    * run measures a fixed mix of operations.
    */
  def measure(ops: Ops, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) round(ops, "")

  /** One untraced round to pay the first execution, then pairs of whole
    * rounds — at least one, more while `deadlineNs` has not passed — the
    * first untraced and the second traced, so the tracing overhead
    * compares like with like.
    */
  def traced(ops: Ops, deadlineNs: Long): Unit = {
    round(ops, "first")
    do Seq("direct", "traced").foreach { tag =>
      ops.tracer.enabled = tag == "traced"
      round(ops, tag)
      ops.tracer.enabled = false
    } while (System.nanoTime() < deadlineNs)
  }

  /** End-of-run checks of accumulated state (shadow models). Returns the
    * failed checks' messages.
    */
  def finalChecks(): Seq[String]

  /** Workload-specific per-layer metrics of a traced run. */
  def layerMetrics(ops: Ops): Seq[Metric]

  /** Table bytes on disk per byte of CSV ingested, where the workload stores tables. */
  def storedPerUserByte: Option[Double] = None

  def teardown(): Unit = ()

  def name: String
}

object Workload {
  val Names: Seq[String] = Seq("facade_interactive", "table_lifecycle", "corpus_curation")

  def apply(name: String, spark: SparkSession, root: File, seed: Long, scale: Scale): Workload =
    name match {
      case "facade_interactive" => new Facade(spark, root, seed, scale)
      case "table_lifecycle" => new Lifecycle(spark, root, seed, scale)
      case "corpus_curation" => new Curation(spark, root, seed, scale)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Input sizes. `Full` is the benchmark's; `Smoke` is the self-tests'. */
final case class Scale(
    starSf: Double, uploadRows: (Int, Int), lifecycleOrders: Long, cycleOrders: Int,
    exportSliceRows: Long, inlineCap: Int, docs: Int, copies: Int, vectors: Int, queries: Int)

object Scale {
  val Full: Scale = Scale(
    starSf = 0.05, uploadRows = (1000, 20000), lifecycleOrders = 27500, cycleOrders = 500,
    exportSliceRows = 100001,
    inlineCap = graft.operators.Exporter.DefaultInlineRowCap, docs = 400, copies = 20, vectors = 200, queries = 8)
  val Smoke: Scale = Scale(
    starSf = 0.001, uploadRows = (20, 200), lifecycleOrders = 400, cycleOrders = 20,
    exportSliceRows = 201, inlineCap = 200, docs = 120, copies = 8, vectors = 80, queries = 4)
}
