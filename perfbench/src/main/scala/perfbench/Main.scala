package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>`
  * `[--trace-out <file>]`.
  *
  * Sets the workload up [[SetupReps]] times, each against a fresh session
  * under `root` (the middle set-up time is `setup_s`), warms the last
  * set-up up where the workload asks for it, measures it for `seconds`,
  * checks the accumulated state, and prints a report followed by one JSON
  * result line. With `--trace 1` the run drives the workload's seeded
  * sequence with one client and reports per-layer metrics instead.
  */
object Main {

  val SetupReps = 3

  /** End-to-end metrics in the result line, in order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "op_p50_ms", "op_tail_ms", "write_p50_ms",
    "write_tail_ms", "read_p50_ms", "read_tail_ms", "rows_in_per_s", "rows_out_per_s", "cpu_ms_per_op",
    "alloc_mb_per_op", "heap_live_mb", "rss_peak_mb")

  /** Per-layer metrics in the result line: the ones every workload's
    * traced run measures. The workload-specific ones are in the report,
    * and so is `spark.gc_ms`: with the fixed heap no collection falls
    * inside the facade's short tasks, so there it always reads 0.
    */
  val PerLayer: Seq[String] = Seq("spark.plan_ms", "spark.jobs", "spark.tasks", "spark.driver_gap_ms",
    "spark.task_cpu_ms", "trace.overhead_ms")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, root: File,
      scale: Scale, traceOut: Option[File])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("root")), Scale.Full, m.get("trace-out").map(new File(_)))
  }

  def main(argv: Array[String]): Unit = {
    val result = run(parse(argv))
    result.report.foreach(println)
    println(result.json)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric],
      report: Seq[String]) {
    def json: String = {
      val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(a: Args): Result = {
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workload.Names.mkString(", ")})")
    val nproc = Runtime.getRuntime.availableProcessors()
    val setups = Vector.newBuilder[Double]
    var spark: SparkSession = null
    var w: Workload = null
    // setup_s is an end-to-end metric: a traced run sets up once
    val reps = if (a.trace) 1 else SetupReps
    for (rep <- 0 until reps) {
      val t0 = System.nanoTime()
      spark = graft.core.Engine.session(appName = "perfbench", master = Some(s"local[$nproc]"))
      w = Workload(a.workload, spark, new File(a.root, s"rep$rep"), a.seed, a.scale)
      w.setup()
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < reps - 1) { w.teardown(); spark.stop() }
    }
    val warm0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - warm0) / 1e9
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) =>
        k.contains("host") || k.contains("port") || k.endsWith(".id") || k.contains("extraJavaOptions") }
    val tracer = new Tracer(spark, enabled = false)
    if (a.trace) tracer.install()
    val alloc0 = allocatedBytes()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val ops = new Ops(spark, tracer)
    if (a.trace) w.traced(ops, deadline) else w.measure(ops, deadline)
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpu = cpuNs() - cpu0
    val alloc = allocatedBytes() - alloc0
    // a full collection after the window, before the final checks: the heap the workload's state holds
    val heapLive = if (a.trace) 0.0 else heapLiveMb(spark.sparkContext)
    val stateFailures = w.finalChecks()
    stateFailures.foreach(f => System.err.println(s"[perfbench] final check failed: $f"))
    val samples = ops.all
    val metrics =
      if (a.trace) {
        val layers = Layers.spark(ops) ++ Layers.traceOverhead(ops).toSeq ++ w.layerMetrics(ops)
        a.traceOut.foreach(f => TraceFile.write(f, tracer))
        layers
      } else endToEnd(samples, setups.result(), windowS, cpu, alloc, heapLive) ++
        w.storedPerUserByte.map(Metric("bytes_stored_per_user_byte", _, "ratio", 1))
    w.teardown()
    spark.stop()

    val failed = samples.count(!_.ok)
    val wanted = if (a.trace) PerLayer else EndToEnd
    val byName = metrics.map(m => m.name -> m).toMap
    val missing = wanted.filterNot(byName.contains)
    missing.foreach(n => System.err.println(s"[perfbench] metric $n was not measured"))
    val header = Seq(
      s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
        s"nproc=$nproc master=local[$nproc] jvm=${System.getProperty("java.version")} " +
        s"spark=${org.apache.spark.SPARK_VERSION}",
      "flush policy: local filesystem, no fsync; latencies are this machine's, served from the page cache",
      "session conf: " + conf.map { case (k, v) => s"$k=$v" }.mkString(" "),
      f"set-ups ${setups.result().map(x => f"$x%.2f").mkString(" ")} s; warm-up ${warmS}%.2f s (once, outside setup_s); " +
        f"measured window ${windowS}%.2f s",
      f"attempted=${samples.size} failed=$failed fail_ratio=${failed.toDouble / math.max(1, samples.size)}%.4f") ++
      samples.filter(!_.ok).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        s"failed ${k}: ${ss.size}, first: ${ss.head.error.get}"
      } ++ stateFailures.map("final check failed: " + _)
    val perKind = samples.filter(_.ok).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      f"op $k: n=${ss.size} p50=${median(ss.map(_.ms))}%.1f ms"
    }
    val lines = header ++ perKind ++ metrics.map { m =>
      f"metric ${m.name} = ${m.value}%.4f ${m.unit} (samples=${m.samples}${if (m.note.isEmpty) "" else ", " + m.note})"
    }
    Result(
      correct = failed == 0 && stateFailures.isEmpty && missing.isEmpty && samples.nonEmpty,
      attempted = math.max(1, samples.size), failed = failed,
      metrics = wanted.map(n => byName.getOrElse(n, Metric(n, 0.0, "count"))),
      report = lines.map("[perfbench] " + _))
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Bytes allocated on the heap by every thread since the JVM started. */
  private def allocatedBytes(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
    case _ => 0L
  }

  /** Heap in use after a full collection, in MiB: what the live objects hold. The blocks of a
    * persisted frame nothing references leave only once a collection has let the context cleaner
    * see the frame, so collect until the block stores stop shrinking, then once more.
    */
  private def heapLiveMb(sc: SparkContext): Double = {
    var before = Long.MaxValue
    var after = PerfbenchBus.storageUsed(sc)
    while (after < before) {
      before = after
      System.gc()
      Thread.sleep(500)
      after = PerfbenchBus.storageUsed(sc)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  /** The Harrell-Davis estimate of quantile `q` (0 < q < 1): a weighted
    * mean of all order statistics with Beta((n+1)q, (n+1)(1-q)) weights.
    * A run holds few operations of each kind, and a single order statistic
    * would jump between kinds from run to run; this estimate moves
    * smoothly.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n == 1) s.head
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(null, (n + 1) * q, (n + 1) * (1 - q))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail: the highest percentile with at least ten samples beyond it,
    * (n - 10) / n, estimated like [[quantile]]; with ten samples or fewer,
    * where no such percentile exists, the 90th. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.size > 10) (xs.size - 10).toDouble / xs.size else 0.9
    (quantile(xs, q), 100 * q)
  }

  def endToEnd(samples: Seq[Sample], setups: Seq[Double], windowS: Double, cpuNs: Long, allocBytes: Long,
      heapLiveMb: Double): Seq[Metric] = {
    val ok = samples.filter(_.ok)
    def lat(prefix: String, xs: Seq[Sample]): Seq[Metric] = {
      val ms = xs.map(_.ms)
      val (t, p) = tail(ms)
      Seq(Metric(s"${prefix}_p50_ms", median(ms), "ms", ms.size),
        Metric(s"${prefix}_tail_ms", t, "ms", ms.size, f"p$p%.1f"))
    }
    def rate(xs: Seq[Sample], rows: Sample => Long) = {
      val s = xs.map(_.durNs).sum / 1e9
      if (s > 0) xs.map(rows).sum / s else 0.0
    }
    val writes = ok.filter(_.write)
    val outs = ok.filter(_.moved.rowsOut > 0)
    Seq(
      // the first set-up also loads the JVM's classes: the middle one is the set-up's time
      Metric("setup_s", setups.sorted.apply(setups.size / 2), "s", setups.size),
      Metric("ops_per_s", ok.size / windowS, "1/s", ok.size)) ++
      lat("op", ok) ++ lat("write", writes) ++ lat("read", ok.filterNot(_.write)) ++ Seq(
        Metric("rows_in_per_s", rate(writes, _.moved.rowsIn), "rows/s", writes.size),
        Metric("rows_out_per_s", rate(outs, _.moved.rowsOut), "rows/s", outs.size),
        Metric("cpu_ms_per_op", if (ok.isEmpty) 0.0 else cpuNs / 1e6 / ok.size, "ms", ok.size),
        Metric("alloc_mb_per_op", if (ok.isEmpty) 0.0 else allocBytes / 1048576.0 / ok.size, "MB", ok.size),
        Metric("heap_live_mb", heapLiveMb, "MB", 1),
        Metric("rss_peak_mb", rssPeakMb(), "MB", 1),
        Metric("fail_ratio", (samples.size - ok.size).toDouble / math.max(1, samples.size), "ratio",
          samples.size))
  }
}
