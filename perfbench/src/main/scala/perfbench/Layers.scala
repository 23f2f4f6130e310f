package perfbench

/** Per-layer metrics of a traced run, from its spans and its Spark
  * attribution.
  */
object Layers {

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def spans(ops: Ops, name: String): Vector[Span] = ops.tracer.allSpans.filter(_.name == name)

  /** Mean duration of the spans called `name`, if any ran. */
  def spanMs(ops: Ops, metric: String, name: String): Option[Metric] = {
    val s = spans(ops, name)
    Option.when(s.nonEmpty)(Metric(metric, mean(s.map(_.ms)), "ms", s.size))
  }

  private def notes(ops: Ops, names: Seq[String], attr: String): Vector[Double] =
    ops.tracer.allNotes.collect { case (n, a, v) if names.contains(n) && a == attr => v }

  /** Total duration of the spans called `name` per `per` units of the
    * attribute `attr` noted against them (e.g. ms per thousand rows).
    */
  def spanMsPer(ops: Ops, metric: String, name: String, attr: String, per: Double, unit: String)
      : Option[Metric] = {
    val s = spans(ops, name)
    val units = notes(ops, Seq(name), attr).sum / per
    Option.when(s.nonEmpty && units > 0)(Metric(metric, s.map(_.ms).sum / units, unit, s.size))
  }

  /** Mean of the attribute `attr` noted against the spans called `name`. */
  def spanAttr(ops: Ops, metric: String, name: String, attr: String, unit: String): Option[Metric] =
    spanAttrAll(ops, metric, Seq(name), attr, unit)

  def spanAttrAll(ops: Ops, metric: String, names: Seq[String], attr: String, unit: String)
      : Option[Metric] = {
    val v = notes(ops, names, attr)
    Option.when(v.nonEmpty)(Metric(metric, mean(v), unit, v.size))
  }

  /** Streaming append time outside `addBatch`: query start, planning, WAL
    * and commit log, per micro-batch append.
    */
  def streamFixed(ops: Ops): Option[Metric] = {
    val appends = spans(ops, "stream.append")
    val addBatch = notes(ops, Seq("stream.append"), "add_batch_ms")
    Option.when(appends.nonEmpty && addBatch.nonEmpty)(
      Metric("stream.fixed_ms", mean(appends.map(_.ms)) - mean(addBatch), "ms", appends.size))
  }

  /** Mean latency of the `a`-tagged passes minus the `b`-tagged ones. */
  def passDelta(ops: Ops, metric: String, a: String, b: String): Option[Metric] = {
    val s = ops.all.filter(_.ok)
    val (xa, xb) = (s.filter(_.tag == a), s.filter(_.tag == b))
    Option.when(xa.nonEmpty && xb.nonEmpty)(
      Metric(metric, mean(xa.map(_.ms)) - mean(xb.map(_.ms)), "ms", xa.size + xb.size))
  }

  /** The Spark layer of every traced operation, as means per operation. */
  def spark(ops: Ops): Seq[Metric] = {
    val per = Attribution.perOp(ops.tracer).values.toSeq
    val n = per.size
    def m(name: String, unit: String, f: OpLayers => Double) = Metric(name, mean(per.map(f)), unit, n)
    if (n == 0) Nil
    else Seq(
      m("spark.plan_ms", "ms", _.planMs),
      m("spark.jobs", "count", _.jobs.toDouble),
      m("spark.tasks", "count", _.tasks.toDouble),
      m("spark.driver_gap_ms", "ms", _.driverGapMs),
      m("spark.task_cpu_ms", "ms", _.taskCpuMs),
      m("spark.shuffle_bytes", "bytes", _.shuffleBytes.toDouble),
      m("spark.spill_bytes", "bytes", _.spillBytes.toDouble),
      m("spark.gc_ms", "ms", _.gcMs.toDouble))
  }

  /** The trace-overhead metric shared by every workload's traced run. */
  def traceOverhead(ops: Ops): Option[Metric] = passDelta(ops, "trace.overhead_ms", "traced", "direct")
}
