package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  private lazy val spark =
    graft.core.Engine.session(appName = "perfbench-spec", master = Some("local[2]"))

  test("an operation that throws lands in failures, not in latency") {
    val ops = new Ops(spark, new Tracer(spark, enabled = false))
    ops.run("ok", write = false)(Thread.sleep(5))(_ => Moved(rowsOut = 1))
    ops.run("boom", write = false)(throw new IllegalStateException("boom"))(_ => Moved(rowsOut = 1))
    ops.run("wrong", write = true)(Thread.sleep(200)){ _ => Check.equal("answer", 41, 42); Moved() }
    val s = ops.all
    assert(s.map(x => x.kind -> x.ok).toMap == Map("ok" -> true, "boom" -> false, "wrong" -> false))
    assert(s.find(_.kind == "wrong").get.error.get.contains("expected 42"))
    val m = Main.endToEnd(s, Seq(1.0), 1.0, 0L, 0L, 1.0).map(x => x.name -> x).toMap
    assert(m("op_p50_ms").samples == 1 && m("op_p50_ms").value < 100)
    assert(m("write_p50_ms").samples == 0, "a failed write must not be timed as a success")
    assert(m("ops_per_s").value == 1.0)
    assert(math.abs(m("fail_ratio").value - 2.0 / 3) < 1e-9)
  }

  test("quantiles: Harrell-Davis estimates, tail with ten samples beyond it") {
    val xs = (1 to 101).map(_.toDouble)
    assert(math.abs(Main.median(xs) - 51.0) < 1e-6)
    assert(math.abs(Main.median(Seq(3.0, 1.0, 2.0, 4.0)) - 2.5) < 1e-9)
    val (t, p) = Main.tail(xs)
    assert(math.abs(p - 100.0 * 91 / 101) < 1e-9 && t > 85 && t < 95)
    assert(Main.tail(xs.take(10))._2 == 90.0)
    assert(Main.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("a traced operation's jobs and driver gap are attributed to it") {
    val tracer = new Tracer(spark, enabled = true)
    tracer.install()
    val ops = new Ops(spark, tracer)
    ops.run("count", write = false) {
      tracer.call("child")(spark.range(0, 1000, 1, 4).count())
    }(n => Moved(rowsOut = n))
    val per = Attribution.perOp(tracer).values.toSeq
    assert(per.size == 1 && per.head.jobs >= 1 && per.head.tasks >= 4)
    assert(per.head.driverGapMs <= per.head.wallMs)
    assert(tracer.allSpans.map(_.name).toSet == Set("count", "child"))
  }
}
