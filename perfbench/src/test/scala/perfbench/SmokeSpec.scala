package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Each workload end to end at smoke scale (star tables at sf0.001), both
  * untraced and traced: every operation passes its checks and every
  * metric of the result line is measured.
  */
class SmokeSpec extends AnyFunSuite {

  for (w <- Workload.Names; trace <- Seq(false, true))
    test(s"$w runs clean at smoke scale${if (trace) ", traced" else ""}") {
      val root = Files.createTempDirectory(s"perfbench-$w").toFile
      try {
        val r = Main.run(Main.Args(w, 3L, 2.0, trace, root, Scale.Smoke, None))
        assert(r.failed == 0, r.report.mkString("\n"))
        assert(r.correct, r.report.mkString("\n"))
        assert(r.metrics.map(_.name) == (if (trace) Main.PerLayer else Main.EndToEnd))
        assert(r.json.startsWith("{\"correct\": true"))
      } finally Workload.deleteTree(root)
    }
}
