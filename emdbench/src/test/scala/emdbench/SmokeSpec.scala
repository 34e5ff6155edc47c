package emdbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tiny-scale run of the whole harness: every workload, untraced and
  * traced, on the smoke size (200 parts, sf0.001's part count). */
class SmokeSpec extends AnyFunSuite {

  private def declared(key: String): Seq[String] = {
    val text = Files.readString(Paths.get("..", "BENCHMARK.json"))
    val block = text.substring(text.indexOf("\"" + key + "\""))
    val body = block.substring(block.indexOf('['), block.indexOf(']'))
    "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("BENCHMARK.json declares exactly the harness's workloads and metrics") {
    assert(declared("workloads") == Workload.Names)
    assert(declared("end_to_end").toSet == Harness.EndToEnd.map(_._1).toSet)
    assert(declared("per_layer").toSet == Harness.PerLayer.map(_._1).toSet)
  }

  test("every workload emits every metric and checks every op") {
    val work = Paths.get("target", "smoke-work").toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(2, work)
    try {
      for (w <- Workload.Names; trace <- Seq(false, true)) {
        val ctx = new Ctx(spark, 2, work.resolve(s"$w-$trace"), 7L, Sizes.Smoke,
          new Tracer(trace))
        val r = Harness.run(ctx, w, seconds = 0.5, sessionS = 0.0)
        withClue(s"$w trace=$trace ${r.info}") {
          assert(r.correct && r.failed == 0)
          val info = r.info.toMap
          // the witness answer is non-empty, so the checks compared pairs
          assert(info("answer_pairs").toInt > 0)
          // warm-up ops + timed ops (+ the traced ops and layer checks)
          assert(r.attempted >= Harness.WarmupOpsMin + info("ops_timed").toInt)
          val want = if (trace) Harness.PerLayer else Harness.EndToEnd
          assert(want.map(_._1).toSet == r.metrics.values.keySet.toSet)
          if (!trace) assert(r.metrics.values.values.forall(_._1 > 0.0))
          else assert(r.tracer.selfTimes.nonEmpty)
        }
      }
    } finally spark.stop()
  }

  test("the checks reject a dropped pair, an extra pair and a wrong distance") {
    val want = Array((1L, 2L, 0.01), (1L, 3L, 0.02), (2L, 3L, 0.03))
    assert(Check.threshold(want, want, 0.05).ok)
    assert(!Check.threshold(want.take(2), want, 0.05).ok)
    assert(!Check.threshold(want :+ ((3L, 4L, 0.04)), want, 0.05).ok)
    assert(!Check.threshold(want.updated(0, (1L, 2L, 0.011)), want, 0.05).ok)
    // a pair on the threshold may be found by one engine only
    assert(Check.threshold(want :+ ((3L, 4L, 0.05)), want, 0.05).ok)
    assert(Check.topK(want.take(2), want, 2).ok)
    assert(!Check.topK(Array(want(0), want(2)), want, 2).ok)
  }
}
