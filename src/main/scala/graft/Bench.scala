package graft

/** Benchmark main: times every declared query, prints ONE JSON line.
  *
  * A crashing query is NOT silently timed (round-3 lesson: a swallowed
  * Throwable made regressions look fast): its elapsed-until-failure time
  * still counts toward the total, the failure lands in an "errors" field,
  * and the process exits non-zero. SPARK_GRAFT_BENCH_REPEATS=N (default 1)
  * enables repeat-min mode — per-query minimum over N passes — to defend
  * the headline number against sandbox contention noise. */
object Bench {

  /** Fixed-work single-thread CPU calibration (SplitMix64, 2^29 steps,
    * ~0.6s quiet): its wall time moves with ambient contention exactly
    * like the bench rows do, so cross-round comparisons can divide the
    * noise out — calibrated total = total * (CalibRefSec / calib_sec).
    * Min of 3 runs (steal hits maxima, not minima). */
  def calibrate(): Double = {
    var best = Double.MaxValue
    var r = 0
    while (r < 3) {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var acc = 0L
      var i = 0
      while (i < (1 << 29)) {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      // sink the accumulator so the loop cannot be dead-code-eliminated
      if (acc == 42L) System.err.print("")
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      r += 1
    }
    best
  }

  /** Quiet-box reference for the calibration loop: the minimum EVER
    * observed on the 32-core sandbox (0.369s, round-11 quiet window;
    * loadavg-2 windows measure 0.49+). Using the all-time min means a
    * noisier round's total calibrates DOWN toward its quiet-box
    * equivalent and a quiet round stays ~raw. The ratio is additionally
    * CLAMPED to <= 1.0 below: on hardware faster than this floor (or a
    * calibration loop that caught a quiet instant of a contended run)
    * the raw total is reported unchanged — calibration BOUNDS the
    * contention bias, it cannot inflate a measurement. Update only if a
    * lower floor appears. */
  val CalibRefSec = 0.369

  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.contains("--calib")) {
      // calib_ref ships alongside so consumers (scripts/scale_gate.sh)
      // read CalibRefSec from the one source of truth instead of
      // hardcoding a copy that drifts when the floor is next updated
      println(f"calib_sec=${calibrate()}%.4f calib_ref=$CalibRefSec%.4f " +
        f"loadavg=${loadavg1m()}%.2f")
      return
    }
    val loadStart = loadavg1m()
    val calibStart = calibrate()
    // default 2: round 3's driver-recorded bench was a 2x-inflated
    // contended run (104.7s vs a reproducible 50.5s) — repeat-min with
    // per-pass cache clearing makes the recorded number defend itself
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt)
    // the 3-D LP queries are self-verifying (they run a second witness
    // engine and assert pair-set equality — SparkEntry.crossCheckPairs).
    // Bench measures single-engine throughput, so the witness is off here;
    // Verify (the correctness gate) always runs it.
    System.setProperty("graft.crosscheck", "off")
    val spark = Sessions.local()
    // one untimed scan: JVM/codegen/session warmup otherwise lands on
    // whichever query happens to run first
    graft.sources.Fixtures.lineitem(spark, sfDir).count()
    val names = SparkEntry.queries.keys.toSeq.sorted
    val times = scala.collection.mutable.Map.empty[String, Double]
    val errors = scala.collection.mutable.Map.empty[String, String]
    // repeat passes must measure the QUERY, not the session caches: a
    // later pass would otherwise skip histogram derivation and engine
    // preparation entirely and the per-query minimum would stop
    // covering them (a regression there would be invisible)
    def clearSessionCaches(): Unit = SparkEntry.clearSessionCaches(spark)
    def timeOne(name: String): Unit = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        times(name) = math.min(times.getOrElse(name, Double.MaxValue), dt)
      } catch {
        case t: Throwable =>
          times(name) = math.min(times.getOrElse(name, Double.MaxValue),
            (System.nanoTime() - t0) / 1e9)
          errors(name) = (t.getClass.getSimpleName + ": " +
            String.valueOf(t.getMessage)).take(200)
      }
    }
    for (pass <- 1 to repeats; name <- names) {
      if (pass > 1 && name == names.head) clearSessionCaches()
      timeOne(name)
    }
    // contention defense (round-10 lesson: three full-bench numbers
    // spread 121-169s under co-tenant load): rows costing >1s carry the
    // contention exposure, so they get ONE extra repeat-min pass — ~80%
    // of the noise defense at ~a third of a full pass's cost
    if (repeats >= 2) {
      val slow = names.filter(n => times.getOrElse(n, 0.0) > 1.0)
      if (slow.nonEmpty) {
        clearSessionCaches()
        slow.foreach(timeOne)
      }
    }
    val calibEnd = calibrate()
    val loadEnd = loadavg1m()
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    val qs = names.map(n => "\"" + n + "\":" + times(n)).mkString("{", ",", "}")
    val errJson = errors.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = times.values.sum
    // calibrated total divides ambient CPU contention out of the raw
    // number: calib is the same fixed work every round, so
    // total * (ref / min(calib)) is comparable across rounds even when
    // the sandbox never goes quiet. Min of start/end calib — the bench
    // rows are repeat-min too, so both sides of the ratio take their
    // best-case slice of the window.
    val calib = math.min(calibStart, calibEnd)
    // clamp: the calibration can only deflate a contended total back
    // toward its quiet-box equivalent, never scale a run UP (a single-
    // threaded loop catching a quiet instant mid-contention, or a
    // faster box than the recorded floor, would otherwise inflate)
    val calFactor = math.min(1.0, CalibRefSec / calib)
    val totalCal = total * calFactor
    // per-query calibrated values next to the raw ones (VERDICT r15
    // item 7): round-over-round per-ROW diffs no longer have to
    // re-litigate ambient contention — both maps ship in every record
    val qsCal = names.map(n => "\"" + n + "\":" +
      f"${times(n) * calFactor}%.4f").mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","value_calibrated":$totalCal,"calib_sec":$calib,"loadavg":[$loadStart,$loadEnd],"queries":$qs,"queries_calibrated":$qsCal,"errors":$errJson,"sf":"$sfDir"}"""
    // stdout gets a COMPACT line instead of the full 4.5k one: the
    // driver records only the LAST 2000 chars of stdout (BENCH_r13/r14
    // tails beheaded the JSON mid-map, so its parsed field was null
    // every round). Budget the line to fit that window with room for
    // sbt's trailing "[success]" banner: all first-class scalars, the
    // errors map, and as many slowest-query entries as fit; the full
    // per-query map always lands in BENCH_LAST.json / BENCH_OUT.
    val head = s"""{"metric":"total","value":$total,"unit":"sec","value_calibrated":$totalCal,"calib_sec":$calib,"calib_factor":$calFactor,"loadavg":[$loadStart,$loadEnd],"n_queries":${names.size},"errors":$errJson,"sf":"$sfDir","queries_full":"BENCH_LAST.json","slowest":{"""
    val budget = 1800 - head.length - 2
    val bySlow = names.sortBy(n => -times(n))
      .map(n => "\"" + n + "\":" + f"${times(n)}%.3f")
    val fit = bySlow.scanLeft(0)((acc, e) => acc + e.length + 1)
      .tail.takeWhile(_ <= budget).length
    val compact = head + bySlow.take(fit).mkString(",") + "}}"
    println(compact)
    // machine-readable artifact: the stdout line drowns in sbt noise and
    // the driver's BENCH_r*.json "parsed" field has been null every round
    // — write the bare JSON line to SPARK_GRAFT_BENCH_OUT when set, and
    // always (best-effort) to BENCH_LAST.json in the working directory so
    // any consumer can find the latest run without knowing the env var
    // best-effort means best-effort: an unwritable path must not fail the
    // run after the measurements succeeded. NonFatal, not just
    // IOException — Paths.get throws InvalidPathException (a
    // RuntimeException) on a malformed SPARK_GRAFT_BENCH_OUT value.
    def writeTo(path: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line + "\n")
      catch { case scala.util.control.NonFatal(_) => () }
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(writeTo)
    writeTo("BENCH_LAST.json")
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"BENCH FAILURES: ${errors.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
