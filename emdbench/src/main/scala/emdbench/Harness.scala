package emdbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry

/** One benchmark run of one workload: set-up, witness, then a closed loop
  * of ops (one client; each op starts after the previous one finished and
  * was checked). Untraced runs report the end-to-end metrics; traced runs
  * report the per-layer ones. */
object Harness {

  /** Per-layer metric names and units; a traced run reports every one, with
    * 0 for a layer the workload's op does not run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.hist_build_s" -> "s",
    "api.parse_s" -> "s", "api.input_partitions" -> "count",
    "api.execute_s" -> "s", "api.write_s" -> "s") ++
    Layers.MelodyNames ++ Seq(
    "mrsim.join_s" -> "s", "mrsim.routing_solves" -> "count",
    "cascade.ns_per_pair" -> "ns", "cascade.sampled_pairs" -> "count") ++
    Layers.Stages.map(s => s"cascade.reject_share.$s" -> "ratio") ++ Seq(
    "core.exact_ns" -> "ns", "core.reduced_ns" -> "ns", "core.indmin_ns" -> "ns",
    "core.dual_ns" -> "ns", "core.proj1d_ns" -> "ns", "core.tree_ns" -> "ns",
    "core.greedyflow_ns" -> "ns",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.core_busy_frac" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.driver_s" -> "s", "trace.overhead_s" -> "s")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "join_s" -> "s",
    "records_per_s" -> "1/s", "cpu_s_per_join" -> "s", "peak_rss_mb" -> "MB")

  /** Corpus builds per run; set-up time reports their median. */
  val SetupReps = 3
  /** Untimed ops between set-up and the timed loop: at least this many,
    * and until this many seconds have passed. */
  val WarmupOpsMin = 2
  val WarmupSeconds = 10.0

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Metrics, info: Seq[(String, String)], tracer: Tracer)

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU ns used so far by each live Java thread: the driver and the
    * executor task threads. JIT-compiler and GC threads are not Java
    * threads, so their work (which varies from run to run as the JIT
    * settles) stays out of `cpu_s_per_join`. */
  private def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds the Java threads used since `before`; threads that ended
    * in between are not counted. */
  private def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** The machine's CPU jiffies so far from /proc/stat: (all, stolen).
    * Stolen time is what a hypervisor gave to other guests while this one
    * had work; its share over the timed window shows how busy the host was. */
  def hostJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def run(ctx: Ctx, workload: String, seconds: Double, sessionS: Double): Result = {
    val spark = ctx.spark
    val w = Workload(workload, ctx)
    val tracer = ctx.tracer
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer.empty[String]
    var boundary = 0
    var answerPairs = 0

    /** One op: caches cleared, the join timed to its materialized result,
      * then the answer read and checked outside the timed region. Returns
      * (wall s, Java-thread CPU s). A thrown op counts as failed. */
    def oneOp(label: String, listener: Option[OpListener]): (Double, Double, Option[OpStats]) = {
      SparkEntry.clearSessionCaches(spark)
      attempted += 1
      val c0 = threadCpu()
      val t0 = System.nanoTime()
      val (res, stats) = tracer.span(label) {
        val body = () => try Right(w.op()) catch { case e: Exception => Left(e) }
        listener match {
          case Some(l) => val (r, s) = l.measure(body()); (r, Some(s))
          case None => (body(), None)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSince(c0)
      res match {
        case Left(e) =>
          failed += 1
          failures += s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        case Right(read) =>
          val o = w.check(read())
          boundary = math.max(boundary, o.boundaryPairs)
          answerPairs = o.pairs
          if (!o.ok) { failed += 1; failures += s"$label: ${o.detail}".take(300) }
      }
      (wall, cpu, stats)
    }

    // set-up: corpus builds (median reported), then the witness
    val reps = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val n = tracer.span(s"setup.corpus#$i")(w.buildCorpus())
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val records = reps.last._1
    val tw = System.nanoTime()
    tracer.span("witness")(w.witness())
    val witnessS = (System.nanoTime() - tw) / 1e9
    // the first op pays the engine's cold start and counts in set-up; the
    // JIT keeps compiling engine code for several seconds after it, so
    // more untimed ops run before the timed loop starts
    val warmS = oneOp("warmup#1", None)._1
    var warmed = warmS
    var i = 1
    while (i < WarmupOpsMin || warmed < WarmupSeconds) {
      i += 1
      warmed += oneOp(s"warmup#$i", None)._1
    }
    val setupS = sessionS + Stats.median(reps.map(_._2)) + warmS

    val m = new Metrics
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    val jiffies0 = hostJiffies()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (!tracer.enabled) {
      while (walls.isEmpty || System.nanoTime() < deadline) {
        val (wall, cpu, _) = oneOp(s"op#${walls.size}", None)
        walls += wall; cpus += cpu
      }
      val joinS = Stats.median(walls.toSeq)
      m.put("setup_s", setupS, "s")
      m.put("join_s", joinS, "s")
      m.put("records_per_s", records / joinS, "1/s")
      m.put("cpu_s_per_join", Stats.median(cpus.toSeq), "s")
      m.put("peak_rss_mb", peakRssMb(), "MB")
    } else {
      // alternate untraced and traced ops; the traced ones give the Spark
      // runtime figures, and the difference of the medians is the tracing
      // overhead
      val listener = new OpListener(spark.sparkContext, tracer)
      spark.sparkContext.addSparkListener(listener)
      val traced = ArrayBuffer.empty[OpStats]
      while (traced.size < 2 || System.nanoTime() < deadline) {
        val (wall, _, _) = oneOp(s"op#${walls.size}", None)
        walls += wall
        traced += oneOp(s"traced-op#${traced.size}", Some(listener))._3.get
      }
      spark.sparkContext.removeSparkListener(listener)
      def med(f: OpStats => Double) = Stats.median(traced.map(f).toSeq)
      m.put("spark.jobs", med(_.jobs), "count")
      m.put("spark.tasks", med(_.tasks), "count")
      m.put("spark.executor_cpu_s", med(_.executorCpuS), "s")
      m.put("spark.gc_s", med(_.gcS), "s")
      m.put("spark.shuffle_write_mb", med(_.shuffleWriteMb), "MB")
      m.put("spark.shuffle_read_mb", med(_.shuffleReadMb), "MB")
      m.put("spark.spill_mb", med(_.spillMb), "MB")
      m.put("spark.core_busy_frac", med(_.coreBusyFrac(ctx.cores)), "ratio")
      m.put("spark.task_skew", med(_.taskSkew), "ratio")
      m.put("spark.driver_s", med(_.driverS), "s")
      m.put("trace.overhead_s", med(_.wallS) - Stats.median(walls.toSeq), "s")
      SparkEntry.clearSessionCaches(spark)
      tracer.span("layers")(w.layers(m)).foreach { o =>
        attempted += 1
        if (!o.ok) { failed += 1; failures += s"layers: ${o.detail}".take(300) }
      }
      PerLayer.foreach { case (n, u) => if (!m.values.contains(n)) m.put(n, 0.0, u) }
    }

    val jiffies1 = hostJiffies()
    val info = Seq(
      "records" -> records.toString,
      "ops_timed" -> walls.size.toString,
      "join_s_samples" -> Json.arr(walls.map(Json.num).toSeq),
      "cpu_s_samples" -> Json.arr(cpus.map(Json.num).toSeq),
      "steal_frac" -> Json.num((jiffies1._2 - jiffies0._2).toDouble /
        math.max(1L, jiffies1._1 - jiffies0._1)),
      "join_s_tail" -> Stats.tail(walls.toSeq).fold("null") { case (p, v) =>
        Json.obj(Seq("percentile" -> p.toString, "value" -> Json.num(v))) },
      "failed_frac" -> Json.num(failed.toDouble / attempted),
      "answer_pairs" -> answerPairs.toString,
      "boundary_pairs_tolerated" -> boundary.toString,
      "failures" -> Json.arr(failures.map(Json.str).toSeq),
      "setup_corpus_s" -> Json.arr(reps.map(r => Json.num(r._2))),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmed),
      "witness_s" -> Json.num(witnessS))
    Result(failed == 0, attempted, failed, m, info, tracer)
  }
}
