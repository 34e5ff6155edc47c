package emdbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through `emdbench/run.py`, which builds the
  * classpath):
  *
  *   emdbench.Main --workload W --seed N --seconds S --trace 0|1
  *                 --work DIR [--trace-file PATH]
  *
  * Prints a provenance line, then, as the last stdout line, the result:
  * {"correct", "attempted", "failed", "metrics"}. */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val workload = req("--workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = req("--seed").toLong
    val seconds = req("--seconds").toDouble
    val trace = req("--trace") == "1"
    val work = Paths.get(req("--work")).toAbsolutePath
    val sizes = Sizes.Bench
    Files.createDirectories(work)
    val loadStart = loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, cores, work, seed, sizes, new Tracer(trace))
    val res = try Harness.run(ctx, workload, seconds, sessionS)
    finally spark.stop()
    val calib = graft.Bench.calibrate()
    opts.get("--trace-file").foreach { f =>
      Files.writeString(Paths.get(f), Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "self_s_by_name" -> Json.obj(res.tracer.selfByName.map { case (n, s) =>
          n -> Json.num(s) }),
        "spans" -> res.tracer.toJson)) + "\n")
    }
    val provenance = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> (if (trace) "1" else "0"),
      "nproc" -> cores.toString,
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadavg()),
      "calib_s" -> Json.num(calib),
      "jvm" -> Json.str(System.getProperty("java.runtime.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "commit" -> Json.str(System.getProperty("emdbench.commit", "unknown")),
      "source_sha256" -> Json.str(System.getProperty("emdbench.source", "unknown")),
      "sizes" -> Json.str(sizes.toString)) ++ res.info
    println(Json.obj(Seq("provenance" -> Json.obj(provenance))))
    println(Json.obj(Seq(
      "correct" -> res.correct.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> res.metrics.toJson)))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .appName("emdbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }
}
