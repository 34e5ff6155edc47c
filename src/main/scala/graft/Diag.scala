package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.operators.MelodyJoin
import graft.sources.Fixtures

/** Diagnostic main: `Diag <mode> ...` over the generated corpus in
  * `SPARK_GRAFT_SF_DIR` (required). Every mode runs with the 3-D witness
  * crosscheck off, so timings cover one engine.
  *
  *  - `melody 3d|1d [side]`: melody stage timings (grids, duals, enrich,
  *    summarize, guest enumeration, full join). The grid side defaults to
  *    the engine's own pick.
  *  - `jobs <query>`: every Spark job's wall time and task count for one
  *    query, cold and again after a cache clear. A streaming replay row
  *    shows one job per micro-batch.
  *  - `each [query...]`: one timed run per query (all when none are
  *    named), session caches cleared before each, printing
  *    `TIMING <name> <s> s  rows=<n>` or `ERR <name> <message>`
  *    (`scripts/scale_gate.sh` parses these lines).
  *  - `plans <outDir> <suffix> <query...>`: writes each query's
  *    `explain("formatted")` text to `<outDir>/<query>_<suffix>.txt`. */
object Diag {
  private val Usage =
    "usage: Diag melody 3d|1d [side] | jobs <query> | each [query...] | " +
      "plans <outDir> <suffix> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val rest = args.tail.toSeq
    val (queryArgs, run) = args.head match {
      case "melody" if rest.nonEmpty && Set("3d", "1d")(rest.head) =>
        (Nil, melody(_: SparkSession, sfDir, rest.head, rest.lift(1).map(_.toInt)))
      case "jobs" if rest.length == 1 => (rest, jobs(_: SparkSession, sfDir, rest.head))
      case "each" => (rest, each(_: SparkSession, sfDir, rest))
      case "plans" if rest.length >= 3 =>
        (rest.drop(2), plans(_: SparkSession, sfDir, rest(0), rest(1), rest.drop(2)))
      case _ => throw new IllegalArgumentException(Usage)
    }
    queryArgs.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    System.setProperty("graft.crosscheck", "off")
    val spark = Sessions.local()
    try run(spark) finally spark.stop()
  }

  private def time[T](tag: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"STAGE $tag%-12s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  private def melody(spark: SparkSession, sfDir: String, dim: String,
                     side: Option[Int]): Unit = {
    val is3d = dim == "3d"
    val hists =
      if (is3d) Fixtures.tripleHists(spark, sfDir) else Fixtures.quantityHists(spark, sfDir)
    val engineCfg =
      if (is3d) SparkEntry.melodyCfg3dFor(spark, sfDir) else SparkEntry.melodyCfg1d
    val cfg = engineCfg.copy(sideNum = side.getOrElse(engineCfg.sideNum))
    val theta = if (is3d) SparkEntry.Theta3d else SparkEntry.Theta
    time("hists")(println("n " + hists.count()))
    println("side " + cfg.sideNum)
    val grids = time("grids")(MelodyJoin.buildGrids(spark, hists, cfg))
    val duals = time("duals")(MelodyJoin.buildDuals(spark, hists, cfg))
    val tree = MelodyJoin.treeFor(cfg)
    val enriched = time("enrich") {
      val e = MelodyJoin.enrich(spark, hists, cfg, grids, duals, tree)
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }
    val summaries = time("summarize")(MelodyJoin.summarize(enriched, cfg,
      numTreeFeats = tree.map(_.numFeatures).getOrElse(0)))
    println("combos " + summaries.length + " maxCount " + summaries.map(_.count).max)
    val gapLimit = tree.map(_.distortion * theta).getOrElse(-1.0)
    val sc = spark.sparkContext
    val cfgB = sc.broadcast(cfg)
    val gridsB = sc.broadcast(grids)
    val dualsB = sc.broadcast(duals)
    val sumB = sc.broadcast(summaries)
    // envelopes and the flat index built once, as the engine does; the
    // per-record arity would rebuild them per row and time that instead
    val envB = sc.broadcast(MelodyJoin.cellEnvelopesPublic(summaries, cfg))
    val idxB = sc.broadcast(new MelodyJoin.SummaryIndex(summaries))
    import spark.implicits._
    val guests = time("guestEnum") {
      enriched.mapPartitions { it =>
        it.map(r => MelodyJoin.guestCombosPublic(r, cfgB.value, gridsB.value,
          dualsB.value, sumB.value, envB.value, theta, gapLimit, idxB.value).length.toLong)
      }.reduce(_ + _)
    }
    println("guest copies " + guests)
    println("intra pairs " + summaries.map(s => (s.count * (s.count - 1)) / 2).sum)
    enriched.unpersist(false)
    val pairs = time("fullJoin")(MelodyJoin.thresholdJoin(spark, hists, theta, cfg).count())
    println("pairs " + pairs)
  }

  private def jobs(spark: SparkSession, sfDir: String, name: String): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        println(s"START ${js.jobId} $site")
        starts.put(js.jobId, (System.nanoTime(), js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, nt) = starts.getOrDefault(je.jobId, (0L, 0))
        println(f"JOB ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  tasks=$nt%5d")
      }
    })
    // JIT, codegen and session warmup off the measured passes
    SparkEntry.queries("q1_agg")(spark, sfDir).count()
    (1 to 2).foreach { pass =>
      SparkEntry.clearSessionCaches(spark)
      println(s"=== pass $pass: $name ===")
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%7.3f s rows=$n")
    }
  }

  private def each(spark: SparkSession, sfDir: String, only: Seq[String]): Unit = {
    val names = (if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq).distinct.sorted
    // untimed scan: session warmup otherwise lands on the first row
    Fixtures.lineitem(spark, sfDir).count()
    names.foreach { name =>
      // each row pays its own preparation, and persisted results of
      // earlier rows cannot pile up (a 10x row list ran out of memory
      // that way)
      SparkEntry.clearSessionCaches(spark)
      val t0 = System.nanoTime()
      val n = try SparkEntry.queries(name)(spark, sfDir).count() catch {
        case e: Throwable => println(s"ERR $name ${e.getMessage}"); -1L
      }
      println(f"TIMING $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
                    names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      // the same text explain("formatted") prints: the initial plan,
      // before AQE's runtime re-optimization
      val text = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val path = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(path, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $path (${text.length} chars)")
    }
  }
}
