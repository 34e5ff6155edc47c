package emdbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.api.MelodyCompat
import graft.operators.{EmdJoins, MelodyJoin, MrSimJoin}
import graft.sources.Fixtures

/** Input sizes. [[Sizes.Bench]] is what the benchmark runs; the smoke test
  * runs [[Sizes.Smoke]]. `parts` sets the lineitem corpora: one histogram
  * per part, ~30 lines each. */
final case class Sizes(parts: Int)

object Sizes {
  val Bench: Sizes = Sizes(parts = 3000)
  val Smoke: Sizes = Sizes(parts = 200)
}

/** What a run shares with its workload. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: Path,
                val seed: Long, val sizes: Sizes, val tracer: Tracer)

/** Named metric values with units, in insertion order. */
final class Metrics {
  val values = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def toJson: String = Json.obj(values.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}

/** One benchmark workload. The harness calls `buildCorpus` several times
  * (set-up), `witness` once, then `op` in a closed loop with `check` after
  * each op, outside its timed region. */
abstract class Workload(val ctx: Ctx) {
  /** Generate the inputs from the seed and derive the corpus the op reads;
    * returns the corpus record count. Repeatable: the last call's corpus
    * is the one the ops use. */
  def buildCorpus(): Long
  /** Compute the expected answer with an independent engine. */
  def witness(): Unit
  /** One complete join, ending in a materialized result; returns a thunk
    * that reads that result for the check. */
  def op(): () => Array[Check.Pair]
  def check(got: Array[Check.Pair]): Check.Outcome
  /** The traced run's per-layer figures for this workload's layers;
    * returns the checks of any answers the layer calls produced. */
  def layers(m: Metrics): Seq[Check.Outcome]

  protected def spark: SparkSession = ctx.spark
  protected def pairsOf(df: DataFrame): Array[Check.Pair] =
    df.select("rid", "sid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** Derive-time of each corpus build, for `sources.hist_build_s`. */
  protected val deriveTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
  protected def medianDerive: Double = Stats.median(deriveTimes.toSeq)

  protected val lineitemDir: Path = ctx.work.resolve("lineitem")

  /** Write the seed's lineitem table, then derive a histogram corpus from
    * it with a `graft.sources.Fixtures` function and hold it in hand,
    * releasing the `previous` build's corpus. */
  protected def lineitemCorpus(previous: DataFrame,
                               derive: (SparkSession, String) => DataFrame): DataFrame = {
    if (previous != null) Workload.release(previous)
    SparkEntry.clearSessionCaches(spark)
    ctx.tracer.span("corpus.generate")(
      Corpus.writeLineitem(spark, lineitemDir, ctx.sizes.parts, 30, ctx.seed))
    val t0 = System.nanoTime()
    val hists = ctx.tracer.span("sources.hist_build")(
      Workload.inHand(derive(spark, lineitemDir.toString)))
    deriveTimes += (System.nanoTime() - t0) / 1e9
    hists
  }
}

object Workload {
  val Names: Seq[String] = Seq("cube3d_threshold", "quantity1d_mrsim")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "cube3d_threshold" => new Cube(ctx)
    case "quantity1d_mrsim" => new Quantity(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** A histogram frame held by the harness: materialized in executor
    * memory with its lineage cut, so clearing the engine's session caches
    * before an op leaves the corpus in hand. */
  def inHand(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Free a frame made by [[inHand]]. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
}

/** The cube workload: `Fixtures.tripleHists` over a generated lineitem
  * table, the melody 3-D config (`SparkEntry.melodyCfg3dFor`), and the
  * tree-exact engine as witness. Its traced run also times melody's top-k
  * path (k = 20) on the same engine state and the reference-compatible
  * `graft.Join` path on the corpus as text, both checked against the
  * witness. */
final class Cube(ctx: Ctx) extends Workload(ctx) {
  val Theta = 0.0803
  val K = 20
  /** `graft.Join.execute` calls in the traced run. */
  val CompatReps = 3
  private var hists: DataFrame = _
  private var cfg: MelodyJoin.Config = _
  private var want: Array[Check.Pair] = _

  def buildCorpus(): Long = {
    hists = lineitemCorpus(hists, Fixtures.tripleHists)
    cfg = SparkEntry.melodyCfg3dFor(spark, lineitemDir.toString)
    hists.count()
  }

  def witness(): Unit =
    want = pairsOf(EmdJoins.treeExact3dThresholdJoin(hists, Theta))

  def op(): () => Array[Check.Pair] = {
    val df = MelodyJoin.thresholdJoin(spark, hists, Theta, cfg)
    () => pairsOf(df)
  }

  def check(got: Array[Check.Pair]): Check.Outcome = Check.threshold(got, want, Theta)

  def layers(m: Metrics): Seq[Check.Outcome] = {
    m.put("sources.hist_build_s", medianDerive, "s")
    val mel = Layers.melody(ctx, hists, cfg, Theta, Some(K), join = true, samplePairs = 4000)
    mel.put(m)
    Layers.kernels(m, cfg, mel.duals, mel.sample, Theta)
    Seq(Check.topK(mel.topK, want, K), compatApi(m))
  }

  /** The reference-compatible text surface on this corpus: the corpus
    * written as reference-format text with its bins and vectors files and
    * a `melody-conf.properties`, then `graft.Join.execute` end to end,
    * its output lines read back and checked against the witness. The
    * writer's share is that call's median time minus the median of
    * `MelodyCompat.run` (the same parse, dispatch and join) executed into
    * Spark's no-op sink. */
  private def compatApi(m: Metrics): Check.Outcome = {
    val dir = ctx.work.resolve("compat")
    Files.createDirectories(dir)
    def line(path: Path, text: String): String = {
      Files.writeString(path, text + "\n")
      path.toString
    }
    val histPath = line(dir.resolve("hist.txt"), hists.collect().map { r =>
      (r.getLong(0) +: r.getSeq[Double](1)).mkString(" ")
    }.mkString("\n"))
    val binsPath = line(dir.resolve("bins.txt"), cfg.bins.mkString(" "))
    val vectorsPath = line(dir.resolve("vectors.txt"), cfg.vectors.flatten.mkString(" "))
    val outPath = dir.resolve("pairs-out").toString
    val props = new java.util.Properties()
    Seq("mr.method.name" -> "melody", "melody.join.type" -> "distance",
      "melody.join.distance.threshold" -> Theta.toString,
      "melody.grid.cell.granularity" -> cfg.sideNum.toString,
      "melody.project.vector.number" -> cfg.vectors.length.toString,
      "melody.normal.error.interval" -> cfg.numIntervals.toString,
      "data.dimension" -> cfg.dimension.toString,
      "data.bin.number" -> (cfg.bins.length / cfg.dimension).toString,
      "data.input.hdfs.path" -> histPath, "data.bin.hdfs.path" -> binsPath,
      "melody.project.vector.hdfs.path" -> vectorsPath,
      "data.output.hdfs.path" -> outPath).foreach { case (k, v) => props.setProperty(k, v) }
    val confPath = dir.resolve("melody-conf.properties")
    val out = Files.newOutputStream(confPath)
    try props.store(out, "emdbench compat run") finally out.close()

    val t0 = System.nanoTime()
    val parsed = ctx.tracer.span("api.readHistogramText") {
      val h = MelodyCompat.readHistogramText(spark, histPath).persist()
      h.count()
      h
    }
    m.put("api.parse_s", (System.nanoTime() - t0) / 1e9, "s")
    m.put("api.input_partitions", parsed.rdd.getNumPartitions, "count")
    parsed.unpersist(false)

    // alternate the two calls, each from cleared caches, and take medians:
    // a single pair puts the compat path's first-call JIT cost on one side
    def timedFresh(name: String)(body: => Unit): Double = {
      SparkEntry.clearSessionCaches(spark)
      val t = System.nanoTime()
      ctx.tracer.span(name)(body)
      (System.nanoTime() - t) / 1e9
    }
    val (runs, executes) = (1 to CompatReps).map { _ =>
      (timedFresh("api.MelodyCompat.run")(
        MelodyCompat.run(spark, histPath, binsPath, vectorsPath, props)
          .write.format("noop").mode("overwrite").save()),
        timedFresh("api.Join.execute")(graft.Join.execute(spark, confPath.toString)))
    }.unzip
    val executeS = Stats.median(executes)
    val runS = Stats.median(runs)
    m.put("api.execute_s", executeS, "s")
    m.put("api.write_s", executeS - runS, "s")
    val got = spark.read.textFile(outPath).collect().map { l =>
      val f = l.trim.split("\\s+")
      (f(0).toLong, f(1).toLong, f(2).toDouble)
    }
    Check.threshold(got, want, Theta)
  }
}

/** MrSimJoin over `Fixtures.quantityHists` of a generated lineitem table,
  * with the 1-D melody engine as witness. */
final class Quantity(ctx: Ctx) extends Workload(ctx) {
  val Theta = 0.153
  private val cfg = SparkEntry.melodyCfg1d
  private var hists: DataFrame = _
  private var want: Array[Check.Pair] = _

  def buildCorpus(): Long = {
    hists = lineitemCorpus(hists, Fixtures.quantityHists)
    hists.count()
  }

  def witness(): Unit = want = pairsOf(MelodyJoin.thresholdJoin(spark, hists, Theta, cfg))

  def op(): () => Array[Check.Pair] = {
    val (df, _) = MrSimJoin.thresholdJoinCounted(spark, hists, Theta, cfg)
    () => pairsOf(df)
  }

  def check(got: Array[Check.Pair]): Check.Outcome = Check.threshold(got, want, Theta)

  def layers(m: Metrics): Seq[Check.Outcome] = {
    m.put("sources.hist_build_s", medianDerive, "s")
    val t0 = System.nanoTime()
    val (df, solves) = ctx.tracer.span("mrsim.thresholdJoinCounted")(
      MrSimJoin.thresholdJoinCounted(spark, hists, Theta, cfg))
    m.put("mrsim.join_s", (System.nanoTime() - t0) / 1e9, "s")
    m.put("mrsim.routing_solves", solves, "count")
    df.unpersist(false)
    // the 1-D melody engine's candidates stand in for this corpus's
    // candidate pairs in the kernel and funnel figures
    val mel = Layers.melody(ctx, hists, cfg, Theta, None, join = false, samplePairs = 4000)
    Layers.kernels(m, cfg, mel.duals, mel.sample, Theta)
    Nil
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest percentile p (in whole percent) with at least ten samples
    * above it, and its value; None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).map { p =>
      (p, s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }
}
