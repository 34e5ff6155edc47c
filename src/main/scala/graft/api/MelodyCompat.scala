package graft.api

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.HistOps
import graft.operators.{MelodyJoin, MrSimJoin, BaselineJoin}

/** Drop-in compatibility surface for users of the reference engine: the
  * same input file formats and configuration keys, executed on Spark.
  *
  * Input formats (reference README.md:24-31):
  *   - histogram file: one record per line, "<id> <w0> <w1> ... <w_{n-1}>"
  *   - bins file: ONE line of numBins * dimension doubles (row-major)
  *   - vectors file: ONE line of numVector * dimension doubles
  *
  * Configuration keys (reference melody-conf.properties):
  *   melody.join.type              distance | topk
  *   melody.join.distance.threshold
  *   melody.join.k
  *   melody.grid.cell.granularity
  *   melody.project.vector.number
  *   data.dimension, data.bin.number
  *   melody.framework               melody | mrsim | baseline (engine)
  *
  * `melody.normal.error.interval` is accepted and ignored: the grid's
  * EMD_BR bound takes its normal-approximation error over each vector's
  * whole domain, so there are no error intervals to size.
  *
  * Output: pairs DataFrame (rid, sid, dist); `writeText` writes the
  * reference's "rid sid dist" line format.
  */
object MelodyCompat {

  /** Parse reference-format histogram text into (id, weights). A line
    * whose id is not a Long or whose weights are not all Doubles is
    * dropped (the reference crashes; dropping is kinder at scale);
    * [[readHistogramTextCounted]] also counts them. */
  def readHistogramText(spark: SparkSession, path: String): DataFrame =
    parseHistogramText(spark, path).filter(col("ok")).drop("ok")

  /** [[readHistogramText]] parsed once into a persisted frame (one
    * `count()`; the caller unpersists it), with the number of lines it
    * dropped.
    *
    * The count is a `Dataset.observe` metric taken by that `count()`. It
    * is exact under task retry: a failed attempt sends no observed-metric
    * update. It over-counts only when a partition is parsed twice to
    * success within that `count()`: a speculative copy (speculation is
    * off by default) or a re-run of its map stage after lost shuffle
    * output. Later actions never add to it: an observation keeps the
    * metrics of the first action only. */
  def readHistogramTextCounted(spark: SparkSession, path: String): (DataFrame, Long) = {
    val malformed = Observation("histogram_text")
    val hists = parseHistogramText(spark, path)
      .observe(malformed, count_if(not(col("ok"))).as("malformed_lines"))
      .filter(col("ok")).drop("ok").persist()
    hists.count()
    (hists, malformed.get("malformed_lines").asInstanceOf[Long])
  }

  /** Non-blank lines as (ok, id, weights); a line that does not parse
    * has ok = false. */
  private def parseHistogramText(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val parts = line.split("\\s+")
        val ws = parts.iterator.drop(1).map(_.toDoubleOption).toArray
        parts(0).toLongOption match {
          case Some(id) if ws.forall(_.isDefined) => (true, id, ws.map(_.get))
          case _ => (false, 0L, Array.emptyDoubleArray)
        }
      }
      .toDF("ok", "id", "weights")
  }

  /** Read a one-line side file of whitespace-separated doubles
    * (bins / vectors — reference utils/FileUtil.java:148-157). */
  def readSideFile(spark: SparkSession, path: String): Array[Double] =
    spark.read.textFile(path).collect()
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty).map(_.toDouble)

  final case class CompatConf(
      joinType: String,
      threshold: Double,
      k: Int,
      grid: Int,
      numVectors: Int,
      dimension: Int,
      numBins: Int,
      framework: String,
      pivots: Int)

  def parseProperties(props: java.util.Properties): CompatConf = CompatConf(
    joinType = props.getProperty("melody.join.type", "distance"),
    threshold = props.getProperty("melody.join.distance.threshold", "0.05").toDouble,
    k = props.getProperty("melody.join.k", "20").toInt,
    grid = props.getProperty("melody.grid.cell.granularity", "4").toInt,
    numVectors = props.getProperty("melody.project.vector.number", "3").toInt,
    dimension = props.getProperty("data.dimension", "3").toInt,
    numBins = props.getProperty("data.bin.number", "8").toInt,
    // the reference's engine selector is ConfUtils.METHOD =
    // "mr.method.name" (ConfUtils.java:28, as in the shipped
    // melody-conf.properties); "melody.framework" is kept as an alias for
    // earlier users of this compat surface
    framework = props.getProperty("mr.method.name",
      props.getProperty("melody.framework", "melody")),
    // ConfUtils.PIVOT = "mrsim.pivot.number" (ConfUtils.java:31); 0 =
    // absent -> this rebuild's auto-scaled pivot count
    pivots = props.getProperty("mrsim.pivot.number", "0").toInt)

  def engineConfig(cc: CompatConf, bins: Array[Double],
                   vectors: Array[Double]): MelodyJoin.Config = {
    val vecs = Array.tabulate(cc.numVectors)(i =>
      java.util.Arrays.copyOfRange(vectors, i * cc.dimension, (i + 1) * cc.dimension))
    MelodyJoin.Config(
      dimension = cc.dimension,
      bins = bins,
      vectors = vecs,
      sideNum = cc.grid)
  }

  /** Execute the configured join over reference-format inputs. */
  def run(spark: SparkSession, histPath: String, binsPath: String,
          vectorsPath: String, props: java.util.Properties): DataFrame =
    run(spark, readHistogramText(spark, histPath), binsPath, vectorsPath, props)

  /** [[run]] over histograms already parsed by [[readHistogramText]]. */
  def run(spark: SparkSession, hists: DataFrame, binsPath: String,
          vectorsPath: String, props: java.util.Properties): DataFrame = {
    val cc = parseProperties(props)
    val bins = readSideFile(spark, binsPath)
    val vectors = readSideFile(spark, vectorsPath)
    require(bins.length == cc.numBins * cc.dimension,
      s"bins file has ${bins.length} values, expected ${cc.numBins * cc.dimension}")
    val cfg = engineConfig(cc, bins, vectors)
    // The reference dispatches BOTH join types on the framework key and
    // accepts four values (Join.java:42-131, melody-conf.properties:83-84);
    // bspmelody/bspb are the Hama BSP twins of melody/baseline — same
    // logical plans here (SURVEY §2.5), so they alias.
    (cc.joinType, cc.framework) match {
      case ("topk", "mrsim") =>
        MrSimJoin.topKJoin(spark, hists, cc.k, cfg, numPivots = cc.pivots)
      case ("topk", "baseline" | "bspb") => BaselineJoin.topKJoin(spark, hists, cc.k, cfg)
      case ("topk", _) => MelodyJoin.topKJoin(spark, hists, cc.k, cfg)
      case (_, "mrsim") =>
        MrSimJoin.thresholdJoin(spark, hists, cc.threshold, cfg, numPivots = cc.pivots)
      case (_, "baseline" | "bspb") => BaselineJoin.thresholdJoin(spark, hists, cc.threshold, cfg)
      case _ => MelodyJoin.thresholdJoin(spark, hists, cc.threshold, cfg) // melody | bspmelody
    }
  }

  /** Write a join result as the reference's "rid sid dist" lines. */
  def writeText(pairs: DataFrame, outPath: String): Unit =
    pairs.select(concat_ws(" ", col("rid"), col("sid"), col("dist")))
      .write.mode("overwrite").text(outPath)
}
