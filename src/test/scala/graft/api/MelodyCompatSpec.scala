package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** End-to-end compat test: reference-format text inputs + properties keys
  * drive the Spark engines; melody and mrsim agree with baseline. */
class MelodyCompatSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("reference-format files + properties run the distance join on all engines") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("melodycompat")
    val rnd = new Random(5)
    val numBins = 8; val dimension = 3; val n = 80
    val histLines = (0 until n).map { i =>
      (i.toString +: Array.fill(numBins)(f"${rnd.nextDouble() * 10}%.6f")).mkString(" ")
    }
    val bins = Array.fill(numBins * dimension)(f"${rnd.nextDouble() * 5}%.6f")
    val vectors = Array("1 0 0", "0 1 0", "0 0 1").mkString(" ")
    val histPath = dir.resolve("hist.txt"); Files.write(histPath, histLines.mkString("\n").getBytes)
    val binsPath = dir.resolve("bins.txt"); Files.write(binsPath, bins.mkString(" ").getBytes)
    val vecPath = dir.resolve("vectors.txt"); Files.write(vecPath, vectors.getBytes)

    val props = new java.util.Properties()
    props.setProperty("melody.join.type", "distance")
    props.setProperty("melody.join.distance.threshold", "0.5")
    props.setProperty("data.dimension", dimension.toString)
    props.setProperty("data.bin.number", numBins.toString)
    props.setProperty("melody.project.vector.number", "3")

    def pairs(framework: String): Set[(Long, Long)] = {
      props.setProperty("melody.framework", framework)
      MelodyCompat.run(spark, histPath.toString, binsPath.toString,
          vecPath.toString, props)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val base = pairs("baseline")
    assert(base.nonEmpty)
    assert(pairs("melody") == base)
    assert(pairs("mrsim") == base)
    // the reference's BSP framework values alias their MR twins
    assert(pairs("bspmelody") == base)
    assert(pairs("bspb") == base)

    // topk dispatches on the framework key too (reference Join.java:42-131)
    props.setProperty("melody.join.type", "topk")
    props.setProperty("melody.join.k", "10")
    def topkPairs(framework: String): Seq[(Long, Long)] = {
      props.setProperty("melody.framework", framework)
      MelodyCompat.run(spark, histPath.toString, binsPath.toString,
          vecPath.toString, props)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val topkBase = topkPairs("baseline")
    assert(topkBase.size == 10)
    assert(topkPairs("melody") == topkBase)
    assert(topkPairs("mrsim") == topkBase)
    assert(topkPairs("bspb") == topkBase)

    // text output format
    props.setProperty("melody.framework", "melody")
    val out = dir.resolve("out")
    MelodyCompat.runToText(spark, histPath.toString, binsPath.toString,
      vecPath.toString, props, out.toString)
    val lines = Files.list(out).toArray.map(_.toString)
      .filter(_.endsWith(".txt"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(lines.length == 10)
    assert(lines.forall(_.split(" ").length == 3))
  }

  test("the reference's SHIPPED melody-conf.properties drives the engines verbatim") {
    spark.sparkContext.setLogLevel("WARN")
    // the reference's shipped conf, rebuilt as a test resource from the
    // values SURVEY.md and BASELINE.md cite by line: method bspb, topk
    // with k=20, dimension 3, 30 bins, 3 vectors, grid 4
    val props = new java.util.Properties()
    val in = getClass.getResourceAsStream("/melody-conf.properties")
    assert(in != null, "melody-conf.properties test resource missing")
    try props.load(in) finally in.close()
    val cc = MelodyCompat.parseProperties(props)
    assert(cc.framework == "bspb", s"framework ${cc.framework}") // mr.method.name
    assert(cc.joinType == "topk" && cc.k == 20)
    assert(cc.dimension == 3 && cc.numBins == 30 && cc.numVectors == 3)
    assert(cc.pivots == 10) // mrsim.pivot.number

    // generate matching-shape inputs (the conf's HDFS paths are
    // site-specific; the file formats and every engine knob are the
    // reference's own)
    val dir = Files.createTempDirectory("refconf")
    val rnd = new Random(13)
    val n = 60
    val histLines = (0 until n).map { i =>
      (i.toString +: Array.fill(cc.numBins)(f"${rnd.nextDouble() * 10}%.6f")).mkString(" ")
    }
    val bins = Array.fill(cc.numBins * cc.dimension)(f"${rnd.nextDouble() * 5}%.6f")
    val vectors = Array("1 0 0", "0 1 0", "0 0 1").mkString(" ")
    val histPath = dir.resolve("hist.txt")
    Files.write(histPath, histLines.mkString("\n").getBytes)
    val binsPath = dir.resolve("bins.txt")
    Files.write(binsPath, bins.mkString(" ").getBytes)
    val vecPath = dir.resolve("vectors.txt")
    Files.write(vecPath, vectors.getBytes)

    def run(): Seq[(Long, Long)] =
      MelodyCompat.run(spark, histPath.toString, binsPath.toString,
          vecPath.toString, props)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val shipped = run() // bspb topk -> baseline top-20
    assert(shipped.size == 20)
    // the same conf pointed at the melody engine gives the same answer
    props.setProperty("mr.method.name", "melody")
    assert(run().toSet == shipped.toSet, "melody != bspb under shipped conf")
    // and the mrsim engine honors the conf's own pivot count
    props.setProperty("mr.method.name", "mrsim")
    props.setProperty("melody.join.type", "distance")
    props.setProperty("melody.join.distance.threshold", "1.2")
    val mrsimPairs = run().toSet
    props.setProperty("mr.method.name", "bspb")
    val basePairs = run().toSet
    assert(mrsimPairs == basePairs, "mrsim != baseline under shipped conf")
  }
}
