package graft.operators

import graft.core.{CubeKR, Emd, HistOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The shared top-k policy ([[EmdTopK]]) on the shapes that break a
  * reference bound: a corpus whose every record is a ref, k above the
  * number of record-ref pairs, and duplicate histograms tied at the
  * cutoff. Every top-k engine must return the brute-force ranking in
  * `(round(dist, 6), rid, sid)` order. */
class EmdTopKSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg3d = graft.SparkEntry.melodyCfg3d
  private val cfg1d = graft.SparkEntry.melodyCfg1d.copy(sideNum = 4)

  /** Weighted L1 over per-node masses: tree-EMD with `levels` of
    * `(span, edge weight)` over contiguous bins. */
  private def treeL1(levels: Seq[(Int, Double)])(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    for ((span, wgt) <- levels; nd <- 0 until a.length / span) {
      val ma = a.slice(nd * span, (nd + 1) * span).foldLeft(0.0)(_ + _)
      val mb = b.slice(nd * span, (nd + 1) * span).foldLeft(0.0)(_ + _)
      d += math.abs(ma * wgt - mb * wgt)
    }
    d
  }

  /** 1-D EMD on unit bins as the banded join computes it: the sum of
    * |prefix-sum differences| over the first n - 1 bins. */
  private def cumL1(a: Array[Double], b: Array[Double]): Double = {
    var ca = 0.0; var cb = 0.0; var d = 0.0
    for (i <- 0 until a.length - 1) { ca += a(i); cb += b(i); d += math.abs(ca - cb) }
    d
  }

  /** (engine, top-k call, the distance it ranks by on (lower id, higher id)). */
  private val engines: Seq[(String, (DataFrame, Int) => DataFrame,
      (Array[Double], Array[Double]) => Double)] = Seq(
    ("melody 3-D", (h, k) => MelodyJoin.topKJoin(spark, h, k, cfg3d),
      (a, b) => Emd.exact(a, b, cfg3d.cost)),
    ("melody 1-D", (h, k) => MelodyJoin.topKJoin(spark, h, k, cfg1d),
      cfg1d.proj1dEmd(0, _, _)),
    ("MrSim 3-D", (h, k) => MrSimJoin.topKJoin(spark, h, k, cfg3d),
      (a, b) => Emd.exact(a, b, cfg3d.cost)),
    ("MrSim 1-D", (h, k) => MrSimJoin.topKJoin(spark, h, k, cfg1d),
      cfg1d.proj1dEmd(0, _, _)),
    ("treeExact3dTopK", EmdJoins.treeExact3dTopK, CubeKR.emdFromWeights),
    ("emd1dTopK", EmdJoins.emd1dTopK(_, _), cumL1),
    ("treeEmdTopK", EmdJoins.treeEmdTopK(_, _), treeL1(Seq((4, 4.0), (2, 2.0), (1, 1.0)))),
    ("treeEmd3dTopK", EmdJoins.treeEmd3dTopK, treeL1(Seq((4, 0.25), (2, 0.25), (1, 0.5)))))

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The k best pairs of `rows` by brute force on the driver. */
  private def bruteForce(rows: Seq[(Long, Array[Double])], k: Int,
      dist: (Array[Double], Array[Double]) => Double): Seq[(Long, Long, Double)] =
    (for { (i, wi) <- rows; (j, wj) <- rows if i < j }
      yield (i, j, round6(dist(wi, wj))))
      .sortBy(p => (p._3, p._1, p._2)).take(k)

  /** Normalized 8-bin histograms: every engine joins these weights as given. */
  private def corpus(rows: Seq[(Long, Array[Double])]): DataFrame = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    rows.map { case (id, w) => (id, HistOps.normalize(w)) }.toDF("id", "weights")
  }

  private def random(n: Int, seed: Long): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map(i => (i, Array.fill(8)(rnd.nextDouble())))
  }

  private def assertEveryEngine(hists: DataFrame, k: Int): Unit = {
    val rows = hists.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    for ((name, topK, dist) <- engines) {
      val want = bruteForce(rows, k, dist)
      val got = topK(hists, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), round6(r.getDouble(2))))
        .toSeq.sortBy(p => (p._3, p._1, p._2))
      assert(got == want, s"$name, k = $k: missed ${want.diff(got).take(3)} " +
        s"extra ${got.diff(want).take(3)}")
    }
  }

  test("every record a ref: k = C(n, 2) covers each ref-ref pair once") {
    val hists = corpus(random(12, seed = 31))
    val d: (Array[Double], Array[Double]) => Double = Emd.emd1dInteger
    val rows = hists.collect().map(r => r.getSeq[Double](1).toArray)
    val maxPair = (for { i <- rows.indices; j <- rows.indices if i < j }
      yield d(rows(i), rows(j))).max
    // 66 values, one per pair: the 66th is the largest pair distance
    assert(EmdTopK.kthRefDist(hists, 66, d) == maxPair)
    assert(EmdTopK.kthRefDist(hists, 67, d) == Double.MaxValue)
    assertEveryEngine(hists, 66)
  }

  test("k above the record-ref pair count falls back to the MaxValue radius") {
    // 20 records, 16 refs: C(16, 2) + 4 * 16 = 184 record-ref pairs of 190
    val hists = corpus(random(20, seed = 37))
    val d: (Array[Double], Array[Double]) => Double = Emd.emd1dInteger
    assert(EmdTopK.kthRefDist(hists, 184, d) < Double.MaxValue)
    assert(EmdTopK.kthRefDist(hists, 185, d) == Double.MaxValue)
    assertEveryEngine(hists, 188)
  }

  test("a canonical distance within 1e-6 of the join's ranks over the arm's radius set") {
    // q_emd3d_topk's arm (SparkEntry.canonicalArm) ranks a canonical
    // distance that may differ from the engine's by up to 1e-6. Here the
    // engine distance is a table over 10 records (all refs), and the
    // canonical one adds 1e-6 below 0.1 and subtracts it above. The
    // bound is 0.0999986, the 5th smallest engine distance; those 5 pairs
    // round to 0.1 canonically, and so does (1, 2) at engine distance
    // 0.1000012, which wins the (rid, sid) tie-break. It lies past
    // EmdTopK's own radius, 0.1000006, so only the arm's extra 2e-6
    // brings it in.
    val k = 5
    val engine = Map((1L, 2L) -> 0.1000012, (3L, 4L) -> 0.0999986,
      (3L, 5L) -> 0.0999986, (4L, 5L) -> 0.0999986, (6L, 7L) -> 0.0999986,
      (8L, 9L) -> 0.0999986)
    val dist: (Array[Double], Array[Double]) => Double = (a, b) =>
      engine.getOrElse((math.min(a(0), b(0)).toLong, math.max(a(0), b(0)).toLong), 0.5)
    def canonical(d: Double): Double = round6(if (d < 0.1) d + 1e-6 else d - 1e-6)
    val ids = 1L to 10L
    val pairs = for (i <- ids; j <- ids if i < j) yield (i, j, engine.getOrElse((i, j), 0.5))
    import org.apache.spark.sql.functions.{col, round, when}
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val hists = ids.map(i => (i, Array(i.toDouble))).toDF("id", "weights")
    val got = graft.SparkEntry.canonicalArm(hists, k, dist)(
      th => pairs.filter(_._3 <= th).toDF("rid", "sid", "dist"),
      _.withColumn("dist", round(when(col("dist") < 0.1, col("dist") + 1e-6)
        .otherwise(col("dist") - 1e-6), 6)))
      .as[(Long, Long, Double)].collect().toSeq
    val want = pairs.map { case (i, j, d) => (i, j, canonical(d)) }
      .sortBy(p => (p._3, p._1, p._2)).take(k)
    assert(pairs.count(p => canonical(p._3) == 0.1) > k, "no tie at the cutoff")
    assert(want.head == ((1L, 2L, 0.1)))
    assert(got == want, s"missed ${want.diff(got)} extra ${got.diff(want)}")
  }

  test("duplicate histograms tied at the cutoff break ties on (rid, sid)") {
    // 4 distinct histograms x 5 copies: 40 zero-distance pairs, then runs
    // of 25 equal distances; k = 50 cuts the first run in the middle
    val distinct = random(4, seed = 41).map(_._2)
    val hists = corpus((0 until 20).map(i => (i.toLong + 1, distinct(i % 4).clone())))
    assertEveryEngine(hists, 50)
  }
}
