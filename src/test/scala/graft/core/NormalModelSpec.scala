package graft.core

import org.apache.commons.math3.distribution.NormalDistribution
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The error-envelope kernel shares Phi/phi evaluations and splits the
  * CDF once per record; its envelopes must stay bit-identical to the
  * per-area form it replaced, kept here as [[PerArea]], and must bracket
  * the signed error everywhere on the record's domain, which EMD_BR's
  * soundness rests on. The Phi/phi themselves come from [[StdNormal]],
  * pinned to commons-math below. */
class NormalModelSpec extends AnyFunSuite {

  /** The envelope code as it evaluated every area on its own: four Phi
    * and four phi per split point, `cdf.map(_._1)` per area. Its Phi/phi
    * are [[StdNormal]]'s, as the model's are, so the comparison checks
    * the sharing and splitting bit for bit; its inverse CDF stays a
    * commons-math `NormalDistribution` per record, which also pins the
    * model's inlined inverse expression to it bit for bit. */
  private object PerArea {
    private val Eps = 1e-8

    def normalCdfArea(mu: Double, sigma: Double, a: Double, b: Double): Double = {
      val ta = (a - mu) / sigma
      val tb = (b - mu) / sigma
      (tb * StdNormal.cdf(tb) + StdNormal.pdf(tb)
        - ta * StdNormal.cdf(ta) - StdNormal.pdf(ta)) * sigma
    }

    def discreteCdfArea(cdf: Array[(Double, Double)], keyA0: Double, keyB0: Double): Double = {
      var keyA = keyA0; var keyB = keyB0
      if (keyA >= keyB) return 0.0
      var area = 0.0
      val keys = cdf.map(_._1)
      def cumAt(i: Int) = cdf(i)._2
      val first = keys.head; val last = keys.last
      val containsA = keys.contains(keyA)
      val containsB = keys.contains(keyB)
      if (!containsA && keyA > first) {
        val lo = keys.lastIndexWhere(_ < keyA)
        val hi = keys.indexWhere(_ > keyA)
        area += cumAt(lo) * (keys(hi) - keyA)
        keyA = keys(hi)
      }
      if (!containsB && keyB < last) {
        val lo = keys.lastIndexWhere(_ < keyB)
        area += cumAt(lo) * (keyB - keys(lo))
        keyB = keys(lo)
      }
      var i = 0
      while (i < cdf.length - 1) {
        val k = keys(i)
        if (k >= keyA && k < keyB) area += cumAt(i) * (keys(i + 1) - k)
        i += 1
      }
      area
    }

    def errorAt(mu: Double, sigma: Double, cdf: Array[(Double, Double)], pt: Double): Double = {
      val first = cdf.head._1; val last = cdf.last._1
      val before = discreteCdfArea(cdf, first, pt) - normalCdfArea(mu, sigma, first, pt)
      val after = discreteCdfArea(cdf, pt, last) - normalCdfArea(mu, sigma, pt, last)
      before - after
    }

    /** errorAt at the domain's keys and at each segment's crossing of
      * the normal with the step, as one TreeSet. */
    def minMaxError(mu: Double, sigma: Double, cdf: Array[(Double, Double)]): Array[Double] = {
      val normal = new NormalDistribution(null, mu, sigma)
      val pts = scala.collection.mutable.TreeSet[Double]()
      for (j <- cdf.indices) {
        val (k, cum) = cdf(j)
        pts += k
        if (j + 1 < cdf.length) {
          val p = math.min(math.max(cum, Eps), 1 - Eps)
          val crossing = normal.inverseCumulativeProbability(p)
          if (crossing > k && crossing < cdf(j + 1)._1) pts += crossing
        }
      }
      val errs = pts.toSeq.map(errorAt(mu, sigma, cdf, _))
      Array(errs.min, errs.max)
    }

    def fullError(mu: Double, sigma: Double, cdf: Array[(Double, Double)],
                  start: Double, end: Double): Double =
      discreteCdfArea(cdf, start, end) - normalCdfArea(mu, sigma, start, end)
  }

  test("StdNormal cdf and pdf track commons-math on [-40, 40]") {
    val ref = new NormalDistribution(null, 0.0, 1.0)
    val split = 0.67448975; val sqrt32 = math.sqrt(32.0)
    // a dense grid plus each range boundary and its neighbouring doubles
    val edges = Seq(split, sqrt32, 8.2924, 37.5193, 0.0).flatMap { e =>
      Seq(e, -e).flatMap(x => Seq(math.nextDown(x), x, math.nextUp(x)))
    }
    val n = 2000000
    val grid = Array.tabulate(n + 1)(i => -40.0 + 80.0 * i / n) ++ edges
    java.util.Arrays.sort(grid)
    var maxCdf = 0.0; var maxPdf = 0.0; var prev = 0.0
    grid.foreach { x =>
      val c = StdNormal.cdf(x)
      maxCdf = math.max(maxCdf, math.abs(c - ref.cumulativeProbability(x)))
      maxPdf = math.max(maxPdf, math.abs(StdNormal.pdf(x) - ref.density(x)))
      assert(c >= prev, s"cdf decreases at $x: $c < $prev")
      prev = c
    }
    assert(maxCdf <= 1e-15, s"max |cdf - commons-math| = $maxCdf")
    assert(maxPdf <= 2e-16, s"max |pdf - commons-math| = $maxPdf")
    assert(StdNormal.cdf(Double.NegativeInfinity) == 0.0)
    assert(StdNormal.cdf(Double.PositiveInfinity) == 1.0)
    // a NaN bound must never prune, so it must not come back as 0
    assert(StdNormal.cdf(Double.NaN).isNaN)
    assert(StdNormal.pdf(Double.PositiveInfinity) == 0.0)
  }

  /** Rounding slack of the bracket: errorAt sums areas over different
    * partitions of the domain at different points, so where it is flat
    * (F = G) its value moves by a few ulps of the domain width. */
  private val Slack = 1e-12

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** Random, point-mass, two-point and uniform histograms over `numBins`. */
  private def hists(numBins: Int, rnd: Random): Seq[(String, Array[Double])] =
    (0 until 40).map(i => (s"random $i", Array.fill(numBins)(rnd.nextDouble()))) ++
      (0 until numBins).map(b =>
        (s"point mass at $b", Array.tabulate(numBins)(i => if (i == b) 3.0 else 0.0))) ++
      Seq(("two points", Array.tabulate(numBins)(i => if (i == 0 || i == numBins - 1) 1.0 else 0.0)),
        ("uniform", Array.fill(numBins)(1.0)),
        ("sparse counts", Array.tabulate(numBins)(i => (i % 3).toDouble)))

  for ((name, cfg) <- Seq(
      "1-D" -> graft.SparkEntry.melodyCfg1d,
      "3-D" -> graft.SparkEntry.melodyCfg3d)) {
    test(s"$name envelopes and full errors are bit-identical to the per-area form") {
      val hs = hists(cfg.numBins, new Random(61))
      var compared = 0
      for ((hname, h) <- hs; j <- cfg.projBins.indices) {
        val w = HistOps.normalize(h)
        val (mu, sig) = HistOps.fitNormal(w, cfg.projBins(j))
        val cdf = HistOps.discreteCdfNormalized(w, cfg.projBins(j))
        val where = s"$hname, vector $j"
        assert(bits(NormalModel.minMaxError(mu, sig, cdf)) ==
          bits(PerArea.minMaxError(mu, sig, cdf)), where)
        val (first, last) = (cdf.head._1, cdf.last._1)
        assert(bits(Array(NormalModel.fullError(mu, sig, cdf, first, last))) ==
          bits(Array(PerArea.fullError(mu, sig, cdf, first, last))), where)
        val mid = first + (last - first) / 3
        assert(bits(Array(NormalModel.errorAt(mu, sig, cdf, mid))) ==
          bits(Array(PerArea.errorAt(mu, sig, cdf, mid))), where)
        compared += 1
      }
      assert(compared == hs.size * cfg.numVectors)
    }

    test(s"$name [eMin, eMax] brackets errorAt on the whole domain") {
      var worst = Double.NegativeInfinity
      // a narrow mass at one end of the bins and a 1e-10 speck at the
      // other: the normal meets the speck's CDF level mid-domain
      val n = cfg.numBins
      val tinyTail = for (speck <- Gen.choose(1e-16, 1e-8); left <- Gen.oneOf(true, false))
        yield Array.tabulate(n) { i =>
          val k = if (left) i else n - 1 - i
          if (k == 0) speck else if (k >= n - 2) 1.0 else 0.0
        }
      val record = Gen.frequency(4 -> graft.AdversarialHists.record(cfg.numBins), 1 -> tinyTail)
      val prop = Prop.forAllNoShrink(record) { h =>
        val w = HistOps.normalize(h)
        for (j <- cfg.projBins.indices) {
          val (mu, sig) = HistOps.fitNormal(w, cfg.projBins(j))
          val cdf = HistOps.discreteCdfNormalized(w, cfg.projBins(j))
          val Array(eMin, eMax) = NormalModel.minMaxError(mu, sig, cdf)
          val (first, last) = (cdf.head._1, cdf.last._1)
          val pts = Array.tabulate(10001)(i => first + (last - first) * i / 10000) ++
            cdf.map(_._1)
          pts.foreach { p =>
            val e = NormalModel.errorAt(mu, sig, cdf, p)
            worst = math.max(worst, math.max(eMin - e, e - eMax))
            assert(eMin - Slack <= e && e <= eMax + Slack,
              s"vector $j at $p: errorAt $e outside [$eMin, $eMax] for ${h.mkString(",")}")
          }
        }
        Prop.passed
      }
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(60).withInitialSeed(61L).withWorkers(1), prop)
      assert(res.passed, res.status.toString)
      info(s"worst excess $worst")
    }
  }
}
