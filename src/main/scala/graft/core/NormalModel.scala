package graft.core

import org.apache.commons.math3.special.Erf

/** Normal-approximation machinery for the EMD lower bounds: fit a normal to
  * each record's 1-D projection and bound the gap between the normal CDF
  * and the true discrete CDF by three error scalars per record, from which
  * the grid derives closed-form EMD lower bounds between a record and a
  * whole cell of records (EMD_BR, [[SkewedGrid.emdBrWithBound]]).
  *
  * Reference behavior: utils/HistUtil.java:280-304 (fit),
  * :323-343 (CDF area), :354-434 (error envelopes).
  */
object NormalModel {
  private val Eps = 1e-8
  /** commons-math's `NormalDistribution.SQRT2`, kept for its inverse CDF. */
  private val Sqrt2 = math.sqrt(2.0)

  /** Integral of the N(mu, sigma) CDF from a to b:
    * sigma * [ t*Phi(t) + phi(t) ] evaluated at standardized endpoints. */
  def normalCdfArea(mu: Double, sigma: Double, a: Double, b: Double): Double = {
    val ta = (a - mu) / sigma
    val tb = (b - mu) / sigma
    (tb * StdNormal.cdf(tb) + StdNormal.pdf(tb)
      - ta * StdNormal.cdf(ta) - StdNormal.pdf(ta)) * sigma
  }

  /** x-coordinate where two normal CDFs cross:
    * (muA*sigB - muB*sigA) / (sigB - sigA).
    * Reference behavior: HistUtil.getNormalCDFIntersection:344-352. */
  def cdfIntersection(muA: Double, sigA: Double, muB: Double, sigB: Double): Double =
    (muA * sigB - muB * sigA) / (sigB - sigA)

  /** Integral of a discrete (step) CDF between keyA and keyB.
    * cdf: (position, cumulative) pairs sorted ascending.
    * Reference behavior: HistUtil.getDiscreteCDFAreaBetween:250-270. */
  def discreteCdfArea(cdf: Array[(Double, Double)], keyA0: Double, keyB0: Double): Double =
    discreteArea(cdf.map(_._1), cdf.map(_._2), keyA0, keyB0)

  /** [[discreteCdfArea]] over the CDF split into its key and cumulative
    * columns, so a caller that evaluates many areas on one CDF splits it
    * once. Same comparisons and products in the same order. */
  private def discreteArea(keys: Array[Double], cums: Array[Double],
                           keyA0: Double, keyB0: Double): Double = {
    var keyA = keyA0; var keyB = keyB0
    if (keyA >= keyB) return 0.0
    var area = 0.0
    val n = keys.length
    val first = keys(0); val last = keys(n - 1)
    var containsA = false; var containsB = false
    var i = 0
    while (i < n) {
      if (keys(i) == keyA) containsA = true
      if (keys(i) == keyB) containsB = true
      i += 1
    }
    if (!containsA && keyA > first) {
      var lo = n - 1
      while (lo >= 0 && !(keys(lo) < keyA)) lo -= 1
      var hi = 0
      while (hi < n && !(keys(hi) > keyA)) hi += 1
      area += cums(lo) * (keys(hi) - keyA)
      keyA = keys(hi)
    }
    if (!containsB && keyB < last) {
      var lo = n - 1
      while (lo >= 0 && !(keys(lo) < keyB)) lo -= 1
      area += cums(lo) * (keyB - keys(lo))
      keyB = keys(lo)
    }
    i = 0
    while (i < n - 1) {
      val k = keys(i)
      if (k >= keyA && k < keyB) area += cums(i) * (keys(i + 1) - k)
      i += 1
    }
    area
  }

  /** One record's error model: the CDF's key/cum columns and the domain
    * ends' standardized Phi/phi terms, computed once and shared by every
    * split point. Each point pays one Phi and one phi, shared between its
    * before- and after-area; with [[StdNormal]] those cost 27 of the 142
    * enrichment samples in a JFR profile of emdbench cube3d_threshold
    * (seed 21, 4 cores), against 175 of 293 with commons-math's Phi. Every
    * expression keeps [[normalCdfArea]]'s operands and order, so errors
    * are bit-identical to evaluating it per area. */
  private final class ErrorModel(mu: Double, sigma: Double, cdf: Array[(Double, Double)]) {
    val keys: Array[Double] = cdf.map(_._1)
    val cums: Array[Double] = cdf.map(_._2)
    val first: Double = keys(0)
    val last: Double = keys(keys.length - 1)
    private val tF = (first - mu) / sigma
    private val gF = tF * StdNormal.cdf(tF)
    private val dF = StdNormal.pdf(tF)
    private val tL = (last - mu) / sigma
    private val gL = tL * StdNormal.cdf(tL)
    private val dL = StdNormal.pdf(tL)

    def errorAt(pt: Double): Double = {
      val tP = (pt - mu) / sigma
      val gP = tP * StdNormal.cdf(tP)
      val dP = StdNormal.pdf(tP)
      val before = discreteArea(keys, cums, first, pt) - (gP + dP - gF - dF) * sigma
      val after = discreteArea(keys, cums, pt, last) - (gL + dL - gP - dP) * sigma
      before - after
    }
  }

  /** Signed approximation error of the normal vs the discrete CDF at a
    * split point: (discrete - normal) area before pt minus after pt.
    * Reference behavior: HistUtil.getErrorAt:389-396. */
  def errorAt(mu: Double, sigma: Double, cdf: Array[(Double, Double)], pt: Double): Double =
    new ErrorModel(mu, sigma, cdf).errorAt(pt)

  /** (min, max) of [[errorAt]] over the record's whole domain [first,
    * last]. errorAt is continuous with slope 2 (F - G) between keys (F the
    * step CDF, G the normal's), so its extremes lie at the keys (the ends
    * among them), where F jumps, and at each segment's crossing
    * G^-1(cums(j)) in (keys(j), keys(j+1)), where F - G changes sign; the
    * last key's cumulative is 1, so segments j = 0..n-2 are all there is.
    * Together with [[fullError]] these are the record's three EMD_BR
    * error scalars ([[SkewedGrid.emdBrWithBound]]).
    * The normal's inverse CDF is commons-math 3.6.1's own expression
    * (`NormalDistribution.inverseCumulativeProbability`), so the crossing
    * points keep its bits without building a distribution per record.
    * Reference behavior: HistUtil.getMinMaxError:354-387,398-417, with
    * one interval spanning the domain. */
  def minMaxError(mu: Double, sigma: Double, cdf: Array[(Double, Double)]): Array[Double] = {
    val model = new ErrorModel(mu, sigma, cdf)
    val keys = model.keys; val cums = model.cums
    var mn = Double.MaxValue; var mx = -Double.MaxValue
    def visit(pt: Double): Unit = {
      val e = model.errorAt(pt)
      if (e < mn) mn = e
      if (e > mx) mx = e
    }
    var j = 0
    while (j < keys.length) {
      visit(keys(j))
      if (j + 1 < keys.length) {
        val p = math.min(math.max(cums(j), Eps), 1 - Eps)
        val crossing = mu + sigma * Sqrt2 * Erf.erfInv(2 * p - 1)
        if (crossing > keys(j) && crossing < keys(j + 1)) visit(crossing)
      }
      j += 1
    }
    Array(mn, mx)
  }

  /** Total signed error over the full domain: [[errorAt]] at `end` when
    * [start, end] is the record's domain.
    * Reference behavior: HistUtil.getFullError:424-426. */
  def fullError(mu: Double, sigma: Double, cdf: Array[(Double, Double)],
                start: Double, end: Double): Double =
    discreteCdfArea(cdf, start, end) - normalCdfArea(mu, sigma, start, end)

  /** Projection EMD lower bound across multiple vectors:
    * (1/sqrt(numVectors)) * sum of per-vector 1-D EMDs.
    * Reference behavior: utils/HistUtil.java:169-196. */
  def projectEmdMulti(histA: Array[Double], histB: Array[Double],
                      projectedBinsPerVector: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < projectedBinsPerVector.length) {
      s += Emd.emd1d(histA, histB, projectedBinsPerVector(i))
      i += 1
    }
    (1.0 / math.sqrt(projectedBinsPerVector.length)) * s
  }
}

/** Standard normal CDF and density for the EMD_BR and error-envelope
  * areas. `cdf` is W. J. Cody's rational Chebyshev approximation
  * ("Rational Chebyshev approximations for the error function", Math.
  * Comp. 23, 1969) in the form R's `pnorm_both` evaluates it: three
  * ranges split at |x| = 0.67448975 and sqrt(32), with exp(-x^2/2)
  * taken as exp(-xs^2/2) * exp(-(x - xs)(x + xs)/2) for xs = trunc(16x)/16
  * so the tail keeps full relative accuracy. It agrees with commons-math's
  * `Erf.erfc` form to within 1e-15 absolute on [-40, 40] (NormalModelSpec)
  * at a fraction of the cost of that continued fraction.
  *
  * Beyond the ranges the result saturates to 0 or 1 (below -37.5193 and
  * above 8.2924, where the double rounds there anyway); NaN stays NaN, so
  * a NaN bound never compares as prunable. */
private[core] object StdNormal {
  private val Sqrt32 = math.sqrt(32.0)
  private val Sqrt2Pi = math.sqrt(2 * math.Pi)
  private val InvSqrt2Pi = 0.398942280401432677939946059934 // R's M_1_SQRT_2PI

  // |x| <= 0.67448975: Phi = 0.5 + x * A(x^2) / B(x^2)
  private val A0 = 2.2352520354606839287
  private val A1 = 161.02823106855587881
  private val A2 = 1067.6894854603709582
  private val A3 = 18154.981253343561249
  private val A4 = 0.065682337918207449113
  private val B0 = 47.20258190468824187
  private val B1 = 976.09855173777669322
  private val B2 = 10260.932208618978205
  private val B3 = 45507.789335026729956
  // 0.67448975 < |x| <= sqrt(32): tail = exp(-x^2/2) * C(|x|) / D(|x|)
  private val C = Array(0.39894151208813466764, 8.8831497943883759412,
    93.506656132177855979, 597.27027639480026226, 2494.5375852903726711,
    6848.1904505362823326, 11602.651437647350124, 9842.7148383839780218,
    1.0765576773720192317e-8)
  private val D = Array(22.266688044328115691, 235.38790178262499861,
    1519.377599407554805, 6485.558298266760755, 18615.571640885098091,
    34900.952721145977266, 38912.003286093271411, 19685.429676859990727)
  // sqrt(32) < |x|: tail = exp(-x^2/2) * (1/sqrt(2 pi) - P(1/x^2)/Q(1/x^2)) / |x|
  private val P = Array(0.21589853405795699, 0.1274011611602473639,
    0.022235277870649807, 0.001421619193227893466, 2.9112874951168792e-5,
    0.02307344176494017303)
  private val Q = Array(1.28426009614491121, 0.468238212480865118,
    0.0659881378689285515, 0.00378239633202758244, 7.29751555083966205e-5)

  /** Phi(x), the standard normal CDF. */
  def cdf(x: Double): Double = {
    val y = math.abs(x)
    if (y <= 0.67448975) {
      var num = 0.0; var den = 0.0
      if (y > 1.1102230246251565e-16) { // DBL_EPSILON / 2
        val xsq = x * x
        num = A4 * xsq; den = xsq
        num = (num + A0) * xsq; den = (den + B0) * xsq
        num = (num + A1) * xsq; den = (den + B1) * xsq
        num = (num + A2) * xsq; den = (den + B2) * xsq
      }
      0.5 + x * (num + A3) / (den + B3)
    } else if (y <= Sqrt32) {
      var num = C(8) * y; var den = y
      var i = 0
      while (i < 7) {
        num = (num + C(i)) * y; den = (den + D(i)) * y
        i += 1
      }
      val tail = expHalfSq(y) * ((num + C(7)) / (den + D(7)))
      if (x > 0) 1.0 - tail else tail
    } else if (-37.5193 < x && x < 8.2924) {
      val xsq = 1.0 / (x * x)
      var num = P(5) * xsq; var den = xsq
      var i = 0
      while (i < 4) {
        num = (num + P(i)) * xsq; den = (den + Q(i)) * xsq
        i += 1
      }
      val r = xsq * (num + P(4)) / (den + Q(4))
      val tail = expHalfSq(x) * ((InvSqrt2Pi - r) / y)
      if (x > 0) 1.0 - tail else tail
    } else if (x > 0) 1.0
    else if (x < 0) 0.0
    else x // NaN
  }

  /** exp(-x^2/2) as exp(-xs^2/2) * exp(-del/2), xs = trunc(16x)/16 and
    * del = (x - xs)(x + xs): xs^2 is exact, so the rounding error of x^2
    * never reaches the exponent. */
  private def expHalfSq(x: Double): Double = {
    val xs = (x * 16).toInt / 16.0
    val del = (x - xs) * (x + xs)
    math.exp(-xs * xs * 0.5) * math.exp(-del * 0.5)
  }

  /** phi(x), the standard normal density. */
  def pdf(x: Double): Double = math.exp(-x * x / 2) / Sqrt2Pi
}
