package graft.core

import org.apache.commons.math3.distribution.NormalDistribution

/** Normal-approximation machinery for the EMD lower bounds: fit a normal to
  * each record's 1-D projection, bound the gap between the normal CDF and
  * the true discrete CDF with per-interval error envelopes, and derive
  * closed-form EMD lower bounds between records (and, via the grid, between
  * a record and a whole cell of records).
  *
  * Reference behavior: utils/HistUtil.java:280-304 (fit),
  * :323-343 (CDF area), :354-434 (error envelopes), :68-116 (normal EMD LB).
  */
object NormalModel {
  private val Eps = 1e-8
  private val stdNormal = new NormalDistribution(null, 0.0, 1.0)

  /** Integral of the N(mu, sigma) CDF from a to b:
    * sigma * [ t*Phi(t) + phi(t) ] evaluated at standardized endpoints. */
  def normalCdfArea(mu: Double, sigma: Double, a: Double, b: Double): Double = {
    val ta = (a - mu) / sigma
    val tb = (b - mu) / sigma
    (tb * stdNormal.cumulativeProbability(tb) + stdNormal.density(tb)
      - ta * stdNormal.cumulativeProbability(ta) - stdNormal.density(ta)) * sigma
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
    * split point. `cumulativeProbability` is the enrichment hot spot, so
    * each point pays one Phi and one phi, shared between its before- and
    * after-area. Every expression keeps [[normalCdfArea]]'s operands and
    * order, so errors are bit-identical to evaluating it per area. */
  private final class ErrorModel(mu: Double, sigma: Double, cdf: Array[(Double, Double)]) {
    val keys: Array[Double] = cdf.map(_._1)
    val cums: Array[Double] = cdf.map(_._2)
    val first: Double = keys(0)
    val last: Double = keys(keys.length - 1)
    private val tF = (first - mu) / sigma
    private val gF = tF * stdNormal.cumulativeProbability(tF)
    private val dF = stdNormal.density(tF)
    private val tL = (last - mu) / sigma
    private val gL = tL * stdNormal.cumulativeProbability(tL)
    private val dL = stdNormal.density(tL)

    def errorAt(pt: Double): Double = {
      val tP = (pt - mu) / sigma
      val gP = tP * stdNormal.cumulativeProbability(tP)
      val dP = stdNormal.density(tP)
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

  /** Per-interval (min, max) of errorAt over the record's domain split into
    * numIntervals equal intervals; evaluated at interval endpoints, discrete
    * CDF steps, and normal-CDF crossings of each step level.
    * Returns flattened [min0, max0, min1, max1, ...].
    * Reference behavior: HistUtil.getMinMaxError:354-387,398-417. */
  def minMaxError(mu: Double, sigma: Double, cdf: Array[(Double, Double)],
                  numIntervals: Int): Array[Double] = {
    val normal = new NormalDistribution(null, mu, sigma)
    val model = new ErrorModel(mu, sigma, cdf)
    val keys = model.keys; val cums = model.cums
    val first = model.first; val last = model.last
    val len = (last - first) / numIntervals
    val out = new Array[Double](2 * numIntervals)
    var i = 0
    while (i < numIntervals) {
      val start = first + i * len
      val end = first + (i + 1) * len
      val pts = scala.collection.mutable.TreeSet[Double](start, end)
      var j = 0
      while (j < keys.length) {
        val k = keys(j)
        if (start < k && k < end && j + 1 < keys.length) {
          pts += k
          val p = math.min(math.max(cums(j), Eps), 1 - Eps)
          val potential = normal.inverseCumulativeProbability(p)
          val nextKey = keys(j + 1)
          if (potential > k && potential < end && potential < last && potential < nextKey)
            pts += potential
        }
        j += 1
      }
      var mn = Double.MaxValue; var mx = -Double.MaxValue
      pts.foreach { p =>
        val e = model.errorAt(p)
        if (e < mn) mn = e
        if (e > mx) mx = e
      }
      out(2 * i) = mn
      out(2 * i + 1) = mx
      i += 1
    }
    out
  }

  /** Total signed error over the full domain.
    * Reference behavior: HistUtil.getFullError:424-426. */
  def fullError(mu: Double, sigma: Double, cdf: Array[(Double, Double)],
                start: Double, end: Double): Double =
    discreteCdfArea(cdf, start, end) - normalCdfArea(mu, sigma, start, end)

  /** Envelope lookup for the interval containing `point`.
    * Reference behavior: HistUtil.lookupError:410-422. */
  def lookupError(minMaxErr: Array[Double], min: Boolean,
                  start: Double, end: Double, point: Double): Double = {
    val numIntervals = minMaxErr.length / 2
    val len = (end - start) / numIntervals
    var interval = math.floor((point - start) / len).toInt
    if (interval < 0) interval = 0
    if (interval >= numIntervals) interval = numIntervals - 1
    if (min) minMaxErr(2 * interval) else minMaxErr(2 * interval + 1)
  }

  /** Normal EMD lower bound between two records on one projection: the
    * |area between the two normal CDFs| corrected by each record's error
    * envelope so it never exceeds the true 1-D EMD.
    * Reference behavior: utils/HistUtil.java:68-116. */
  def normalEmd(histA: Array[Double], histB: Array[Double], bins: Array[Double],
                numIntervals: Int): Double = {
    val (muA, sigA) = HistOps.fitNormal(HistOps.normalize(histA), bins)
    val (muB, sigB) = HistOps.fitNormal(HistOps.normalize(histB), bins)
    val cdfA = HistOps.discreteCdfNormalized(histA, bins)
    val cdfB = HistOps.discreteCdfNormalized(histB, bins)
    val intersect = cdfIntersection(muA, sigA, muB, sigB)
    val errA = minMaxError(muA, sigA, cdfA, numIntervals)
    val errB = minMaxError(muB, sigB, cdfB, numIntervals)
    val tMin = cdfA.head._1
    val tMax = cdfA.last._1
    val fullA = fullError(muA, sigA, cdfA, tMin, tMax)
    val fullB = fullError(muB, sigB, cdfB, tMin, tMax)
    var dist = 0.0
    if (intersect > tMin && intersect < tMax) {
      val areaA1 = normalCdfArea(muA, sigA, tMin, intersect)
      val areaB1 = normalCdfArea(muB, sigB, tMin, intersect)
      val areaA2 = normalCdfArea(muA, sigA, intersect, tMax)
      val areaB2 = normalCdfArea(muB, sigB, intersect, tMax)
      dist = math.abs(areaA1 - areaB1) + math.abs(areaA2 - areaB2)
      val dominance = areaA1 - areaB1
      if (dominance <= 0)
        dist = dist - lookupError(errA, min = false, tMin, tMax, intersect) +
          lookupError(errB, min = true, tMin, tMax, intersect)
      else
        dist = dist + lookupError(errA, min = true, tMin, tMax, intersect) -
          lookupError(errB, min = false, tMin, tMax, intersect)
    } else {
      dist = normalCdfArea(muA, sigA, tMin, tMax) - normalCdfArea(muB, sigB, tMin, tMax)
      if (dist < 0) dist = math.abs(dist) - fullA + fullB
      else if (dist > 0) dist = math.abs(dist) + fullA - fullB
    }
    if (dist < 0) 0.0 else dist
  }

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
