package graft.core

/** Relative position of a record to a grid cell in the sheared Hough plane. */
sealed trait Direction
object Direction {
  case object Inner extends Direction
  case object Northern extends Direction
  case object Southern extends Direction
  case object Eastern extends Direction
  case object Western extends Direction
  case object Northeastern extends Direction
  case object Northwestern extends Direction
  case object Southeastern extends Direction
  case object Southwestern extends Direction
}

/** Sheared (parallelogram) grid over the Hough plane of fitted normals.
  *
  * Each record's 1-D projection is fitted as N(mu, sigma) and mapped to the
  * point (m, b) = (1/sigma, -mu/sigma). The plane is partitioned by two
  * line families with slopes (-tMax, -tMin) (t = centered projected-bin
  * range), forming a sideNum x sideNum parallelogram grid; a cell id packs
  * the two intercept counts. Cell boundaries come from cumulative intercept
  * arrays — equal-width for the uniform grid, percentile-based for the
  * quantile grid (both are the same mechanism here).
  *
  * The point of this construction: a point dominating another in this plane
  * has a normal CDF everywhere above/below the other's, which turns
  * record-vs-cell EMD lower bounds (EMD_BR) into closed-form CDF-area
  * differences between the record's normal and the cell's corner normals.
  *
  * Reference behavior: utils/Grid.java:36-58 (construction), :536-583
  * (direction), :771-877 (bounds/corners), :884-1096 (EMD_BR),
  * utils/QuantileGrid.java:33-69 (percentile intercepts).
  *
  * @param domain (mMin, mMax, bMin, bMax) of the Hough points
  * @param slopes (slopeSW, slopeSE) = (-tMax, -tMin)
  * @param sideNum cells per side
  * @param interceptsSW cumulative boundary offsets along the SW edge,
  *   length sideNum+1 (ascending, [0]=start edge, [sideNum]=far edge)
  * @param interceptsSE same along the SE edge
  */
final class SkewedGrid(
    val domain: Array[Double],
    val slopes: Array[Double],
    val sideNum: Int,
    val interceptsSW: Array[Double],
    val interceptsSE: Array[Double]) extends Serializable {

  val t: Array[Double] = Array(-slopes(1), -slopes(0)) // (tMin, tMax)

  // line = (slope, pointX, pointY)
  private val lineSW = Array(slopes(0), domain(0), domain(2))
  private val lineSE = Array(slopes(1), domain(1), domain(2))
  private val lineNE = Array(slopes(0), domain(1), domain(3))
  private val lineNW = Array(slopes(1), domain(0), domain(3))
  val pointSouthern: Array[Double] = intersection(lineSW, lineSE)
  val pointEastern: Array[Double] = intersection(lineSE, lineNE)
  val pointNorthern: Array[Double] = intersection(lineNE, lineNW)
  val pointWestern: Array[Double] = intersection(lineSW, lineNW)

  private def line(point: Array[Double], slope: Double): Array[Double] =
    Array(slope, point(0), point(1))

  private def intersection(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a(0) == b(0)) return null
    val x = (b(2) - a(2) + a(0) * a(1) - b(0) * b(1)) / (a(0) - b(0))
    Array(x, b(0) * (x - b(1)) + b(2))
  }

  private def dist(a: Array[Double], b: Array[Double]): Double =
    math.hypot(a(0) - b(0), a(1) - b(1))

  private def getX(len: Double, slope: Double): Double =
    len / math.sqrt(1 + slope * slope)

  private def getY(len: Double, slope: Double): Double =
    getX(len, slope) * math.abs(slope)

  /** Distances from the southern corner to the projections of `point` onto
    * the SW and SE boundary lines (projecting along the opposite family).
    * Reference behavior: Grid.getProjectionDistanceInGrid:678-705. */
  def projectionDistances(point: Array[Double]): (Double, Double) = {
    val projSW = intersection(line(point, slopes(1)), lineSW)
    val projSE = intersection(line(point, slopes(0)), lineSE)
    (dist(projSW, pointSouthern), dist(projSE, pointSouthern))
  }

  private def countOffset(offset: Double, intercepts: Array[Double]): Int = {
    var idx = java.util.Arrays.binarySearch(intercepts, offset)
    if (idx < 0) idx = -(idx + 1) - 1
    if (idx < 0) idx = 0
    idx
  }

  def countSW(point: Array[Double]): Int =
    countOffset(projectionDistances(point)._1, interceptsSW)

  def countSE(point: Array[Double]): Int =
    countOffset(projectionDistances(point)._2, interceptsSE)

  /** Cell id of a Hough point: countSE * sideNum + countSW, clamped.
    * Reference behavior: Grid.getGridId:42-58. */
  def gridId(point: Array[Double]): Int = {
    var sw = countSW(point)
    var se = countSE(point)
    if (sw >= sideNum) sw = sideNum - 1
    if (se >= sideNum) se = sideNum - 1
    se * sideNum + sw
  }

  /** Position of a record relative to a cell (by intercept-count deltas).
    * Reference behavior: Grid.locateRecordToGrid:545-583. */
  def locate(point: Array[Double], gridId: Int): Direction =
    locateByCounts(countSW(point), countSE(point), isDomainCorner(point), gridId)

  /** [[locate]] from the record's intercept counts, which a caller
    * scanning many cells evaluates once per record. isCorner = record
    * coincides with a domain corner (the reference's special case forcing
    * Inner). */
  def locateByCounts(recSW: Int, recSE: Int, isCorner: Boolean, gridId: Int): Direction = {
    if (isCorner) return Direction.Inner
    val sw = recSW - gridId % sideNum
    val se = recSE - gridId / sideNum
    if (sw > 0 && se > 0) Direction.Northern
    else if (sw > 0 && se == 0) Direction.Northwestern
    else if (sw > 0 && se < 0) Direction.Western
    else if (sw == 0 && se > 0) Direction.Northeastern
    else if (sw == 0 && se < 0) Direction.Southwestern
    else if (sw < 0 && se > 0) Direction.Eastern
    else if (sw < 0 && se == 0) Direction.Southeastern
    else if (sw < 0 && se < 0) Direction.Southern
    else Direction.Inner
  }

  /** Record-is-domain-corner test (reference: Grid.locateRecordToGrid
    * epsilon special case). */
  def isDomainCorner(point: Array[Double]): Boolean = {
    val eps = 1e-6
    (math.abs(point(0) - domain(0)) <= eps && math.abs(point(1) - domain(2)) <= eps) ||
      (math.abs(point(0) - domain(1)) <= eps && math.abs(point(1) - domain(3)) <= eps)
  }

  /** All cell corner bounds, memoized (sideNum^2 entries — candidate
    * enumeration hits these hundreds of millions of times). */
  lazy val cellBounds: Array[Array[Double]] =
    Array.tabulate(sideNum * sideNum)(cellBound)

  /** Lower and upper corner points of a cell: (loX, loY, hiX, hiY).
    * Reference behavior: Grid.getGrid:844-877 + QuantileGrid:57-69. */
  def cellBound(gridId: Int): Array[Double] = {
    val sw = gridId % sideNum
    val se = gridId / sideNum
    val lower = cornerByCount(sw, se)
    val upper = cornerByCount(sw + 1, se + 1)
    Array(lower(0), lower(1), upper(0), upper(1))
  }

  private def cornerByCount(cSW: Int, cSE: Int): Array[Double] = {
    val pSW = Array(
      pointSouthern(0) - getX(interceptsSW(cSW), slopes(0)),
      pointSouthern(1) + getY(interceptsSW(cSW), slopes(0)))
    val pSE = Array(
      pointSouthern(0) + getX(interceptsSE(cSE), slopes(1)),
      pointSouthern(1) + getY(interceptsSE(cSE), slopes(1)))
    intersection(line(pSW, slopes(1)), line(pSE, slopes(0)))
  }

  // ---- EMD_BR: record-to-cell lower bound ------------------------------

  /** (mu, sigma) of the normal encoded by a Hough point: sigma = 1/m,
    * mu = -b/m. Reference behavior: Grid.getNormal:1029-1038. */
  private def pointNormal(p: Array[Double]): (Double, Double) =
    (p(1) * (1.0 / p(0)) * -1.0, 1.0 / p(0))

  /** |CDF area difference| of two normals over [start, end], sigma floored.
    * Reference behavior: HistUtil.getCDFDifferenceBetweenNormals:41-67. */
  private def cdfDiff(a: (Double, Double), b: (Double, Double),
                      start: Double, end: Double): Double = {
    val sa = if (math.abs(a._2) == 0) 1e-8 else a._2
    val sb = if (math.abs(b._2) == 0) 1e-8 else b._2
    math.abs(NormalModel.normalCdfArea(a._1, sa, start, end) -
      NormalModel.normalCdfArea(b._1, sb, start, end))
  }

  /** Area between two normal CDFs over the projection domain [t0, t1],
    * split at their crossing when it lies inside. Equal sigmas give no
    * finite crossing (identical normals give 0/0), so one integral over
    * the domain, 0 for identical normals.
    * Reference behavior: Grid.getEmdBrNormal:1011-1034. */
  private def emdBrNormal(rec: (Double, Double), cell: (Double, Double)): Double = {
    val inter = NormalModel.cdfIntersection(rec._1, rec._2, cell._1, cell._2)
    val tMin = t(0); val tMax = t(1)
    if (!java.lang.Double.isFinite(inter) || tMin - inter > 0 || inter - tMax > 0 ||
        math.abs(tMin - inter) <= 1e-7 || math.abs(inter - tMax) <= 1e-7)
      cdfDiff(rec, cell, tMin, tMax)
    else
      cdfDiff(rec, cell, tMin, inter) + cdfDiff(rec, cell, inter, tMax)
  }

  /** EMD_BR: lower bound on the 1-D (projected) EMD between a record and
    * ANY record inside a grid cell, by dominance case analysis on the
    * record's position relative to the cell.
    *
    * @param record (m, b) Hough point of the record on this vector
    * @param recordErr the record's error scalars [eMin, eMax, eFull]
    *   ([[NormalModel.minMaxError]], [[NormalModel.fullError]])
    * @param gridId the candidate cell on this vector's grid
    * @param gridErr the cell's [min eMin, max eMax, min eFull, max eFull]
    *   over its members
    * Reference behavior: Grid.getEmdBr:884-1009. */
  def emdBr(record: Array[Double], recordErr: Array[Double], gridId: Int,
            gridErr: Array[Double]): Double =
    emdBrWithBound(record, recordErr, cellBound(gridId), gridErr, locate(record, gridId))

  /** [[emdBr]] with the cell's corners and the record's direction given.
    *
    * Soundness. Write F for a discrete CDF, G for its fitted normal's
    * and e(p) = int_t0^p (F - G) - int_p^t1 (F - G) for the signed error
    * at a split point p ([[NormalModel.errorAt]]). For a record r, a
    * member m and any split point p,
    *   EMD1(r, m) >= |int_t0^p (F_r - F_m)| + |int_p^t1 (F_r - F_m)|
    *             >= |int_t0^p (G_r - G_m) - int_p^t1 (G_r - G_m)
    *                 + e_r(p) - e_m(p)|.
    * The pair's normal EMD N = int |G_r - G_m| is at least the corner
    * term the dominance geometry computes.
    *  - Northern/Southern: the record's normal lies above (below) every
    *    member's on the whole domain, so at p = t1 the normal part is N
    *    (-N) and e(t1) = eFull. Northern gives corner + eFull_r - max
    *    eFull over the cell; Southern gives corner + min eFull - eFull_r.
    *  - Every partial direction: two normal CDFs cross at most once, so
    *    at their crossing p (or at t1 when it lies outside the domain)
    *    the normal part is +-N and EMD1 >= N - |e_r(p) - e_m(p)|. A
    *    member's crossing is unknown, so only the whole-domain brackets
    *    [eMin, eMax] of e hold there; since e(t0) = -eFull and
    *    e(t1) = eFull lie inside them, the same brackets cover members
    *    whose normal never crosses the record's. So
    *    |e_r(p) - e_m(p)| <= max(max eMax - eMin_r, eMax_r - min eMin),
    *    and the bound is the corner term plus
    *    min(eMin_r - max eMax, min eMin - eMax_r); for E/W the corner
    *    term is the smaller of the lower- and upper-corner terms. */
  def emdBrWithBound(record: Array[Double], recordErr: Array[Double],
                     gridBound: Array[Double], gridErr: Array[Double],
                     direction: Direction): Double = {
    val recN = (record(1) * (1.0 / record(0)) * -1.0, 1.0 / record(0))
    val lower = Array(gridBound(0), gridBound(1))
    val upper = Array(gridBound(2), gridBound(3))
    val upperN = pointNormal(upper)
    val lowerN = pointNormal(lower)
    if (upperN._2 < 0 || lowerN._2 < 0 || recN._2 < 0) return 0.0

    val cellLineNE = line(upper, slopes(0))
    val cellLineNW = line(upper, slopes(1))
    val cellLineSE = line(lower, slopes(1))
    val cellLineSW = line(lower, slopes(0))

    var isN: (Double, Double) = (0.0, 1.0)
    direction match {
      case Direction.Northern =>
        return math.max(emdBrNormal(recN, upperN) + recordErr(2) - gridErr(3), 0.0)
      case Direction.Southern =>
        return math.max(emdBrNormal(recN, lowerN) + gridErr(2) - recordErr(2), 0.0)
      case Direction.Northeastern =>
        isN = pointNormal(intersection(line(record, slopes(1)), cellLineNE))
      case Direction.Northwestern =>
        isN = pointNormal(intersection(line(record, slopes(0)), cellLineNW))
      case Direction.Southeastern =>
        isN = pointNormal(intersection(line(record, slopes(0)), cellLineSE))
      case Direction.Southwestern =>
        isN = pointNormal(intersection(line(record, slopes(1)), cellLineSW))
      case Direction.Eastern =>
        isN = pointNormal(intersection(cellLineNE, cellLineSE))
      case Direction.Western =>
        isN = pointNormal(intersection(cellLineNW, cellLineSW))
      case Direction.Inner =>
        return 0.0
    }
    if (isN._2 < 0) return 0.0

    def viaCorner(cornerN: (Double, Double)): Double =
      0.5 * (emdBrNormal(cornerN, recN) + emdBrNormal(isN, recN) -
        emdBrNormal(isN, cornerN))
    val normal = direction match {
      case Direction.Northeastern | Direction.Northwestern => viaCorner(upperN)
      case Direction.Southeastern | Direction.Southwestern => viaCorner(lowerN)
      case _ => math.min(viaCorner(lowerN), viaCorner(upperN)) // Eastern, Western
    }
    val err = math.min(recordErr(0) - gridErr(1), gridErr(0) - recordErr(1))
    math.max(normal + err, 0.0)
  }
}

object SkewedGrid {
  /** Uniform grid: equal-width cumulative intercepts.
    * Reference behavior: Grid.initializeGrid:707-740. */
  def uniform(domain: Array[Double], slopes: Array[Double], sideNum: Int): SkewedGrid = {
    val tmp = new SkewedGrid(domain, slopes, sideNum,
      Array.tabulate(sideNum + 1)(_.toDouble),
      Array.tabulate(sideNum + 1)(_.toDouble))
    val dSW = tmp.pointWestern // distance S->W along SW edge
    val dSE = tmp.pointEastern
    val lenSW = math.hypot(dSW(0) - tmp.pointSouthern(0), dSW(1) - tmp.pointSouthern(1))
    val lenSE = math.hypot(dSE(0) - tmp.pointSouthern(0), dSE(1) - tmp.pointSouthern(1))
    new SkewedGrid(domain, slopes, sideNum,
      Array.tabulate(sideNum + 1)(i => lenSW * i / sideNum),
      Array.tabulate(sideNum + 1)(i => lenSE * i / sideNum))
  }

  /** Quantile grid from percentile boundaries of the SW/SE projection
    * distances. Reference behavior: QuantileGrid + QNEPreReducer:152-189. */
  def quantile(domain: Array[Double], slopes: Array[Double], sideNum: Int,
               swBounds: Array[Double], seBounds: Array[Double]): SkewedGrid =
    new SkewedGrid(domain, slopes, sideNum, swBounds, seBounds)
}
