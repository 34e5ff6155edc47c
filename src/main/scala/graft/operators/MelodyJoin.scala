package graft.operators

import graft.SessionMemo
import graft.core.Caching._
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Grid-pruned EMD similarity self-join — the Spark-native rebuild of the
  * reference's flagship 4-phase "melody" MapReduce engine
  * (mr/normal/QuantileNormalEmd.java:126-247).
  *
  * A threshold join runs four Spark jobs in place of the 4 chained MR
  * jobs, whatever the config's dimension:
  *   - grids: one RDD job fits the per-record normals' Hough points; the
  *     driver derives the domains and quantile grids from them;
  *   - duals: one `takeOrdered` job draws the lowest-id sample;
  *   - summarize: one job enriches every record (persisted) and merges
  *     the per-cell summaries, collected (O(cells)) and broadcast — no
  *     DistributedCache, no side files (Phases 1-2);
  *   - join: one shuffle (Phase 3). Each record goes to its own cell
  *     combination as a native and to every candidate combination that
  *     survives the cell-level prunes (dual range, Rubner box, tree gap,
  *     EMD_BR) as a guest; each combination's group runs the reference's
  *     per-cell nested loop (NEProcessReducer.joinRecords:204-264),
  *     native x native and native x guest, through the [[Cascade]],
  *     as a sweep in [[Config.projMean]] order that skips pairs the
  *     projected-centroid bound already rejects.
  *   - Phase 4 (top-k merge): [[EmdTopK.join]] runs this join at a
  *     radius bounded by exact distances to a few reference records and
  *     keeps the k best.
  * A 1-D single-vector config runs the same Phase 3; its [[Cascade]]
  * reduces to the closed-form 1-D EMD.
  *
  * Scale design: the only data-sized shuffle is the join's group-by-cell.
  * Cell count is bounded by grid^(2*numVectors), independent of data
  * size, so the collected summary stays tiny at any scale. A task holds
  * one combination's natives plus its guest copies at once — the same
  * per-key footprint a sort-merge join's buffered side has. Skew: one
  * heavy cell is one task. AQE never split those cells on the former
  * sort-merge joins either: it splits a partition only above
  * `skewedPartitionThresholdInBytes` (256 MB), which no gated scale
  * reaches; the density-scaled grid side ([[sideNumFor]]) is what bounds
  * per-cell occupancy.
  */
object MelodyJoin {

  /** Density-scaled grid resolution. A FIXED sideNum saturates as the
    * corpus densifies: with a constant cell count, per-cell occupancy
    * grows linearly in N and intra-cell candidate pairs quadratically
    * (measured at sf0.1 / theta 0.0803: side 6 admits 5.67M candidate
    * pairs for a 148.6k-pair output, side 8 admits 1.57M, side 10
    * 745k — smaller scales sit at ~2-5x output). Keeping expected
    * occupancy per projection grid roughly constant restores
    * output-proportional candidate work: side = clamp(lo..hi,
    * round(sqrt(n / targetPerCell))).
    *
    * targetPerCell=300 (side 8 at N=20k) was swept at sf0.1 against the
    * full join wall time: finer grids buy their candidate cut with
    * guest-ENUMERATION cost (the per-record envelope scan walks side^2
    * cells per vector), so side 10 is ~15% slower than side 6 at
    * local[32] even with 7.6x fewer candidates, while side 8 is within
    * ~5% and still cuts candidates 3.6x and guest replication rows
    * (the join's shuffle volume — what dominates on a 1000-executor
    * network, not a single-box bench) 2.2x. The JOIN RESULT is
    * grid-invariant — cell bounds only prune, soundly — so this tunes
    * cost, never answers (pair/top-k sets verified identical at side
    * 6 vs 10 at sf0.01 and sf0.1).
    *
    * hi=12 is the round-17 grid sweep's measured SATURATION KNEE at the
    * 10x (200k-record) gate corpus: past side ~12 the occupied-combo
    * count and guest replication PLATEAU (side 12/16/20/24 -> combos
    * 19171/19455/19494/19505, guest copies 3.87M/3.52M/3.46M/3.46M)
    * while the per-record side^2 envelope scan keeps growing, so the
    * sqrt law's side-24 pick measured 28.6s against side 12's 23.8s
    * full-join wall — extra cells past the knee are pure enumeration
    * loss at ANY cluster width (the 11% replication gap 12 -> 24 is the
    * whole shuffle-side upside, and both scan and shuffle distribute).
    * The knee is data-shape-driven (occupied-combo diversity bounds
    * out, not row count): re-sweep before raising hi for corpora whose
    * combos still grow past 19.5k. (packCombo's 16-bit per-vector cell
    * budget allowed up to 24; the cap is now the measured knee, not the
    * encoding limit.) */
  def sideNumFor(n: Long, targetPerCell: Int = 300,
                 lo: Int = 6, hi: Int = 12): Int =
    math.max(lo, math.min(hi,
      math.round(math.sqrt(n.toDouble / targetPerCell)).toInt))

  /** Engine configuration. Every stochastic choice is seed-explicit
    * (the reference's unseeded Random / first-two-hists duals are
    * reproducibility bugs we do not inherit — ReductionBound.java:11,
    * NEPreMapper.java:123-128). */
  final case class Config(
      dimension: Int,
      bins: Array[Double],
      vectors: Array[Array[Double]],
      sideNum: Int = 4,
      numDuals: Int = 10,
      numReductions: Int = 10,
      reducedDim: Int = 8,
      seed: Long = 42L,
      groundDist: GroundDist = GroundDist.L2,
      /** Exact `percentile` matches the reference's grid boundaries
        * (QNEPreReducer.java:152-189) but buffers O(distinct values) in the
        * aggregator; flip to approx (accuracy 10000) for 100 TB inputs —
        * boundaries only steer pruning, never the answer. */
      exactQuantiles: Boolean = true,
      /** Optional extra lower-bound stage for the pair cascade: each
        * row is a potential pi with |pi(i) - pi(j)| <= cost(i, j) (a
        * 1-Lipschitz function of the bins under the config's ground
        * distance), giving the KR-duality bound
        * |<pi, wa - wb>| <= EMD(wa, wb). Admissibility is ENFORCED at
        * construction (the `require` below — O(numBins^2 * P) on the
        * driver, trivial at any real bin count): a non-Lipschitz row
        * would silently drop answers, so it is rejected up front. The
        * cube fixture passes CubeKR's 24 hardest-pruning dual vertices
        * (SparkEntry.melodyCfg3d); defaults to none. */
      lipschitzPotentials: Array[Array[Double]] = Array.empty) extends Serializable {
    require(lipschitzPotentials.forall(_.length == bins.length / dimension),
      "each Lipschitz potential needs one value per bin")
    val numBins: Int = bins.length / dimension
    val numVectors: Int = vectors.length
    /** The reference's error-interval count (`melody.normal.error.interval`,
      * default 5). Nothing reads it: EMD_BR's error scalars span each
      * vector's whole domain. Kept, fixed, for callers that still write
      * the key into a reference-format conf. */
    def numIntervals: Int = 5
    /** Centered projected bins per vector (driver-side precompute;
      * reference: NEPreMapper.java:99, HistUtil.projectBins). */
    val projBins: Array[Array[Double]] = vectors.map { v =>
      HistOps.subtractAvg(HistOps.projectBins(bins, dimension, HistOps.unitArray(v)))
    }
    /** (tMin, tMax) per vector. */
    val tRange: Array[(Double, Double)] = projBins.map(pb => (pb.min, pb.max))
    /** Ground-distance cost matrix (L1/L2/L3 supported as in the
      * reference's getEmdLOne/LTwo/LThree - DistanceUtil.java:81-95). */
    val cost: Array[Double] = Emd.costMatrix(bins, dimension, groundDist)
    // Lipschitz admissibility, enforced at construction: |pi_i - pi_j|
    // <= cost(i, j) for every potential and bin pair. Polytope VERTICES
    // attain equality on their tight edges, and both sides are
    // independent FP expressions, so the comparison carries 1e-9 slack
    // (the cascade's reject threshold carries matching slack — a
    // boundary-equal potential can never drop an answer).
    locally {
      var q = 0
      while (q < lipschitzPotentials.length) {
        val pi = lipschitzPotentials(q)
        var i = 0
        while (i < numBins) {
          var j = i + 1
          while (j < numBins) {
            require(math.abs(pi(i) - pi(j)) <= cost(i * numBins + j) + 1e-9,
              s"lipschitzPotentials($q) is not 1-Lipschitz under the " +
                s"ground distance: |pi($i) - pi($j)| = " +
                s"${math.abs(pi(i) - pi(j))} > cost = ${cost(i * numBins + j)}" +
                " — an inadmissible potential would silently drop answers")
            j += 1
          }
          i += 1
        }
        q += 1
      }
    }
    /** Per vector: bin order sorted by projected position + consecutive
      * gaps — the 1-D EMD then needs one allocation-free pass (the
      * TreeMap-based general form costs ~10x in the pair cascade). */
    val projOrder: Array[Array[Int]] =
      projBins.map(pb => Array.range(0, numBins).sortBy(i => (pb(i), i)))
    val projGaps: Array[Array[Double]] = Array.tabulate(numVectors) { j =>
      val pb = projBins(j); val ord = projOrder(j)
      Array.tabulate(numBins - 1)(i => pb(ord(i + 1)) - pb(ord(i)))
    }

    /** 1-D EMD of two normalized weight arrays on vector j's projection:
      * integral of |CDF difference| via the precomputed order and gaps.
      * Equals Emd.emd1d(wa, wb, projBins(j)) for normalized inputs. */
    def proj1dEmd(j: Int, wa: Array[Double], wb: Array[Double]): Double =
      proj1dEmdUpTo(j, wa, wb, Double.PositiveInfinity)

    /** [[proj1dEmd]] that stops once the running total passes `limit`
      * (it only grows), returning that partial total; otherwise the
      * same value, bit for bit. */
    def proj1dEmdUpTo(j: Int, wa: Array[Double], wb: Array[Double],
                      limit: Double): Double = {
      val ord = projOrder(j); val gaps = projGaps(j)
      var run = 0.0; var total = 0.0
      var i = 0
      while (i < gaps.length && total <= limit) {
        run += wa(ord(i)) - wb(ord(i))
        total += math.abs(run) * gaps(i)
        i += 1
      }
      total
    }

    /** Whether the joins' exact EMD is the closed-form 1-D EMD: one
      * projection vector on a 1-D L2 config. */
    val closedForm1d: Boolean =
      dimension == 1 && numVectors == 1 && groundDist == GroundDist.L2

    /** The exact EMD the joins compute for two normalized weight arrays. */
    def exactEmd(wa: Array[Double], wb: Array[Double]): Double =
      if (closedForm1d) proj1dEmd(0, wa, wb) else Emd.exact(wa, wb, cost)

    /** Centroid of a normalized weight array projected on vector j. Under
      * L2, |projMean(j, wa) - projMean(j, wb)| <= proj1dEmd(j, wa, wb) <=
      * EMD(wa, wb): the centroid-distance bound seen along one unit vector. */
    def projMean(j: Int, w: Array[Double]): Double = {
      val pb = projBins(j)
      var m = 0.0
      var i = 0
      while (i < pb.length) { m += w(i) * pb(i); i += 1 }
      m
    }
  }

  /** One record in a Phase-3 group, the unit of the shared sweep
    * ([[sweepSelf]], [[sweepCross]]). In a melody combo's group it is a
    * native of the combo (`native`) or a guest copy replicated there by
    * [[guestCombos]], and `key` is its [[Config.projMean]] on the first
    * vector. In a MrSim pivot group it is the record's base copy
    * (`native`) or a window copy, and `key` is its first Rubner
    * coordinate. Under L2 either key's difference bounds EMD from below,
    * so a pair whose keys differ by more than theta is never a candidate. */
  private[operators] final case class CellMember(id: Long, w: Array[Double],
                                                 key: Double, native: Boolean)

  /** `members` sorted by key, each weight array copied in that order, so
    * the sweeps below walk memory in order (sorting alone scatters it). */
  private[operators] def sweepOrder(members: Iterable[CellMember]): Array[CellMember] =
    members.toArray.sortBy(_.key)(Ordering.Double.TotalOrdering)
      .map(m => m.copy(w = m.w.clone()))

  /** Calls `test` on every pair `xs(a), xs(b)`, a < b, whose keys differ
    * by at most `lim`; `xs` is in [[sweepOrder]]. `lim = +Inf` visits
    * every pair. */
  private[operators] def sweepSelf(xs: Array[CellMember], lim: Double)(
      test: (CellMember, CellMember) => Unit): Unit = {
    var a = 0
    while (a < xs.length) {
      val x = xs(a)
      var b = a + 1
      while (b < xs.length && xs(b).key - x.key <= lim) { test(x, xs(b)); b += 1 }
      a += 1
    }
  }

  /** Calls `test` on every pair `(x in xs, y in ys)` whose keys differ by
    * at most `lim`, in one two-pointer pass; both are in [[sweepOrder]].
    * `lim = +Inf` visits every pair. */
  private[operators] def sweepCross(xs: Array[CellMember], ys: Array[CellMember],
                                    lim: Double)(
      test: (CellMember, CellMember) => Unit): Unit = {
    var y0 = 0
    var a = 0
    while (a < xs.length) {
      val x = xs(a)
      // x.key never decreases, so ys below the window stay below
      while (y0 < ys.length && x.key - ys(y0).key > lim) y0 += 1
      var b = y0
      while (b < ys.length && ys(b).key - x.key <= lim) { test(x, ys(b)); b += 1 }
      a += 1
    }
  }

  /** One output pair of the threshold join, lower id first. */
  final case class JoinPair(rid: Long, sid: Long, dist: Double)

  /** Summary of one cell combination (= Phase 2 reduce,
    * NESpaceReducer.java:73-219; treeLo/treeHi are the rebuild's own
    * addition — per-feature envelopes of the tree-EMD embedding). */
  final case class CellSummary(
      combo: Long,
      count: Long,
      cells: Array[Int],          // per-vector cell id
      gridErrs: Array[Array[Double]], // per vector: min eMin, max eMax, min/max eFull
      dualKeyMin: Array[Double],
      dualKeyMax: Array[Double],
      rubnerLo: Array[Double],
      rubnerHi: Array[Double],
      treeLo: Array[Double],      // per tree feature (empty when disabled)
      treeHi: Array[Double]) extends Serializable

  /** Mutable per-combo accumulator for [[summarize]]'s map merge:
    * interleaved (min, max) bound slots + a count. Top-level (object
    * member) so instances serialize without dragging a method-scope
    * outer reference through the treeReduce. */
  private final class SummaryAcc(bLen: Int) extends Serializable {
    var cnt: Long = 0L
    val b: Array[Double] = new Array[Double](bLen)
  }

  private object SummaryAcc {
    /** Fold `src` into `dst`: even slots keep the min, odd slots the
      * max, both under java.lang.Double.compare — the identical total
      * order (NaN greatest, -0.0 < 0.0) Catalyst Min/Max aggregate
      * with, so the merged bounds match the former groupBy exactly. */
    def mergeBounds(dst: Array[Double], src: Array[Double]): Unit = {
      var i = 0
      while (i < dst.length) {
        if (java.lang.Double.compare(src(i), dst(i)) < 0) dst(i) = src(i)
        if (java.lang.Double.compare(dst(i + 1), src(i + 1)) < 0) dst(i + 1) = src(i + 1)
        i += 2
      }
    }
  }

  /** Pack per-vector cell ids into one long (cells < 2^16 per vector). */
  def packCombo(cells: Array[Int]): Long =
    cells.foldLeft(0L)((acc, c) => (acc << 16) | (c & 0xffffL))

  def unpackCombo(combo: Long, numVectors: Int): Array[Int] = {
    val out = new Array[Int](numVectors)
    var c = combo
    var i = numVectors - 1
    while (i >= 0) { out(i) = (c & 0xffffL).toInt; c >>= 16; i -= 1 }
    out
  }

  /** Build the per-vector quantile grids:
    * pass 1 aggregates the Hough domain per vector, pass 2 the percentile
    * boundaries of the edge projections (= Phase 1 reduce,
    * QNEPreReducer.java:112-189, with Spark's exact `percentile` replacing
    * the in-memory Percentile over a single reducer's spill). */
  def buildGrids(spark: SparkSession, hists: DataFrame, cfg: Config): Array[SkewedGrid] = {
    if (cfg.exactQuantiles) return buildGridsExactRdd(spark, hists, cfg)
    import spark.implicits._
    val cfgB = spark.sparkContext.broadcast(cfg)
    // consumed TWICE below (domain agg + projection-distance percentiles)
    // — cache for the duration of the grid build or the whole normal-fit
    // pass over the corpus runs twice
    val mbDf = hists.select("id", "weights").as[(Long, Array[Double])]
      .mapPartitions { it =>
        val c = cfgB.value
        it.map { case (id, w0) =>
          val w = HistOps.normalize(w0)
          val mb = new Array[Double](2 * c.numVectors)
          var j = 0
          while (j < c.numVectors) {
            val (mu, sig) = HistOps.fitNormal(w, c.projBins(j))
            mb(2 * j) = 1.0 / sig
            mb(2 * j + 1) = -mu / sig
            j += 1
          }
          (id, mb)
        }
      }.toDF("id", "mb")
      .persistOnce()
    // domains per vector
    val domAgg = (0 until cfg.numVectors).flatMap { j =>
      Seq(min(col("mb")(2 * j)).as(s"minM$j"), max(col("mb")(2 * j)).as(s"maxM$j"),
        min(col("mb")(2 * j + 1)).as(s"minB$j"), max(col("mb")(2 * j + 1)).as(s"maxB$j"))
    }
    val dom = mbDf.agg(domAgg.head, domAgg.tail: _*).head()
    val uniformGrids = (0 until cfg.numVectors).map { j =>
      val domain = Array(dom.getDouble(4 * j), dom.getDouble(4 * j + 1),
        dom.getDouble(4 * j + 2), dom.getDouble(4 * j + 3))
      val slopes = Array(-cfg.tRange(j)._2, -cfg.tRange(j)._1)
      SkewedGrid.uniform(domain, slopes, cfg.sideNum)
    }.toArray
    val gridsB = spark.sparkContext.broadcast(uniformGrids)
    // percentile boundaries of SW/SE edge projections per vector
    val distDf = mbDf.as[(Long, Array[Double])].mapPartitions { it =>
      val gs = gridsB.value
      it.map { case (_, mb) =>
        val out = new Array[Double](2 * gs.length)
        var j = 0
        while (j < gs.length) {
          val (dsw, dse) = gs(j).projectionDistances(Array(mb(2 * j), mb(2 * j + 1)))
          out(2 * j) = dsw; out(2 * j + 1) = dse
          j += 1
        }
        out
      }
    }.toDF("d")
    val pcts = (1 until cfg.sideNum).map(_.toDouble / cfg.sideNum)
    def pct(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (cfg.exactQuantiles) percentile(c, array(pcts.map(lit): _*))
      else percentile_approx(c, array(pcts.map(lit): _*), lit(10000))
    val pctAgg = (0 until cfg.numVectors).flatMap { j =>
      Seq(
        min(col("d")(2 * j)).as(s"minSW$j"), max(col("d")(2 * j)).as(s"maxSW$j"),
        pct(col("d")(2 * j)).as(s"pSW$j"),
        min(col("d")(2 * j + 1)).as(s"minSE$j"), max(col("d")(2 * j + 1)).as(s"maxSE$j"),
        pct(col("d")(2 * j + 1)).as(s"pSE$j"))
    }
    val q = distDf.agg(pctAgg.head, pctAgg.tail: _*).head()
    mbDf.unpersist(false)
    (0 until cfg.numVectors).map { j =>
      val base = uniformGrids(j)
      val sw = (q.getDouble(6 * j) - 1e-9) +:
        q.getSeq[Double](6 * j + 2).toArray :+ (q.getDouble(6 * j + 1) + 1e-9)
      val se = (q.getDouble(6 * j + 3) - 1e-9) +:
        q.getSeq[Double](6 * j + 5).toArray :+ (q.getDouble(6 * j + 4) + 1e-9)
      SkewedGrid.quantile(base.domain, base.slopes, cfg.sideNum, sw, se)
    }.toArray
  }

  /** The exact-quantiles grid build as ONE plain RDD job instead of two
    * wide Catalyst aggregates — the [[summarize]] argument: at prepare
    * time the planner/codegen cost of the 6*numVectors-column agg (with
    * exact `percentile` over array literals) dominated the arithmetic,
    * re-paid every prepare (~1-1.5s of the 3-D prep at sf0.1). The
    * executors fit the per-record Hough points (m, b); the driver
    * collects them and computes the domain, the projection distances and
    * the percentiles.
    *
    * Exactness posture: grid boundaries steer PRUNING only — every
    * bound in the cascade is admissible for any grid, so answers are
    * invariant (the property q_engine_equiv's exact-vs-approx-grid
    * engine hash-checks). The percentile here still replicates
    * Catalyst's exact Percentile formula (sorted values, rank
    * p*(n-1), two-sided linear interpolation) and min/max use
    * java.lang.Double.compare, so the boundaries match the former agg
    * bit-for-bit on NaN-free data. Driver load: 2*numVectors doubles per
    * record — the size of the per-vector distance multisets Spark's own
    * exact Percentile buffers in its final single aggregation buffer, so
    * this moves no new scale class onto the driver; the 100 TB path is
    * exactQuantiles=false (percentile_approx), which keeps the
    * Catalyst branch above. */
  private def buildGridsExactRdd(spark: SparkSession, hists: DataFrame,
                                 cfg: Config): Array[SkewedGrid] = {
    val cfgB = spark.sparkContext.broadcast(cfg)
    val mbs = hists.select("id", "weights").rdd
      .map { r =>
        val c = cfgB.value
        val w = HistOps.normalize(r.getSeq[Double](1).toArray)
        val mb = new Array[Double](2 * c.numVectors)
        var j = 0
        while (j < c.numVectors) {
          val (mu, sig) = HistOps.fitNormal(w, c.projBins(j))
          mb(2 * j) = 1.0 / sig
          mb(2 * j + 1) = -mu / sig
          j += 1
        }
        mb
      }
      .collect()
    val nV = cfg.numVectors
    @inline def cmin(a: Double, b: Double): Double =
      if (java.lang.Double.compare(a, b) <= 0) a else b
    @inline def cmax(a: Double, b: Double): Double =
      if (java.lang.Double.compare(a, b) >= 0) a else b
    // Hough domain per vector (interleaved min/max slots)
    val dom = Array.tabulate(4 * nV)(i =>
      if (i % 2 == 0) Double.PositiveInfinity else Double.NegativeInfinity)
    mbs.foreach { mb =>
      var j = 0
      while (j < nV) {
        dom(4 * j) = cmin(dom(4 * j), mb(2 * j))
        dom(4 * j + 1) = cmax(dom(4 * j + 1), mb(2 * j))
        dom(4 * j + 2) = cmin(dom(4 * j + 2), mb(2 * j + 1))
        dom(4 * j + 3) = cmax(dom(4 * j + 3), mb(2 * j + 1))
        j += 1
      }
    }
    val pcts = (1 until cfg.sideNum).map(_.toDouble / cfg.sideNum)
    // Catalyst Percentile's exact formula on the ascending multiset
    def percentilesOf(v: Array[Double]): (Double, Double, Array[Double]) = {
      java.util.Arrays.sort(v)
      val qs = pcts.map { p =>
        val pos = p * (v.length - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        if (lo == hi) v(lo)
        else (hi - pos) * v(lo) + (pos - lo) * v(hi)
      }.toArray
      (v.head, v.last, qs)
    }
    (0 until nV).map { j =>
      val domain = Array(dom(4 * j), dom(4 * j + 1), dom(4 * j + 2), dom(4 * j + 3))
      val slopes = Array(-cfg.tRange(j)._2, -cfg.tRange(j)._1)
      val base = SkewedGrid.uniform(domain, slopes, cfg.sideNum)
      // SW/SE projection distances of every Hough point on the uniform grid
      val dsw = new Array[Double](mbs.length)
      val dse = new Array[Double](mbs.length)
      var r = 0
      while (r < mbs.length) {
        val d = base.projectionDistances(Array(mbs(r)(2 * j), mbs(r)(2 * j + 1)))
        dsw(r) = d._1; dse(r) = d._2
        r += 1
      }
      val (minSW, maxSW, pSW) = percentilesOf(dsw)
      val (minSE, maxSE, pSE) = percentilesOf(dse)
      val sw = (minSW - 1e-9) +: pSW :+ (maxSW + 1e-9)
      val se = (minSE - 1e-9) +: pSE :+ (maxSE + 1e-9)
      SkewedGrid.quantile(base.domain, base.slopes, cfg.sideNum, sw, se)
    }.toArray
  }

  /** Deterministic dual-bound construction from the lowest-id sample
    * records (seeded; replaces the reference's per-task first-two-hists).
    * One `takeOrdered` job. */
  def buildDuals(spark: SparkSession, hists: DataFrame, cfg: Config): Array[DualBound] = {
    val sample = hists.select("id", "weights").rdd
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .takeOrdered(2 * cfg.numDuals + 2)(Ordering.by[(Long, Array[Double]), Long](_._1))
    if (sample.length < 2) return Array.empty // no pair to derive a dual from
    val rnd = new scala.util.Random(cfg.seed)
    (0 until cfg.numDuals).map { _ =>
      val i = rnd.nextInt(sample.length)
      var j = rnd.nextInt(sample.length)
      while (j == i) j = rnd.nextInt(sample.length)
      DualBound.fromPair(HistOps.normalize(sample(i)._2),
        HistOps.normalize(sample(j)._2), cfg.dimension, cfg.bins)
    }.toArray
  }

  /** Enrich every record (one narrow mapPartitions, no shuffle). */
  def enrich(spark: SparkSession, hists: DataFrame, cfg: Config,
             grids: Array[SkewedGrid], duals: Array[DualBound],
             tree: Option[TreeEmd] = None): DataFrame = {
    import spark.implicits._
    val cfgB = spark.sparkContext.broadcast(cfg)
    val gridsB = spark.sparkContext.broadcast(grids)
    val dualsB = spark.sparkContext.broadcast(duals)
    val treeB = spark.sparkContext.broadcast(tree)
    hists.select("id", "weights").as[(Long, Array[Double])].mapPartitions { it =>
      val c = cfgB.value
      val gs = gridsB.value
      val ds = dualsB.value
      val tr = treeB.value
      it.map { case (id, w0) =>
        val w = HistOps.normalize(w0)
        val mb = new Array[Double](2 * c.numVectors)
        // per vector: [eMin, eMax, eFull] (SkewedGrid.emdBrWithBound)
        val errors = new Array[Double](3 * c.numVectors)
        val cells = new Array[Int](c.numVectors)
        var j = 0
        while (j < c.numVectors) {
          val (mu, sig) = HistOps.fitNormal(w, c.projBins(j))
          mb(2 * j) = 1.0 / sig
          mb(2 * j + 1) = -mu / sig
          val cdf = HistOps.discreteCdfNormalized(w, c.projBins(j))
          System.arraycopy(NormalModel.minMaxError(mu, sig, cdf), 0, errors, 3 * j, 2)
          errors(3 * j + 2) = NormalModel.fullError(mu, sig, cdf, cdf.head._1, cdf.last._1)
          cells(j) = gs(j).gridId(Array(mb(2 * j), mb(2 * j + 1)))
          j += 1
        }
        val dk = ds.map(_.key(w))
        val dck = ds.map(_.ckey(w))
        val rub = HistOps.rubnerValue(w, c.dimension, c.bins)
        val tf = tr.map(_.features(w)).getOrElse(Array.emptyDoubleArray)
        (id, w, packCombo(cells), mb, errors, dk, dck, rub, tf)
      }
    }.toDF("id", "weights", "combo", "mb", "errors", "dualKeys", "dualCKeys",
      "rubner", "treeFeats")
  }

  /** Cell summaries: per-combo count + per-element min/max bounds,
    * collected (O(cells)) and broadcast.
    *
    * Computed as ONE mapPartitions + treeReduce map merge instead of a
    * Catalyst groupBy with ~2*(2V + duals + dim + treeFeats) agg
    * columns: at fine grids the combos are near-singleton groups, so the
    * wide agg did no combining — its cost was Catalyst
    * planning/codegen of the 100+ expression aggregate plus the
    * row-by-row getDouble decode of the collected frame, re-paid every
    * prepare (measured 2.1s of the 3-D prep at sf0.1; the map merge is
    * ~0.2s). Exactness: count is an integer sum; every bound uses
    * java.lang.Double.compare ordering — the SAME total order (NaN
    * greatest, -0.0 < 0.0) Catalyst Min/Max use — and min/max are
    * order-insensitive, so the summaries are bit-identical to the agg's.
    * Output is sorted by combo id (deterministic; the old collect order
    * was hash-partition order, which nothing downstream depended on —
    * enumeration emits candidate SETS). */
  def summarize(enriched: DataFrame, cfg: Config,
                numDuals: Int = -1, numTreeFeats: Int = 0): Array[CellSummary] = {
    val nDuals = if (numDuals >= 0) numDuals else cfg.numDuals
    val nV = cfg.numVectors
    val dim = cfg.dimension
    // bounds layout: [minEMin/maxEMax/minF/maxF per j |
    //                 minK/maxK per dual | minR/maxR per dim |
    //                 minT/maxT per tree feat]
    val bLen = 2 * (2 * nV + nDuals + dim + numTreeFeats)
    type Acc = SummaryAcc
    val rows = enriched
      .select(col("combo"), col("errors"), col("dualKeys"), col("rubner"),
        col("treeFeats"))
      .rdd
    val merged = rows.mapPartitions { it =>
      val m = new java.util.HashMap[Long, Acc]()
      it.foreach { r =>
        val combo = r.getLong(0)
        val errors = r.getSeq[Double](1)
        val dualKeys = r.getSeq[Double](2)
        val rubner = r.getSeq[Double](3)
        val treeFeats = r.getSeq[Double](4)
        val vals = new Array[Double](bLen)
        var p = 0
        var j = 0
        while (j < nV) {
          val f = errors(3 * j + 2)
          vals(p) = errors(3 * j); vals(p + 1) = errors(3 * j + 1)
          vals(p + 2) = f; vals(p + 3) = f
          p += 4; j += 1
        }
        var k = 0
        while (k < nDuals) {
          vals(p) = dualKeys(k); vals(p + 1) = dualKeys(k); p += 2; k += 1
        }
        var i = 0
        while (i < dim) {
          vals(p) = rubner(i); vals(p + 1) = rubner(i); p += 2; i += 1
        }
        i = 0
        while (i < numTreeFeats) {
          vals(p) = treeFeats(i); vals(p + 1) = treeFeats(i); p += 2; i += 1
        }
        val acc = m.get(combo)
        if (acc == null) {
          val a = new SummaryAcc(bLen)
          a.cnt = 1L
          System.arraycopy(vals, 0, a.b, 0, bLen)
          m.put(combo, a)
        } else {
          acc.cnt += 1L
          SummaryAcc.mergeBounds(acc.b, vals)
        }
      }
      Iterator.single(m)
    }
    val total: java.util.HashMap[Long, Acc] =
      if (merged.getNumPartitions == 0) new java.util.HashMap[Long, Acc]()
      else merged.treeReduce { (a, b) =>
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val acc = a.get(e.getKey)
          if (acc == null) a.put(e.getKey, e.getValue)
          else {
            acc.cnt += e.getValue.cnt
            SummaryAcc.mergeBounds(acc.b, e.getValue.b)
          }
        }
        a
      }
    import scala.jdk.CollectionConverters._
    total.entrySet().asScala.toArray.sortBy(_.getKey).map { e =>
      val combo = e.getKey
      val acc = e.getValue
      val gridErrs =
        Array.tabulate(nV)(j => java.util.Arrays.copyOfRange(acc.b, 4 * j, 4 * j + 4))
      var idx = 4 * nV
      val dMin = new Array[Double](nDuals)
      val dMax = new Array[Double](nDuals)
      for (k <- 0 until nDuals) {
        dMin(k) = acc.b(idx); idx += 1
        dMax(k) = acc.b(idx); idx += 1
      }
      val rLo = new Array[Double](dim)
      val rHi = new Array[Double](dim)
      for (i <- 0 until dim) {
        rLo(i) = acc.b(idx); idx += 1
        rHi(i) = acc.b(idx); idx += 1
      }
      val tLo = new Array[Double](numTreeFeats)
      val tHi = new Array[Double](numTreeFeats)
      for (i <- 0 until numTreeFeats) {
        tLo(i) = acc.b(idx); idx += 1
        tHi(i) = acc.b(idx); idx += 1
      }
      CellSummary(combo, acc.cnt, unpackCombo(combo, nV),
        gridErrs, dMin, dMax, rLo, rHi, tLo, tHi)
    }
  }

  /** The per-pair filter cascade + exact EMD (reference order:
    * NEProcessReducer.joinRecords:204-264 — projection, dual, reduction,
    * indmin, exact). Built once per executor from broadcast config. */
  final class Cascade(cfg: Config, duals: Array[DualBound]) extends Serializable {
    @transient lazy val reductions: Array[ReductionBound] =
      Array.tabulate(cfg.numReductions)(i =>
        new ReductionBound(cfg.numBins, cfg.reducedDim, cfg.bins, cfg.dimension,
          cfg.seed + i, cfg.groundDist))

    /** Tree-EMD embedding stage (L2 only): EMD <= EMD_T <= distortion*EMD
      * with the distortion certified at build time over the actual bins.
      * Sure-reject (EMD_T > distortion*theta => EMD > theta) runs before
      * every other bound because it is the cheapest; sure-accept
      * (EMD_T <= theta => EMD <= theta) jumps straight to the exact solver
      * — the distance value is still needed for the output, but the
      * remaining bound evaluations are provably redundant for such pairs.
      * Null when the decomposition cannot certify soundness (degenerate
      * bins); the cascade then skips the stage. */
    @transient lazy val tree: TreeEmd =
      if (cfg.groundDist == GroundDist.L2)
        TreeEmd.build(cfg.bins, cfg.dimension).orNull
      else null

    /** Projection and dual lower bounds are proven only for the L2 ground
      * distance (unit-vector projections need Cauchy-Schwarz; duals are
      * built against L2 costs). For L1/L3 the cascade keeps only the
      * cost-matrix-generic bounds (reduction, indmin). */
    private val l2Bounds = cfg.groundDist == GroundDist.L2

    /** Returns exact EMD if the pair survives every bound at `theta`,
      * else -1. For a [[Config.closedForm1d]] config the projection
      * "bound" IS the exact EMD (1-D EMD on the real line under |x-y|
      * ground distance) — the rest of the cascade is redundant. */
    def emdIfCandidate(wa: Array[Double], wb: Array[Double], theta: Double): Double = {
      if (cfg.closedForm1d) {
        val d = cfg.proj1dEmdUpTo(0, wa, wb, theta)
        return if (d <= theta) d else -1.0
      }
      if (l2Bounds) {
        val t = tree
        if (t != null) {
          val td = t.dist(wa, wb)
          if (td > theta * t.distortion) return -1.0 // sure-reject
          if (td <= theta) { // sure-accept: only the exact value is needed
            val emd = Emd.exact(wa, wb, cfg.cost)
            return if (emd <= theta) emd else -1.0
          }
        }
        var j = 0
        while (j < cfg.numVectors) {
          if (cfg.proj1dEmdUpTo(j, wa, wb, theta) > theta) return -1.0
          j += 1
        }
        var k = 0
        while (k < duals.length) {
          if (duals(k).dualEmd(wa, wb) > theta) return -1.0
          k += 1
        }
      }
      // caller-supplied KR potentials (Config scaladoc): the strongest
      // per-flop lower bounds available in the gray zone — each is one
      // numBins-length dot product, and on the cube fixture the 24
      // supplied vertices kill ~90% of the pairs every earlier bound
      // lets through, which is most of the exact-solver bill
      var q = 0
      while (q < cfg.lipschitzPotentials.length) {
        val pi = cfg.lipschitzPotentials(q)
        var s = 0.0
        var i = 0
        while (i < pi.length) { s += pi(i) * (wa(i) - wb(i)); i += 1 }
        // reject with 1e-9 slack: this bound never decides membership
        // (the exact solver below does), so the slack only guards
        // against the dot product FP-rounding a boundary pair past
        // theta — same convention as the KR band filter and the
        // oracle cascade stages
        if (math.abs(s) > theta + 1e-9) return -1.0
        q += 1
      }
      var k = 0
      while (k < reductions.length) {
        if (reductions(k).reducedEmd(wa, wb) > theta) return -1.0
        k += 1
      }
      if (Emd.indMin(wa, wb, cfg.cost) > theta) return -1.0
      val emd = Emd.exact(wa, wb, cfg.cost)
      if (emd <= theta) emd else -1.0
    }
  }

  /** Flat column-major copy of the summaries' cheapest reject keys,
    * built once per prepared join and broadcast beside the summaries.
    * Guest enumeration scans EVERY cell summary per record — an
    * O(records x combos) scan (336M cell visits at sf0.1 side 8) that is
    * MEMORY-bound, not compute-bound: each visit pointer-chases through a
    * scattered CellSummary and its key arrays (~160ns/visit measured; a
    * sorted-prefix variant that cut visits to 35% measured NEUTRAL
    * because the surviving visits became random-access). The fix that
    * matches the bottleneck is layout: the combo ids, per-dual key
    * ranges, and rubner coordinate-0 bounds live in primitive
    * natural-order columns (~0.7MB at side 8 — L2-resident across the
    * whole record loop), and the hot loop decides combo ordering and the
    * dual ranges on those before dereferencing a summary. A slackened
    * rubner coordinate-0 band also skips cells whose full rubnerBox
    * (>= its coord-0 clamp gap) the body would reject, so the emitted
    * combo set is what the full checks give; survivors run the body's
    * remaining prunes. */
  final class SummaryIndex(summaries: Array[CellSummary]) extends Serializable {
    val n: Int = summaries.length
    val nD: Int = if (n == 0) 0 else summaries(0).dualKeyMin.length
    val comboF: Array[Long] = summaries.map(_.combo)
    val minF: Array[Array[Double]] =
      Array.tabulate(nD)(k => summaries.map(_.dualKeyMin(k)))
    val maxF: Array[Array[Double]] =
      Array.tabulate(nD)(k => summaries.map(_.dualKeyMax(k)))
    val rubLo0: Array[Double] = summaries.map(_.rubnerLo(0))
    val rubHi0: Array[Double] = summaries.map(_.rubnerHi(0))
  }

  /** Candidate-cell enumeration for one record against all cell summaries
    * (reference: Grid.getGuestWithDual:352-457), with the per-vector-cell
    * envelopes ([[cellEnvelopesPublic]]) and summary index built once by
    * the caller, as the join path does. Returns combos > own combo that
    * survive dual-range, EMD_BR and Rubner-box pruning. `idx` must be
    * the [[SummaryIndex]] of `summaries`. */
  def guestCombosPublic(rec: Row, cfg: Config, grids: Array[SkewedGrid],
      duals: Array[DualBound], summaries: Array[CellSummary],
      env: Array[Array[Array[Double]]], theta: Double,
      treeGapLimit: Double, idx: SummaryIndex): Array[Long] = {
    require(idx != null && idx.n == summaries.length,
      "guest enumeration needs the SummaryIndex of its summaries")
    guestCombos(rec, cfg, grids, duals, summaries, env, theta,
      treeGapLimit, idx)
  }

  /** Precomputed envelopes for the overload above (driver-side, once). */
  def cellEnvelopesPublic(summaries: Array[CellSummary],
      cfg: Config): Array[Array[Array[Double]]] =
    vectorCellEnvelopes(summaries, cfg)

  private def guestCombos(
      rec: Row, cfg: Config, grids: Array[SkewedGrid],
      duals: Array[DualBound], summaries: Array[CellSummary],
      perVectorEnv: Array[Array[Array[Double]]],
      theta: Double,
      /** distortion * theta when the tree-feature cell prune is active,
        * negative to disable. Soundness: for any member m of the cell,
        * |f_rec(i) - f_m(i)| >= gap(f_rec(i), [treeLo(i), treeHi(i)]), so
        * sum(gaps) <= EMD_T(rec, m) <= distortion * EMD(rec, m) — a cell
        * whose gap sum exceeds distortion * theta cannot hold a partner. */
      treeGapLimit: Double,
      /** flat pre-filter index of `summaries` ([[SummaryIndex]] scaladoc) */
      idx: SummaryIndex): Array[Long] = {
    val ownCombo = rec.getLong(2)
    val mb = rec.getSeq[Double](3).toArray
    val errors = rec.getSeq[Double](4).toArray
    val dualKeys = rec.getSeq[Double](5).toArray
    val dualCKeys = rec.getSeq[Double](6).toArray
    val rubner = rec.getSeq[Double](7).toArray
    val treeFeats =
      if (treeGapLimit >= 0) rec.getSeq[Double](8).toArray else null
    // dual ranges depend only on the record — hoist out of the cell loop
    // (the keys are the enrichment pass's precomputed dot products). They
    // carry the cell prunes' 1e-9 slack: on dyadic count ratios at theta
    // 0.5 a partner at EMD exactly theta sat 1.1e-16 outside its range
    val rangeLo = new Array[Double](duals.length)
    val rangeHi = new Array[Double](duals.length)
    var d = 0
    while (d < duals.length) {
      rangeLo(d) = duals(d).min + dualKeys(d) - theta - 1e-9
      rangeHi(d) = theta - dualCKeys(d) + 1e-9
      d += 1
    }
    // per-record, per-vector precomputes hoisted out of the cell loop:
    // Hough point, error slice, intercept counts, corner flag (the
    // geometry that the reference recomputed per candidate cell)
    val recMbs = new Array[Array[Double]](cfg.numVectors)
    val recErrs = new Array[Array[Double]](cfg.numVectors)
    val recSW = new Array[Int](cfg.numVectors)
    val recSE = new Array[Int](cfg.numVectors)
    val corner = new Array[Boolean](cfg.numVectors)
    var j = 0
    while (j < cfg.numVectors) {
      recMbs(j) = Array(mb(2 * j), mb(2 * j + 1))
      recErrs(j) = java.util.Arrays.copyOfRange(errors, 3 * j, 3 * j + 3)
      recSW(j) = grids(j).countSW(recMbs(j))
      recSE(j) = grids(j).countSE(recMbs(j))
      corner(j) = grids(j).isDomainCorner(recMbs(j))
      j += 1
    }
    // EMD_BR memo: combinations share per-vector cells, so one record
    // needs at most numVectors * sideNum^2 distinct EMD_BR evaluations —
    // not one per combination. BUT the cell-side error envelope differs
    // per COMBINATION (summaries aggregate per combo), so the memo key is
    // (vector, per-vector cellId) with the envelope of the combo that
    // first hit it only when envelopes match... they do NOT in general.
    // Instead memoize the envelope-free dominant term? Not sound either.
    // Sound version: memoize per (vector, cellId, summary-envelope
    // identity) — in practice envelopes per (vector, cellId) are the
    // aggregation over records whose j-th cell is cellId *within that
    // combo*; precompute a PER-VECTOR-CELL envelope (the min/max over ALL
    // combos sharing that cell), which is a valid relaxation: a wider
    // envelope can only lower EMD_BR, keeping it a lower bound.
    val brMemo = Array.fill(cfg.numVectors)(
      Array.fill(grids(0).sideNum * grids(0).sideNum)(Double.NaN))
    def brFor(j: Int, cellId: Int): Double = {
      val memo = brMemo(j)
      if (memo(cellId).isNaN) {
        val g = grids(j)
        val dir = g.locateByCounts(recSW(j), recSE(j), corner(j), cellId)
        val env = perVectorEnv(j)(cellId)
        memo(cellId) =
          if (env == null) 0.0
          else g.emdBrWithBound(recMbs(j), recErrs(j), g.cellBounds(cellId), env, dir)
      }
      memo(cellId)
    }
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    // Flat pre-filter (SummaryIndex scaladoc): combo order and the dual
    // ranges decide here, plus a slackened rubner coordinate-0 band (1e-9
    // slack because r0 +- theta is a NEW rounded quantity — without it a
    // boundary cell the body's rubnerBox would KEEP could be skipped; a
    // skip only happens when the coord-0 clamp gap alone strictly exceeds
    // theta, which forces rubnerBox > theta). Cells passing the flat
    // stage dereference the summary for the remaining prunes.
    val r0Hi = rubner(0) + theta + 1e-9
    val r0Lo = rubner(0) - theta - 1e-9
    var s = 0
    val until = summaries.length
    while (s < until) {
      var ok = idx.comboF(s) > ownCombo
      var k = 0
      while (ok && k < duals.length) {
        if (idx.minF(k)(s) > rangeHi(k) || idx.maxF(k)(s) < rangeLo(k)) ok = false
        k += 1
      }
      if (ok && (idx.rubLo0(s) > r0Hi || idx.rubHi0(s) < r0Lo)) ok = false
      if (ok) {
        val cs = summaries(s)
        // Rubner box prune — a d-dim clamp, far cheaper than EMD_BR's
        // normal-CDF integrals, so it runs before them (cheapest-first
        // cascade ordering, same answer). Cell prunes carry 1e-9 slack
        // like the flat band above: they only skip work, and a bound
        // that FP-rounds a partner at EMD exactly theta past theta would
        // drop that answer
        if (Emd.rubnerBox(rubner, cs.rubnerLo, cs.rubnerHi) > theta + 1e-9) ok = false
        // tree-feature gap prune — O(numFeatures) flat adds, far cheaper
        // than EMD_BR's normal-CDF integrals, so it runs BEFORE them
        // (cheapest-first; both are pure filters, answer order-invariant).
        // The BR memo caps evaluations at numVectors x side^2 per record.
        // With the rational-approximation Phi (`StdNormal`) they cost
        // little: in a JFR profile of emdbench cube3d_threshold (seed 21,
        // 4 cores) enumeration held 32 samples in Phi against 733 in the
        // cell scan (665 against 753 with commons-math's Phi).
        if (ok && treeFeats != null && cs.treeLo.length > 0) {
          var g = 0.0
          var i = 0
          val lo = cs.treeLo
          val hi = cs.treeHi
          while (ok && i < lo.length) {
            val f = treeFeats(i)
            if (f < lo(i)) g += lo(i) - f
            else if (f > hi(i)) g += f - hi(i)
            if (g > treeGapLimit) ok = false
            i += 1
          }
        }
        // EMD_BR per vector — memoized on the per-vector-cell relaxed
        // envelope (still a valid lower bound; see above). Slack as for
        // the Rubner box: on dyadic 1-D count ratios at theta = 0.25 this
        // bound landed up to 2.2e-15 (40 ulps) above theta for cells
        // holding partners at EMD exactly theta
        j = 0
        while (ok && j < cfg.numVectors) {
          if (brFor(j, cs.cells(j)) > theta + 1e-9) ok = false
          j += 1
        }
        if (ok) out += cs.combo
      }
      s += 1
    }
    out.toArray
  }

  /** Per (vector, cellId) error envelope: the elementwise min/max over all
    * combo summaries sharing that per-vector cell. Widening the envelope
    * only weakens (lowers) EMD_BR, so pruning with it stays sound. */
  private[operators] def vectorCellEnvelopes(
      summaries: Array[CellSummary], cfg: Config): Array[Array[Array[Double]]] = {
    val side2 = {
      // cells fit in sideNum^2; derive from the largest seen id
      var mx = 0
      summaries.foreach(s => s.cells.foreach(c => if (c > mx) mx = c))
      mx + 1
    }
    val out = Array.fill(cfg.numVectors)(new Array[Array[Double]](side2))
    summaries.foreach { cs =>
      var j = 0
      while (j < cfg.numVectors) {
        val cellId = cs.cells(j)
        val cur = out(j)(cellId)
        if (cur == null) out(j)(cellId) = cs.gridErrs(j).clone()
        else {
          var i = 0
          while (i < cur.length) {
            // even slots are mins, odd slots are maxes
            if ((i & 1) == 0) { if (cs.gridErrs(j)(i) < cur(i)) cur(i) = cs.gridErrs(j)(i) }
            else { if (cs.gridErrs(j)(i) > cur(i)) cur(i) = cs.gridErrs(j)(i) }
            i += 1
          }
        }
        j += 1
      }
    }
    out
  }

  /** Theta-independent engine state shared by the threshold and top-k
    * entry points: grids, duals, per-record enrichment (persisted), cell
    * summaries. Built once, joined at any number of radii. */
  final case class Prepared(
      grids: Array[SkewedGrid],
      duals: Array[DualBound],
      enriched: DataFrame,
      summaries: Array[CellSummary],
      tree: Option[TreeEmd]) {
    /** Theta-independent guest-enumeration structures (per-vector-cell
      * envelopes + flat [[SummaryIndex]]), built and broadcast on the
      * FIRST join over this engine state and reused by every later one
      * (a session-cached Prepared serves both a threshold and a top-k
      * query; each runs one join). Functions of the summaries this
      * Prepared owns and the cfg it was prepared with — the existing caller
      * contract (passing a different cfg with someone else's Prepared
      * was always wrong). Broadcasts live until the context GCs them;
      * Prepared itself is session-scoped (prepMemo). */
    @transient private var guestB: (
        org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
        org.apache.spark.broadcast.Broadcast[SummaryIndex]) = null
    private[operators] def guestStructures(spark: SparkSession, cfg: Config): (
        org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
        org.apache.spark.broadcast.Broadcast[SummaryIndex]) = synchronized {
      if (guestB == null)
        guestB = (
          spark.sparkContext.broadcast(vectorCellEnvelopes(summaries, cfg)),
          spark.sparkContext.broadcast(new SummaryIndex(summaries)))
      guestB
    }
    /** Free the persisted enrichment once every join at every radius has
      * been materialized (callers holding a Prepared own its lifetime). */
    def unpersist(): Unit = enriched.unpersist(false)
  }

  /** Session-scoped memo of theta-independent engine state: grids, duals,
    * enrichment, summaries depend only on (input, config) — a session
    * running several queries against the same corpus (threshold + top-k is
    * the reference's own pairing, Join.java:42-131) should pay the
    * preparation once. Keyed by the input DataFrame's REFERENCE (the
    * fixture layer returns one cached instance per (session, dir), so
    * identity hits are exactly the share-the-engine cases; a re-derived
    * equal plan misses and safely rebuilds — a content hash could
    * silently serve the wrong corpus's state on collision) + the config's
    * VALUE (arrays unwrapped — case-class equality on Array fields is
    * reference-based). Entries own their enrichment cache for the
    * session's lifetime, like the fixture memo (Fixtures.scala). */
  private val prepMemo = new SessionMemo[(DataFrame, Product), Prepared](_.unpersist())

  private def cfgKey(cfg: Config): Product = (
    cfg.dimension, cfg.bins.toSeq, cfg.vectors.map(_.toSeq).toSeq,
    cfg.sideNum, cfg.numDuals, cfg.numReductions,
    cfg.reducedDim, cfg.seed, cfg.groundDist, cfg.exactQuantiles,
    cfg.lipschitzPotentials.map(_.toSeq).toSeq)

  /** The tree-EMD embedding behind the cell-level gap prune, or None for
    * 1-D single-vector configs, whose cascade is closed-form anyway. */
  def treeFor(cfg: Config): Option[TreeEmd] =
    if (cfg.dimension == 1 && cfg.numVectors == 1) None
    else TreeEmd.build(cfg.bins, cfg.dimension)

  def prepareCached(spark: SparkSession, hists: DataFrame, cfg: Config): Prepared =
    prepMemo(spark, (hists, cfgKey(cfg)))(prepare(spark, hists, cfg))

  def prepare(spark: SparkSession, hists: DataFrame, cfg: Config): Prepared = {
    // guarded here (not just in the public wrappers) so the prepared API
    // cannot run the L2-only grid/dual/EMD_BR pruning on an L1/L3 Config
    // and silently under-report pairs
    require(cfg.groundDist == GroundDist.L2,
      "grid pruning (EMD_BR / dual range / Rubner box) is derived for the " +
      "L2 ground distance; use BaselineJoin for L1/L3")
    val grids = buildGrids(spark, hists, cfg)
    val duals = buildDuals(spark, hists, cfg)
    val tree = treeFor(cfg)
    val enriched = enrich(spark, hists, cfg, grids, duals, tree)
      .persistOnce()
    val summaries = summarize(enriched, cfg, duals.length,
      tree.map(_.numFeatures).getOrElse(0))
    Prepared(grids, duals, enriched, summaries, tree)
  }

  /** Distance-threshold join: all pairs with EMD <= theta, rid < sid. */
  def thresholdJoin(spark: SparkSession, hists: DataFrame, theta: Double,
                    cfg: Config): DataFrame = {
    val prep = prepare(spark, hists, cfg)
    val result = thresholdJoinPrepared(spark, prep, theta, cfg)
      .persistOnce()
    // materialize the O(pairs) result so the data-sized enrichment cache
    // can be freed immediately rather than leak across a session (one
    // job: the join's shuffle is an RDD stage of it). The count stays on
    // InternalRows: `.rdd` would build a Row per cached pair only to count it
    result.queryExecution.toRdd.count()
    prep.unpersist()
    result
  }

  /** Threshold join over pre-built engine state (enrichment reuse across
    * the top-k bound pass and its final join). */
  def thresholdJoinPrepared(spark: SparkSession, prep: Prepared, theta: Double,
                            cfg: Config): DataFrame = {
    import spark.implicits._
    val Prepared(grids, duals, enriched, summaries, tree) = prep

    val cfgB = spark.sparkContext.broadcast(cfg)
    val gridsB = spark.sparkContext.broadcast(grids)
    val dualsB = spark.sparkContext.broadcast(duals)
    val sumB = spark.sparkContext.broadcast(summaries)
    val (envB, idxB) = prep.guestStructures(spark, cfg)
    val treeGapLimit = tree.map(_.distortion * theta).getOrElse(-1.0)

    // Phase 3 as one shuffle. Every record goes to its own combo as a
    // native and to each surviving guest combo as a guest; each combo's
    // group then runs native x native and native x guest through the
    // Cascade. A guest goes only to combos above its own, so each
    // qualifying pair meets in exactly one group, once. Within a group
    // both sides are swept in projMean order: a pair whose keys differ by
    // more than theta is never a candidate (the 1e-9 slack, scaled by the
    // largest projected bin, absorbs the keys' FP rounding; on 1-D
    // sf0.1 the sweep drops 27% of the grid's 47M candidates). (A
    // columnar Rubner centroid gate was tried on this path and removed:
    // after the 3 cell-level prunes its selectivity was too low to pay
    // for the extra columns, ~1s on q_emd3d_pairs at sf0.1.)
    val cascadeB = spark.sparkContext.broadcast(new Cascade(cfg, duals))
    val numParts = spark.sessionState.conf.numShufflePartitions
    val lim = theta + 1e-9 * (1.0 + cfg.projBins(0).map(math.abs).max)
    enriched.rdd.mapPartitions { it =>
      val c = cfgB.value
      it.flatMap { r =>
        val id = r.getLong(0)
        val w = r.getSeq[Double](1).toArray
        val key = c.projMean(0, w)
        val native = (r.getLong(2), CellMember(id, w, key, native = true))
        val guest = CellMember(id, w, key, native = false)
        Iterator.single(native) ++
          guestCombos(r, c, gridsB.value, dualsB.value, sumB.value, envB.value,
            theta, treeGapLimit, idxB.value).iterator.map(combo => (combo, guest))
      }
    }.groupByKey(new org.apache.spark.HashPartitioner(numParts))
      .mapPartitions { groups =>
        val casc = cascadeB.value
        groups.flatMap { case (_, members) =>
          val (nat, gst) = sweepOrder(members).partition(_.native)
          val out = scala.collection.mutable.ArrayBuffer[JoinPair]()
          // canonical orientation (lower id first) so the exact solver's
          // floating-point path is identical no matter which side arrived
          // first — otherwise threshold-boundary pairs flip between runs
          def test(x: CellMember, y: CellMember): Unit = {
            val emd =
              if (x.id < y.id) casc.emdIfCandidate(x.w, y.w, theta)
              else casc.emdIfCandidate(y.w, x.w, theta)
            if (emd >= 0) out += JoinPair(math.min(x.id, y.id), math.max(x.id, y.id), emd)
          }
          sweepSelf(nat, lim)(test)
          sweepCross(nat, gst, lim)(test)
          out
        }
      }.toDF()
  }

  /** Top-k join: [[EmdTopK.join]] over this engine's threshold join,
    * with the exact EMD ([[Config.exactEmd]]) from every record to the
    * shared refs as the bound. */
  def topKJoin(spark: SparkSession, hists: DataFrame, k: Int, cfg: Config): DataFrame = {
    // engine state is theta-independent: built once, unpersisted once
    // the O(k) result is materialized
    val prep = prepare(spark, hists, cfg)
    val result = topKJoinPrepared(spark, prep, k, cfg)
    prep.unpersist()
    result
  }

  /** Top-k join over pre-built (possibly session-cached) engine state;
    * does NOT unpersist the enrichment — the Prepared's owner does. The
    * bound reads the enrichment's normalized weights, the ones the join
    * compares. */
  def topKJoinPrepared(spark: SparkSession, prep: Prepared, k: Int, cfg: Config): DataFrame = {
    val result = EmdTopK.join(prep.enriched, k, cfg.exactEmd)(
      theta => thresholdJoinPrepared(spark, prep, theta, cfg))
      .persistOnce()
    // one job builds the O(k) cache (Dataset.count() would add its
    // aggregate's shuffle stage as a second); the Prepared's owner frees
    // the enrichment
    result.queryExecution.toRdd.count()
    result
  }
}
