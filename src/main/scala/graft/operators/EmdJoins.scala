package graft.operators

import graft.core.Caching._
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.functions.EmdCols

/** Scalable EMD similarity self-joins over 1-D histogram datasets.
  *
  * The scale-out strategy replaces the reference's hand-rolled
  * block-replicate-join MapReduce (mr/normal/QNEProcessMapper.java:238-369)
  * with *band blocking on a cheap lower bound*: records are hashed into
  * radius-width bands of their centroid (Rubner value — a valid EMD lower
  * bound), one side is replicated into the 3 adjacent bands, and the band
  * id becomes an ordinary shuffle-hash equijoin key. Candidates then pass
  * the exact distance filter. No cartesian product, no driver loops; every
  * step is a Catalyst-planned shuffle that AQE can re-balance, so the plan
  * survives 1000-executor scale-out.
  */
object EmdJoins {

  /** Candidate self-pairs on a scalar blocking key: all (a, b) pairs with
    * a.id < b.id whose keys differ by at most `radius`, produced by a
    * band equijoin (each qualifying pair emitted exactly once).
    *
    * Input must have columns (idCol, keyCol, ...). Output: all left columns
    * suffixed _a / _b.
    */
  def bandedSelfPairs(df: DataFrame, idCol: String, keyCol: String,
                      radius: Double): DataFrame =
    bandedSelfPairs2(df, idCol, keyCol, None, radius)

  /** K-key generalization of [[bandedSelfPairs2]]: each key bands at
    * its OWN radius and the HALF-SPACE neighbor offsets join on the
    * band tuple. Multiplying independent 1-Lipschitz keys is the
    * density lever of a fixed-radius banded join — per key the
    * candidate slab has fixed width, so pair volume is quadratic in
    * density until enough keys intersect the slabs down to the
    * answer's neighborhood (measured at sf1: 2 keys = 6.8G band pairs,
    * 5 keys = the melody-comparable regime).
    *
    * Symmetric-offset halving (round 16): an unordered pair with band
    * delta d is reachable through d or -d, so only the (3^K + 1) / 2
    * offsets whose first nonzero component is +1 (plus the all-zero
    * one) are replicated — HALF the right-side shuffle volume of the
    * full 3^K set (122 vs 243 at K = 5). The all-zero offset keeps the
    * id< join condition (same-cell pairs would otherwise appear twice);
    * nonzero offsets take the pair in whichever orientation the kept
    * half-offset produces.
    *
    * ORIENTATION CONTRACT: every unordered pair appears exactly once,
    * but cross-cell pairs arrive in half-offset order — id_a may exceed
    * id_b. Callers that care about the lower-id-first convention (the
    * exact kernels' FP-path rule) canonicalize imperatively in their
    * consumer kernel — a Catalyst when()-swap of every _a/_b column here
    * was measured 3.5x SLOWER end-to-end (it balloons the generated
    * stage past janino's limits and the whole band-filter cascade drops
    * to interpreted mode; ProfQ 3.9s -> 13.9s on q_treeexact3d_pairs).
    *
    * Recall contract: every key must satisfy |key(a) - key(b)| <= its
    * radius for every answer pair. */
  def bandedSelfPairsK(df: DataFrame, idCol: String,
                       keys: Seq[(String, Double)]): DataFrame = {
    require(keys.nonEmpty && keys.forall(_._2 > 0), "radii must be positive")
    require(keys.length <= 5, s"3^${keys.length} neighbor offsets — keep K <= 5")
    val banded = keys.zipWithIndex.foldLeft(df) { case (d, ((k, r), i)) =>
      d.withColumn(s"_band$i", floor(col(k) / lit(r)))
    }
    val left = banded.select(banded.columns.map(c => col(c).as(c + "_a")): _*)
    val offsets = keys.indices.foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(o => Seq(-1, 0, 1).map(d => o :+ d)))
    val halfOffsets = offsets.filter(o =>
      o.dropWhile(_ == 0).headOption.forall(_ > 0))
    // neighbor replication via a broadcast offsets table, NOT an
    // explode over a 3^K-struct array literal — the latter's generated
    // consume method exceeds janino's limits at K = 5 (243 structs)
    // and silently drops the whole stage to interpreted mode. The
    // `_z` flag marks the all-zero offset for the id< condition below.
    val spark0 = df.sparkSession
    val offsetsDf = spark0.createDataFrame(
      spark0.sparkContext.parallelize(halfOffsets.map(o =>
        org.apache.spark.sql.Row.fromSeq(o :+ o.forall(_ == 0))), 1),
      org.apache.spark.sql.types.StructType(keys.indices.map(i =>
        org.apache.spark.sql.types.StructField(s"_d$i",
          org.apache.spark.sql.types.IntegerType, nullable = false)) :+
        org.apache.spark.sql.types.StructField("_z",
          org.apache.spark.sql.types.BooleanType, nullable = false)))
    val rightShift = keys.indices.foldLeft(
        banded.crossJoin(broadcast(offsetsDf)))((d, i) =>
        d.withColumn(s"_band$i", col(s"_band$i") + col(s"_d$i")))
      .drop(keys.indices.map(i => s"_d$i"): _*)
    val rightR = rightShift.select(
      rightShift.columns.map(c => col(c).as(c + "_b")): _*)
    val joinCond = keys.indices
      .map(i => col(s"_band${i}_a") === col(s"_band${i}_b"))
      .reduce(_ && _) &&
      (col(idCol + "_a") =!= col(idCol + "_b")) &&
      (!col("_z_b") || col(idCol + "_a") < col(idCol + "_b"))
    val joined = left.join(rightR, joinCond).drop("_z_b")
    // symmetric |key| filters only — orientation is the caller's
    // (see the orientation contract in the scaladoc)
    val filtered = keys.foldLeft(joined) {
      case (d, (k, r)) => d.filter(abs(col(k + "_a") - col(k + "_b")) <= lit(r))
    }
    filtered.drop(keys.indices.flatMap(i =>
      Seq(s"_band${i}_a", s"_band${i}_b")): _*)
  }

  /** Two-key variant: blocks on (key1, key2) bands jointly — both keys
    * must be `radius`-Lipschitz lower bounds of the pair distance. The
    * right side replicates into the 3x3 neighbor bands (9 copies), cutting
    * candidates multiplicatively while keeping perfect recall. */
  def bandedSelfPairs2(df: DataFrame, idCol: String, keyCol: String,
                       key2Col: Option[String], radius: Double): DataFrame = {
    require(radius > 0, "radius must be positive")
    val banded = df
      .withColumn("_band", floor(col(keyCol) / lit(radius)))
      .withColumn("_band2", key2Col match {
        case Some(k2) => floor(col(k2) / lit(radius))
        case None => lit(0L)
      })
    val left = banded.select(banded.columns.map(c => col(c).as(c + "_a")): _*)
    val offsets = key2Col match {
      case Some(_) => for (d1 <- -1 to 1; d2 <- -1 to 1) yield (d1, d2)
      case None => for (d1 <- -1 to 1) yield (d1, 0)
    }
    val right = banded
      .withColumn("_bb", explode(array(offsets.map { case (d1, d2) =>
        struct((col("_band") + d1).as("b1"), (col("_band2") + d2).as("b2"))
      }: _*)))
      .withColumn("_band", col("_bb.b1"))
      .withColumn("_band2", col("_bb.b2"))
      .drop("_bb")
    val rightR = right.select(right.columns.map(c => col(c).as(c + "_b")): _*)
    val base = left.join(rightR,
      col("_band_a") === col("_band_b") && col("_band2_a") === col("_band2_b") &&
        col(idCol + "_a") < col(idCol + "_b"))
      .filter(abs(col(keyCol + "_a") - col(keyCol + "_b")) <= lit(radius))
    val filtered = key2Col match {
      case Some(k2) => base.filter(abs(col(k2 + "_a") - col(k2 + "_b")) <= lit(radius))
      case None => base
    }
    filtered.drop("_band_a", "_band_b", "_band2_a", "_band2_b")
  }

  /** Distance-threshold self-join on 1-D EMD over unit-spaced bins:
    * all pairs with EMD(a, b) <= theta, a.id < b.id.
    *
    * hists: (id, weights ARRAY<DOUBLE>) with L1-normalized weights.
    * Blocking: centroid bands (|mean(a)-mean(b)| <= EMD, so radius = theta
    * loses no result).
    *
    * Hot-path design: the n-1 cumulative sums are materialized as SCALAR
    * columns before the join, so the per-pair distance is a flat chain of
    * abs-diffs — whole-stage codegen with zero array allocation per
    * candidate (the array-fold variant spent ~90% of join time allocating
    * zip/struct intermediates at 30M candidates). EMD = sum_i |cumA_i -
    * cumB_i| on unit-spaced bins; the band key mean = (n-1) - sum_i cum_i.
    * Output: (rid, sid, dist).
    */
  def emd1dThresholdJoin(hists: DataFrame, theta: Double,
                         numBins: Int = graft.sources.Fixtures.NumBins): DataFrame = {
    val cums = (0 until numBins - 1).map { i =>
      aggregate(slice(col("weights"), 1, i + 1), lit(0.0), (a, x) => a + x)
        .as(s"_c$i")
    }
    // MATERIALIZED scalar-cums projection (see treeEmdThresholdJoin): with
    // true stats visible the planner hash-joins the bands instead of
    // sort-merge-buffering duplicate band keys; measured ~3x on sf0.1.
    val flat = hists.select((col("id") +: cums): _*)
      .withColumn("_mean",
        lit(numBins - 1.0) - (0 until numBins - 1).map(i => col(s"_c$i")).reduce(_ + _))
      .persistOnce()
    flat.count()
    // NOTE: 2-D banding on (mean, mid-cum) was measured 2.7x SLOWER here —
    // the 9x right-side replication and finer partitioning cost more than
    // the candidate cut on this distribution; single-key bands win.
    val pairs = bandedSelfPairs(flat, "id", "_mean", theta)
    val terms = (0 until numBins - 1)
      .map(i => abs(col(s"_c${i}_a") - col(s"_c${i}_b")))
    val dist = terms.reduce(_ + _)
    // progressive lower-bound cascade: each PREFIX of the abs-diff sum is
    // a valid lower bound of the full distance (fp-safe: adding the
    // non-negative remaining terms is monotone under rounding), so cheap
    // partial sums discard most candidates before the remaining terms are
    // evaluated — the codegen analog of the melody cascade. The final
    // `dist` expression is untouched, keeping the oracle's arithmetic
    // shape bit-identical.
    val prefiltered = Seq(2, 4).filter(_ < numBins - 1)
      .foldLeft(pairs) { (df, p) =>
        df.filter(terms.take(p).reduce(_ + _) <= lit(theta))
      }
    val result = prefiltered
      .withColumn("dist", dist)
      .filter(col("dist") <= lit(theta))
      .select(col("id_a").as("rid"), col("id_b").as("sid"), col("dist"))
      .persistOnce()
    result.count()
    flat.unpersist(false)
    result
  }

  /** Quadtree tree-EMD distance-threshold self-join — the published scale
    * path for EMD on massive corpora (Indyk & Thaper, "Fast image
    * retrieval via embeddings", ICCV workshop 2003; FlowTree, Backurs et
    * al., ICML 2020). A dyadic hierarchy is imposed on the bin axis; EMD
    * under the tree metric has the closed form
    *
    *   EMD_T(a, b) = sum over tree nodes of span(node) * |massA - massB|
    *
    * i.e. a weighted-L1 distance in a fixed 2(n-1)-dim embedding: no LP
    * anywhere, every pair distance is a flat codegen chain of abs-diffs.
    * Properties (spec-checked): EMD_T >= exact EMD (every tree path is at
    * least the ground distance), and EMD_T <= (2n-2) * EMD worst-case on
    * n bins — so it serves as the similarity measure itself at corpus
    * scale, or as a sure-accept prefilter for an exact join (any pair
    * with EMD_T <= theta certainly has EMD <= theta).
    *
    * Blocking: any signed combination s = sum_i c_i * f_i with |c_i| <= 1
    * satisfies |sA - sB| <= sum_i |fA_i - fB_i| = EMD_T, so banding on s
    * keeps perfect recall with no cartesian. The UNSIGNED sum is useless
    * here (each level's features sum to the total mass, so it is the same
    * constant for every normalized histogram — one band = cartesian);
    * alternating signs per node give a multi-scale mass-balance key that
    * actually spreads. Identical scale shape to the 1-D join. */
  def treeEmdThresholdJoin(hists: DataFrame, tau: Double,
                           numBins: Int = graft.sources.Fixtures.NumBins): DataFrame =
    treeEmdJoinLevels(hists, tau, numBins, dyadicLevels(numBins))

  /** Octree (kd-split) tree-EMD threshold self-join over the 2x2x2
    * unit-cube corner bins of `Fixtures.tripleHists` — the
    * multi-dimensional extension of [[treeEmdThresholdJoin]], and the
    * first EMD-family join over 3-D histograms whose distance is fully
    * SQL-expressible (the exact 3-D EMD needs an LP; the tree metric is a
    * flat weighted-L1 embedding in any dimension).
    *
    * Hierarchy: split the cube on quantity, then price, then discount —
    * bin index bit order is (qbit, pbit, dbit), so the level-l node of bin
    * i is simply i / 2^(3-l), the same contiguous-slice structure as the
    * dyadic 1-D tree. Edge weights (0.25, 0.25, 0.5) are chosen so the
    * leaf-to-leaf tree distance dominates the L2 ground distance between
    * corners: pairs separating at depth 3/2/1 have tree distance
    * 2*0.5 = 1 / 2*(0.25+0.5) = 1.5 / 2*(0.25+0.25+0.5) = 2 against ground
    * distance at most 1 / sqrt2 / sqrt3. Hence (spec-checked in
    * TreeEmdSpec): exactEMD <= EMD_T <= 2 * exactEMD — the distortion-2
    * factor is exact (corners differing only in the first split coordinate
    * attain it), so EMD_T also serves as a sure-accept / sure-reject stage
    * for the exact LP cascade. */
  def treeEmd3dThresholdJoin(hists: DataFrame, tau: Double): DataFrame =
    treeEmdJoinLevels(hists, tau, 8, KdLevels3d)

  /** The cube-corner KR-dual exact solver as a drop-in for the cascade
    * solver slot (cost matrix ignored — the closed form IS this
    * metric's; CubeKRSpec pins equality with SSP and simplex). A
    * genuinely different distance kernel from the melody engine's SSP,
    * which strengthens the cross-engine witness. */
  val cubeKrSolver: (Array[Double], Array[Double], Array[Double]) => Double =
    (wa, wb, _) => graft.core.CubeKR.emdFromWeights(wa, wb)

  /** EXACT 3-D EMD threshold self-join via tree-embedding candidates —
    * the FlowTree-style two-stage design (Backurs et al., ICML 2020):
    * every qualifying pair satisfies EMD_T <= 2 * EMD <= 2 * theta (the
    * octree embedding's certified distortion, see
    * [[treeEmd3dThresholdJoin]]), so the all-codegen banded tree join at
    * radius 2*theta is a perfect-recall candidate generator; an exact
    * transport solve then verifies each candidate. Answer-identical to
    * MelodyJoin / BaselineJoin on the same input (spec-checked).
    *
    * Physically: one banded equijoin + one mapPartitions verify — no
    * grids, no cell summaries, no guest replication. At corpus scale this
    * is the plan of record when the pair density is low enough that the
    * candidate set (pairs with EMD_T <= 2*theta) fits the verify budget;
    * the melody engine's cell machinery wins when cell-level pruning can
    * discard whole regions before any per-pair work.
    *
    * Input hists must be L1-normalized (id, weights[8]) on the
    * `Fixtures.Bins3d` corner bins.
    *
    * `solver` exists ONLY so CrossCheckSpec can seed a solver fault and
    * prove the simplex audit catches a regression both engines would
    * otherwise agree on (they share Emd.exact); production callers never
    * pass it. */
  def treeExact3dThresholdJoin(hists: DataFrame, theta: Double,
      solver: (Array[Double], Array[Double], Array[Double]) => Double =
        cubeKrSolver): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = hists.sparkSession
    import spark.implicits._
    val tau2 = 2.0 * theta
    val feats = treeFeatExprs(8, KdLevels3d)
    val featCols = feats.zipWithIndex.map { case (c, i) => c.as(s"_f$i") }
    // FIVE band keys = the five hardest-pruning KR-dual potentials
    // (CubeKR.BandIdx), each banding at radius theta: a potential pi
    // in the 1-Lipschitz polytope satisfies |<pi,wa> - <pi,wb>| <=
    // EMD(a,b), so every answer pair lands within one band-neighbor on
    // every key — perfect recall. These are the density lever of a
    // fixed-radius banded join: pair volume grows with density^2 per
    // slab, and measured at sf1 (10x sf0.1, N = 200k) the original
    // 2-tree-signature scheme admitted 6.8G band pairs (194x wall,
    // quadratic); tree+axis-mean keys 2.2G; these five 401M — within
    // 2.3x of the 2*theta tree-ball floor (172M).
    def w(i: Int) = col("weights")(i)
    val bandKeys = graft.core.CubeKR.BandIdx.toSeq.zipWithIndex.map {
      case (v, j) =>
        val pi = graft.core.CubeKR.vertexPotential(v)
        val key = (0 until 8).filter(i => pi(i) != 0.0)
          .map(i => w(i) * lit(pi(i))).reduce(_ + _)
        (s"_k$j", key)
    }
    val flat = bandKeys.foldLeft(
        hists.select((col("id") +: col("weights") +: featCols): _*)) {
        case (d, (name, key)) => d.withColumn(name, key)
      }
      .persistOnce()
    flat.count()
    // Band/filter at theta + 1e-9, not exactly theta: the band key is
    // computed as <pi,wa> - <pi,wb> (difference of two dot columns), an
    // FP-distinct shape from the membership kernel's dot-of-differences
    // sum pi_i*(wa_i - wb_i). The filter never decides output membership
    // (the exact solver below does), so the slack is free admissibility
    // insurance against the two shapes rounding a boundary pair apart —
    // the same convention as the PPJoin prefix filter and the oracle's
    // cascade stages.
    val pairs = bandedSelfPairsK(flat, "id",
      bandKeys.map { case (name, _) => (name, theta + 1e-9) })
    val terms = feats.indices.map(i => abs(col(s"_f${i}_a") - col(s"_f${i}_b")))
    // prefix cascade + full tree filter at the distortion radius, then
    // the exact evaluation only on survivors
    val cands = Seq(2, 6)
      .foldLeft(pairs)((df, p) => df.filter(terms.take(p).reduce(_ + _) <= lit(tau2)))
      .filter(terms.reduce(_ + _) <= lit(tau2))
      .select(col("id_a"), col("weights_a"), col("id_b"), col("weights_b"))
      .as[(Long, Array[Double], Long, Array[Double])]
    val result = cands.mapPartitions { it =>
      val cost = graft.core.Emd.costMatrix(
        graft.sources.Fixtures.Bins3d, graft.sources.Fixtures.Dim3,
        graft.core.GroundDist.L2)
      val diff = new Array[Double](8)
      it.flatMap { case (ra0, wa0, rb0, wb0) =>
        // canonical lower-id-first orientation: bandedSelfPairsK's
        // half-offset enumeration delivers cross-cell pairs in offset
        // order (its orientation contract) — swap here, imperatively,
        // where it costs two reference moves per candidate instead of a
        // codegen-breaking when()-projection over every joined column
        val (ra, wa, rb, wb) =
          if (ra0 < rb0) (ra0, wa0, rb0, wb0) else (rb0, wb0, ra0, wa0)
        // 24-vertex KR lower bound: maxes a SUBSET of the dots the full
        // evaluator maxes, so lb <= exact holds bitwise — a reject here
        // is one the solver stage would also make. Kills ~90% of the
        // gray zone (theta < treeDist <= 2*theta) before the full
        // 709-vertex / injected-solver evaluation; the tree filter
        // alone left 214M solver calls at sf1 (13.6 per output pair).
        var i = 0
        while (i < 8) { diff(i) = wa(i) - wb(i); i += 1 }
        if (graft.core.CubeKR.maxDualDiff(diff,
            graft.core.CubeKR.PrefilterIdx) > theta) None
        else {
          val d = solver(wa, wb, cost)
          if (d <= theta) Some((ra, rb, d)) else None
        }
      }
    }.toDF("rid", "sid", "dist")
      .persistOnce()
    result.count()
    flat.unpersist(false)
    result
  }

  /** Top-k closest pairs by exact 3-D LP-EMD through the tree-exact
    * engine: [[EmdTopK.join]] over [[treeExact3dThresholdJoin]], bounded
    * by [[cubeKrSolver]] distances, so the answer is identical
    * pair-for-pair to the melody 3-D top-k (the cross-engine witness
    * SparkEntry asserts). */
  def treeExact3dTopK(hists: DataFrame, k: Int): DataFrame =
    EmdTopK.join(hists, k, cubeKrSolver(_, _, null))(treeExact3dThresholdJoin(hists, _))

  /** The dyadic 1-D hierarchy: spans n/2 .. 1, edge weight = span. */
  private def dyadicLevels(numBins: Int): Seq[(Int, Double)] = {
    require(numBins >= 2 && (numBins & (numBins - 1)) == 0,
      "dyadic tree-EMD needs a power-of-two bin count")
    Iterator.iterate(numBins / 2)(_ / 2).takeWhile(_ >= 1)
      .map(s => (s, s.toDouble)).toSeq
  }

  /** The 3-D kd-split hierarchy over the 2x2x2 cube (see
    * [[treeEmd3dThresholdJoin]] for the weight derivation). */
  private val KdLevels3d: Seq[(Int, Double)] = Seq((4, 0.25), (2, 0.25), (1, 0.5))

  /** Embedding feature expressions: per level, per node, feature =
    * edgeWeight * node mass (root omitted — normalized hists all carry
    * mass 1). Nodes are contiguous `span`-wide slices of `weights`. */
  private def treeFeatExprs(numBins: Int,
                            levels: Seq[(Int, Double)]): Seq[Column] =
    for ((span, wgt) <- levels; nd <- 0 until numBins / span)
      yield (aggregate(slice(col("weights"), nd * span + 1, span),
        lit(0.0), (a, x) => a + x) * lit(wgt))

  /** The weighted L1 over [[treeFeatExprs]]' embedding, in the same
    * order of operations: the tree-EMD the banded join computes. */
  private def treeDist(numBins: Int, levels: Seq[(Int, Double)])(
      a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    for ((span, wgt) <- levels; nd <- 0 until numBins / span) {
      var ma = 0.0; var mb = 0.0
      var i = nd * span
      while (i < (nd + 1) * span) { ma += a(i); mb += b(i); i += 1 }
      d += math.abs(ma * wgt - mb * wgt)
    }
    d
  }

  /** Top-k closest pairs under a tree-EMD metric: [[EmdTopK.join]] over
    * the banded join, bounded by [[treeDist]]. */
  private def treeEmdTopKLevels(hists: DataFrame, k: Int, numBins: Int,
                                levels: Seq[(Int, Double)]): DataFrame =
    EmdTopK.join(hists, k, treeDist(numBins, levels))(
      treeEmdJoinLevels(hists, _, numBins, levels))

  /** Top-k pairs under the dyadic 1-D tree-EMD. */
  def treeEmdTopK(hists: DataFrame, k: Int,
                  numBins: Int = graft.sources.Fixtures.NumBins): DataFrame =
    treeEmdTopKLevels(hists, k, numBins, dyadicLevels(numBins))

  /** Top-k pairs under the octree 3-D tree-EMD. */
  def treeEmd3dTopK(hists: DataFrame, k: Int): DataFrame =
    treeEmdTopKLevels(hists, k, 8, KdLevels3d)

  /** Shared tree-EMD join kernel: features are edgeWeight * nodeMass per
    * (level, node), nodes are contiguous `span`-wide bin slices, distance
    * is the weighted-L1 over the embedding. See the callers for why this
    * closed form equals transport cost under the tree metric. */
  private def treeEmdJoinLevels(hists: DataFrame, tau: Double, numBins: Int,
                                levels: Seq[(Int, Double)]): DataFrame = {
    // embedding: per level, per node, feature = edgeWeight * node mass.
    // Root omitted — normalized hists all carry mass 1.
    val feats = scala.collection.mutable.ArrayBuffer[Column]()
    feats ++= treeFeatExprs(numBins, levels)
    val featCols = feats.toSeq.zipWithIndex.map { case (c, i) => c.as(s"_f$i") }
    // MATERIALIZED embedding projection: the banded join is a self-join;
    // left unpersisted, both sides re-derive the whole upstream lineage
    // and the planner (size-estimating from the wide agg) picks a
    // sort-merge join whose duplicate-key buffering is ~10x slower than
    // the hash join it picks once the true (tiny: N x 16 doubles) stats
    // are visible. Persist + count, free after the result materializes.
    val flat = hists.select((col("id") +: featCols): _*)
      .withColumn("_s", feats.indices.map(i =>
        if (i % 2 == 0) col(s"_f$i") else -col(s"_f$i")).reduce(_ + _))
      .persistOnce()
    flat.count()
    val pairs = bandedSelfPairs(flat, "id", "_s", tau)
    val terms = feats.indices.map(i => abs(col(s"_f${i}_a") - col(s"_f${i}_b")))
    val dist = terms.reduce(_ + _)
    // progressive prefix cascade, same fp-safety argument as the 1-D join
    val prefiltered = Seq(2, 6).filter(_ < feats.length)
      .foldLeft(pairs) { (df, p) =>
        df.filter(terms.take(p).reduce(_ + _) <= lit(tau))
      }
    val result = prefiltered
      .withColumn("dist", dist)
      .filter(col("dist") <= lit(tau))
      .select(col("id_a").as("rid"), col("id_b").as("sid"), col("dist"))
      .persistOnce()
    result.count()
    flat.unpersist(false)
    result
  }

  /** Top-k closest pairs by 1-D EMD, ranked by (round(dist, 6), rid,
    * sid): [[EmdTopK.join]] over [[emd1dThresholdJoin]], bounded by
    * [[graft.core.Emd.emd1dInteger]] — the reference's sampled global
    * upper bound (mr/normal/QNEPreReducer.java:96-109 +
    * utils/HistUtil.java:641-652) with a bounded-heap merge
    * (mr/normal/KReducer.java:25-38). */
  def emd1dTopK(hists: DataFrame, k: Int,
                numBins: Int = graft.sources.Fixtures.NumBins): DataFrame =
    EmdTopK.join(hists, k, graft.core.Emd.emd1dInteger)(
      emd1dThresholdJoin(hists, _, numBins))
}
