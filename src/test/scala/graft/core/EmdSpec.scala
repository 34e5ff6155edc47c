package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property tests for the EMD math core: the bound-validity surface the
  * reference only eyeballed manually (utils/Tester.java:260-404). */
class EmdSpec extends AnyFunSuite {

  private val rnd = new Random(42)

  private def randHist(n: Int): Array[Double] =
    HistOps.normalize(Array.fill(n)(rnd.nextDouble() * 100))

  /** Random d-dim bin locations, distinct. */
  private def randBins(n: Int, d: Int): Array[Double] =
    Array.fill(n * d)(rnd.nextDouble() * 10)

  test("1-D integer-bin EMD equals CDF-area form on integer bins") {
    for (_ <- 0 until 50) {
      val n = 2 + rnd.nextInt(15)
      val a = randHist(n); val b = randHist(n)
      val bins = Array.tabulate(n)(_.toDouble)
      val viaCum = Emd.emd1dInteger(a, b)
      val viaCdf = Emd.emd1d(a, b, bins)
      assert(math.abs(viaCum - viaCdf) < 1e-9, s"$viaCum vs $viaCdf")
    }
  }

  test("fast transport solver matches commons-math3 simplex") {
    for (trial <- 0 until 30) {
      val n = 2 + rnd.nextInt(8)
      val d = 1 + rnd.nextInt(3)
      val a = randHist(n); val b = randHist(n)
      val bins = randBins(n, d)
      val cost = Emd.costMatrix(bins, d, GroundDist.L2)
      val fast = Emd.exact(a, b, cost)
      val simplex = Emd.exactSimplex(a, b, d, bins, GroundDist.L2)
      assert(math.abs(fast - simplex) < 1e-6,
        s"trial $trial n=$n d=$d fast=$fast simplex=$simplex")
    }
  }

  test("general transport solver matches simplex on NON-metric cost matrices") {
    // min-linkage-style costs violate the triangle inequality; the full
    // transportation formulation must allow pass-through routings
    for (trial <- 0 until 20) {
      val n = 3 + rnd.nextInt(5)
      val a = randHist(n); val b = randHist(n)
      val cost = new Array[Double](n * n)
      for (i <- 0 until n; j <- (i + 1) until n) {
        val c = rnd.nextDouble() * 10
        cost(i * n + j) = c
        cost(j * n + i) = c
      }
      val fast = Emd.exactGeneral(a, b, cost)
      val bins1d = Array.tabulate(n)(_.toDouble)
      val viaSimplex = Emd.exactSimplex(a, b, 1, bins1d,
        GroundDist.Arbitrary(cost))
      assert(math.abs(fast - viaSimplex) < 1e-6,
        s"trial $trial general=$fast simplex=$viaSimplex")
    }
  }

  test("isMetricCost accepts Lp ground costs and rejects non-metric matrices") {
    for (gd <- Seq(GroundDist.L1, GroundDist.L2, GroundDist.L3); d <- 1 to 3) {
      val n = 8
      val bins = randBins(n, d)
      assert(Emd.isMetricCost(Emd.costMatrix(bins, d, gd), n),
        s"$gd d=$d should be metric")
    }
    // random symmetric costs with zero diagonal almost surely violate the
    // triangle inequality at n >= 3 (same construction as exactGeneral's
    // min-linkage-style test above)
    val rej = (0 until 20).count { trial =>
      val n = 8
      val cost = new Array[Double](n * n)
      val r = new Random(100 + trial)
      for (i <- 0 until n; j <- (i + 1) until n) {
        val c = r.nextDouble() * 10
        cost(i * n + j) = c; cost(j * n + i) = c
      }
      !Emd.isMetricCost(cost, n)
    }
    assert(rej >= 18, s"expected most random costs rejected, got $rej/20")
    // asymmetry and nonzero diagonal are each rejected outright
    val asym = Array(0.0, 1.0, 2.0, 0.0)
    assert(!Emd.isMetricCost(asym, 2))
    val diag = Array(0.5, 1.0, 1.0, 0.0)
    assert(!Emd.isMetricCost(diag, 2))
  }

  test("quadtree tree-EMD dominates exact 1-D EMD within the (2n-2) distortion bound") {
    def treeEmd(a: Array[Double], b: Array[Double]): Double = {
      val n = a.length
      var tot = 0.0
      var span = n / 2
      while (span >= 1) {
        var nd = 0
        while (nd < n / span) {
          var ma = 0.0; var mb = 0.0
          var i = nd * span
          while (i < (nd + 1) * span) { ma += a(i); mb += b(i); i += 1 }
          tot += span * math.abs(ma - mb)
          nd += 1
        }
        span /= 2
      }
      tot
    }
    for (_ <- 0 until 50) {
      val n = 8
      val a = randHist(n); val b = randHist(n)
      val exact = Emd.emd1dInteger(a, b)
      val tree = treeEmd(a, b)
      assert(tree >= exact - 1e-9, s"tree $tree < exact $exact")
      assert(tree <= (2 * n - 2) * exact + 1e-9,
        s"tree $tree exceeds distortion bound vs $exact")
      assert(math.abs(treeEmd(a, a)) < 1e-12)
      assert(math.abs(treeEmd(a, b) - treeEmd(b, a)) < 1e-12)
    }
  }

  test("hierarchical-grid TreeEmd brackets exact EMD within its certified distortion") {
    for (trial <- 0 until 25) {
      val n = 4 + rnd.nextInt(8)
      val d = 1 + rnd.nextInt(3)
      val bins = randBins(n, d)
      val cost = Emd.costMatrix(bins, d, GroundDist.L2)
      TreeEmd.build(bins, d) match {
        case Some(tree) =>
          assert(tree.distortion >= 1.0)
          for (_ <- 0 until 10) {
            val a = randHist(n); val b = randHist(n)
            val exact = Emd.exact(a, b, cost)
            val td = tree.dist(a, b)
            assert(td >= exact - 1e-9,
              s"trial $trial: tree $td < exact $exact (UB violated)")
            assert(td <= tree.distortion * exact + 1e-9,
              s"trial $trial: tree $td > ${tree.distortion} * $exact (LB violated)")
            assert(math.abs(tree.dist(a, a)) < 1e-12)
            assert(math.abs(tree.dist(a, b) - tree.dist(b, a)) < 1e-12)
          }
        case None => fail(s"trial $trial: build failed on distinct random bins")
      }
    }
    // degenerate inputs refuse to certify instead of producing a bogus bound
    assert(TreeEmd.build(Array(1.0, 1.0, 1.0, 1.0), 2).isEmpty, "coincident bins")
    assert(TreeEmd.build(Array(1.0, 2.0), 2).isEmpty, "single bin")
  }

  test("exact EMD is a metric-ish: symmetric, zero on identity, non-negative") {
    for (_ <- 0 until 20) {
      val n = 2 + rnd.nextInt(10)
      val a = randHist(n); val b = randHist(n)
      val bins = randBins(n, 2)
      val cost = Emd.costMatrix(bins, 2, GroundDist.L2)
      val ab = Emd.exact(a, b, cost)
      val ba = Emd.exact(b, a, cost)
      assert(ab >= -1e-12)
      assert(math.abs(ab - ba) < 1e-9)
      assert(math.abs(Emd.exact(a, a, cost)) < 1e-12)
    }
  }

  test("triangle inequality holds for exact EMD under L2 ground distance") {
    for (_ <- 0 until 20) {
      val n = 2 + rnd.nextInt(8)
      val a = randHist(n); val b = randHist(n); val c = randHist(n)
      val bins = randBins(n, 2)
      val cost = Emd.costMatrix(bins, 2, GroundDist.L2)
      val ab = Emd.exact(a, b, cost)
      val bc = Emd.exact(b, c, cost)
      val ac = Emd.exact(a, c, cost)
      assert(ac <= ab + bc + 1e-9)
    }
  }

  test("all lower bounds are <= exact EMD; upper bounds >= exact EMD") {
    for (trial <- 0 until 30) {
      val n = 4 + rnd.nextInt(8)
      val d = 1 + rnd.nextInt(3)
      val a = randHist(n); val b = randHist(n)
      val bins = randBins(n, d)
      val cost = Emd.costMatrix(bins, d, GroundDist.L2)
      val exact = Emd.exact(a, b, cost)
      val tol = 1e-9

      // D10 rubner
      val rub = Emd.rubner(a, b, d, bins, GroundDist.L2)
      assert(rub <= exact + tol, s"rubner $rub > exact $exact")

      // D9 indmin
      val ind = Emd.indMin(a, b, cost)
      assert(ind <= exact + tol, s"indmin $ind > exact $exact")

      // D3 projection (project onto each axis)
      for (axis <- 0 until d) {
        val v = Array.fill(d)(0.0); v(axis) = 1.0
        val pb = HistOps.projectBins(bins, d, v)
        val proj = Emd.emd1d(a, b, pb)
        assert(proj <= exact + 1e-7, s"proj($axis) $proj > exact $exact")
      }

      // D6 dual (constructed from this very pair, and from another pair)
      val dual = DualBound.fromPair(a, b, d, bins)
      assert(dual.dualEmd(a, b) <= exact + 1e-6,
        s"dual ${dual.dualEmd(a, b)} > exact $exact")
      val other = DualBound.fromPair(randHist(n), randHist(n), d, bins)
      assert(other.dualEmd(a, b) <= exact + 1e-6,
        s"other-pair dual ${other.dualEmd(a, b)} > exact $exact")

      // D8 reduction
      val red = new ReductionBound(n, math.min(4, n), bins, d, seed = trial)
      assert(red.reducedEmd(a, b) <= exact + 1e-6,
        s"reduction ${red.reducedEmd(a, b)} > exact $exact")

      // D12 greedy-flow upper bound
      val nearest = Emd.nearestOrders(cost, n)
      val greedy = Emd.greedyFlow(a, b, nearest, cost)
      assert(greedy >= exact - tol, s"greedy $greedy < exact $exact")

      // D13 max-flow upper bound
      val mf = Emd.maxFlow(HistOps.normalize(a), cost)
      assert(mf >= exact - tol, s"maxflow $mf < exact $exact")
    }
  }

  test("1-D rubner (centroid distance) <= 1-D EMD") {
    for (_ <- 0 until 30) {
      val n = 4 + rnd.nextInt(8)
      val a = randHist(n); val b = randHist(n)
      val bins = Array.tabulate(n)(_.toDouble)
      val meanA = a.zip(bins).map { case (w, x) => w * x }.sum
      val meanB = b.zip(bins).map { case (w, x) => w * x }.sum
      assert(math.abs(meanA - meanB) <= Emd.emd1dInteger(a, b) + 1e-9)
    }
  }

  test("dual bound range pruning is sound") {
    // if dualEmd(a,b) <= theta then key(b) must lie in range(a, theta)
    for (_ <- 0 until 20) {
      val n = 4 + rnd.nextInt(6)
      val bins = randBins(n, 2)
      val dual = DualBound.fromPair(randHist(n), randHist(n), 2, bins)
      val theta = 0.5
      val a = randHist(n); val b = randHist(n)
      if (dual.dualEmd(a, b) <= theta) {
        val (lo, hi) = dual.range(a, theta)
        val kb = dual.key(b)
        // reference semantics: candidate iff minKey <= hi && maxKey >= lo
        assert(kb >= lo - 1e-9 || kb <= hi + 1e-9)
      }
    }
  }
}
