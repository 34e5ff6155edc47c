package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** EMD_BR is the grid's record-to-cell lower bound: guest enumeration
  * drops a cell when it exceeds theta, so for every record, vector j and
  * occupied cell it must not exceed the projected 1-D EMD from the record
  * to any member of that cell (up to the enumeration's 1e-9 slack), with
  * the per-vector cell envelope the enumeration uses. Checked on
  * adversarial corpora: point masses, identical histograms, small integer
  * count ratios, and dyadic counts whose pairs sit exactly on theta or
  * one ulp from it.
  *
  * Both configs violate it (with commons-math's Phi as with
  * `StdNormal`), so both tests run under `pendingUntilFixed`: they report
  * pending while the bound is broken and fail once it holds. The error
  * term picks its orientation (which record's envelope enters with a
  * minus) from the record's direction to the cell, not from which normal
  * lies above before the crossing:
  *  - 1-D, Southern: record (0.5, 0.5, 0...) against the point mass at
  *    bin 0, EMD 0.5. The record's normal meets the cell's lower corner
  *    at tMin up to rounding (zero-width quantile cells), the crossing
  *    lands in interval 0, and the interval term gives EMD_BR 0.514. The
  *    full-error term, exact for a dominated record, gives 0.4999. In a
  *    melody join at theta 0.5 this drops 4 of 70 answers.
  *  - 3-D, Southwestern/Western: record (0.5, 0, 0, 0, 0, 0, 0.0625,
  *    0.4375) against members that project to a point mass on vector 2,
  *    EMD 0.051, EMD_BR 0.061. */
class EmdBrBoundSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("emd-br-bound-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** theta at which the dyadic records below are dense: many of their
    * 1-D EMDs are exactly 1/4 (units of 1/16 over 16 total units). */
  private val Theta = 0.25

  private def pointMass(numBins: Int): Gen[Array[Double]] = for {
    b <- Gen.choose(0, numBins - 1)
    c <- Gen.oneOf(1.0, 3.0, 1e-3, 7e5)
  } yield Array.tabulate(numBins)(i => if (i == b) c else 0.0)

  private def countRatio(numBins: Int): Gen[Array[Double]] =
    Gen.listOfN(numBins, Gen.choose(0, 4)).map(_.map(_.toDouble).toArray)
      .suchThat(_.sum > 0)

  /** 16 units moved one at a time between adjacent bins from a few
    * shapes, then (sometimes) one nonzero count nudged by one ulp. */
  private def dyadic(numBins: Int): Gen[Array[Double]] = {
    val shapes = Seq(Array.fill(numBins)(16.0 / numBins),
      Array.tabulate(numBins)(i => if (i < 2) 8.0 else 0.0),
      Array.tabulate(numBins)(i => if (i == 0 || i == numBins - 1) 8.0 else 0.0))
    for {
      shape <- Gen.oneOf(shapes)
      moves <- Gen.listOfN(4, Gen.choose(0, numBins - 2).flatMap(i =>
        Gen.oneOf((i, i + 1), (i + 1, i))))
      nudge <- Gen.choose(-1, 1)
      at <- Gen.choose(0, numBins - 1)
    } yield {
      val c = shape.clone()
      moves.foreach { case (from, to) =>
        if (c(from) >= 1) { c(from) -= 1; c(to) += 1 }
      }
      val k = (at until at + numBins).map(_ % numBins).find(c(_) > 0).get
      if (nudge > 0) c(k) = math.nextUp(c(k))
      else if (nudge < 0) c(k) = math.nextDown(c(k))
      c
    }
  }

  /** A corpus mixing every record kind, with identical histograms: exact
    * copies and copies scaled by a power of two (the same normalized
    * weights). */
  private def corpus(numBins: Int): Gen[Seq[Array[Double]]] = {
    val record = Gen.frequency(
      1 -> pointMass(numBins), 2 -> countRatio(numBins), 3 -> dyadic(numBins))
    for {
      n <- Gen.choose(24, 60)
      base <- Gen.listOfN(n, record)
      copies <- Gen.listOfN(n / 4, Gen.zip(Gen.choose(0, n - 1), Gen.oneOf(1.0, 2.0, 0.5)))
    } yield base ++ copies.map { case (i, s) => base(i).map(_ * s) }
  }

  /** Checks the bound over one corpus; returns the number of (record,
    * member) comparisons made. */
  private def check(cfg: MelodyJoin.Config, weights: Seq[Array[Double]]): Int = {
    import spark.implicits._
    val hists = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "weights")
    val prep = MelodyJoin.prepare(spark, hists, cfg)
    try {
      val env = MelodyJoin.cellEnvelopesPublic(prep.summaries, cfg)
      val el = 2 * cfg.numIntervals + 1
      val recs = prep.enriched.select("id", "weights", "combo", "mb", "errors")
        .collect().map { r =>
          (r.getLong(0), r.getSeq[Double](1).toArray,
            MelodyJoin.unpackCombo(r.getLong(2), cfg.numVectors),
            r.getSeq[Double](3).toArray, r.getSeq[Double](4).toArray)
        }
      var compared = 0
      for (j <- 0 until cfg.numVectors) {
        val members = recs.groupBy(_._3(j))
        for ((id, w, _, mb, errors) <- recs; (cell, ms) <- members) {
          val br = prep.grids(j).emdBr(Array(mb(2 * j), mb(2 * j + 1)),
            java.util.Arrays.copyOfRange(errors, j * el, (j + 1) * el),
            cell, env(j)(cell), cfg.numIntervals)
          for ((mid, mw, _, _, _) <- ms) {
            val d = cfg.proj1dEmd(j, w, mw)
            assert(!(br > d + 1e-9), s"vector $j: EMD_BR($id, cell $cell) = $br " +
              s"> proj1dEmd to member $mid = $d")
            // the enumeration's own test at a theta the pair meets
            // exactly or within one ulp
            for (t <- Seq(Theta, math.nextUp(Theta)) if d <= t)
              assert(!(br > t + 1e-9), s"vector $j: cell $cell pruned at theta $t " +
                s"holding member $mid at $d from $id")
            compared += 1
          }
        }
      }
      compared
    } finally prep.unpersist()
  }

  for ((name, cfg) <- Seq(
      "1-D" -> graft.SparkEntry.melodyCfg1d,
      "3-D" -> graft.SparkEntry.melodyCfg3d)) {
    test(s"$name EMD_BR never exceeds the projected EMD to a member of the cell") {
      pendingUntilFixed(checkAll(cfg))
    }
  }

  /** The property over 16 corpora; fails on the first violation. */
  private def checkAll(cfg: MelodyJoin.Config): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    var compared = 0L
    val prop = Prop.forAllNoShrink(corpus(cfg.numBins)) { ws =>
      compared += check(cfg, ws)
      Prop.passed
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(16).withInitialSeed(61L).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(compared > 10000, s"only $compared comparisons - vacuous")
  }
}
