package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Prop, Test}
import graft.AdversarialHists
import org.scalatest.funsuite.AnyFunSuite

/** EMD_BR is the grid's record-to-cell lower bound: guest enumeration
  * drops a cell when it exceeds theta, so for every record, vector j and
  * occupied cell it must not exceed the projected 1-D EMD from the record
  * to any member of that cell (up to the enumeration's 1e-9 slack), with
  * the per-vector cell envelope the enumeration uses. Checked on
  * adversarial corpora: point masses, identical histograms, small integer
  * count ratios, and dyadic counts whose pairs sit exactly on theta or
  * one ulp from it; the melody threshold join must then equal the
  * all-pairs baseline on the same corpora.
  *
  * Two cases broke the bound while its error term took its orientation
  * from the record's direction to the cell and, for dominated cells, an
  * error-interval envelope at the record-corner crossing:
  *  - 1-D, Southern: record (0.5, 0.5, 0...) against the point mass at
  *    bin 0, EMD 0.5. The record's normal meets the cell's lower corner
  *    at tMin up to rounding (zero-width quantile cells), the crossing
  *    landed in the first interval, and that interval's term gave EMD_BR
  *    0.514. The full-error term, exact for a dominated record, gives
  *    0.4999. In a melody join at theta 0.5 this dropped 4 of 70 answers.
  *  - 3-D, Southwestern/Western: record (0.5, 0, 0, 0, 0, 0, 0.0625,
  *    0.4375) against members that project to a point mass on vector 2,
  *    EMD 0.051, EMD_BR 0.061.
  * A third gave no bound at all: where the record's normal equals a cell
  * corner's (point masses sit on quantile-grid lines), the two CDFs'
  * crossing was 0/0 and EMD_BR NaN, which never prunes. */
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

  /** Checks the bound over one corpus; returns the number of (record,
    * member) comparisons made. `seen` gets each (record id, vector,
    * direction to the cell, EMD_BR) evaluated. */
  private def check(cfg: MelodyJoin.Config, weights: Seq[Array[Double]],
      seen: (Long, Int, graft.core.Direction, Double) => Unit =
        (_, _, _, _) => ()): Int = {
    import spark.implicits._
    val hists = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "weights")
    val prep = MelodyJoin.prepare(spark, hists, cfg)
    try {
      val env = MelodyJoin.cellEnvelopesPublic(prep.summaries, cfg)
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
          val point = Array(mb(2 * j), mb(2 * j + 1))
          val br = prep.grids(j).emdBr(point,
            java.util.Arrays.copyOfRange(errors, 3 * j, 3 * j + 3), cell, env(j)(cell))
          // a NaN bound compares false against theta, so it never prunes
          assert(!br.isNaN, s"vector $j: EMD_BR($id, cell $cell) is NaN")
          seen(id, j, prep.grids(j).locate(point, cell), br)
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

  /** Melody's threshold join against the all-pairs baseline on one
    * corpus at each theta; returns the number of answers compared. */
  private def checkJoin(cfg: MelodyJoin.Config, weights: Seq[Array[Double]]): Int = {
    import spark.implicits._
    val hists = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "weights")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    val prep = MelodyJoin.prepare(spark, hists, cfg)
    try {
      JoinThetas.map { theta =>
        val want = rows(BaselineJoin.thresholdJoin(spark, hists, theta, cfg))
        val got = rows(MelodyJoin.thresholdJoinPrepared(spark, prep, theta, cfg))
        assert(got == want, s"theta $theta: ${got.size} of ${want.size} pairs, " +
          s"missed ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
        want.size
      }.sum
    } finally prep.unpersist()
  }

  private val JoinThetas = Seq(0.25, 0.5)

  for ((name, cfg) <- Seq(
      "1-D" -> graft.SparkEntry.melodyCfg1d,
      "3-D" -> graft.SparkEntry.melodyCfg3d)) {
    test(s"$name EMD_BR never exceeds the projected EMD to a member of the cell") {
      var compared = 0L
      forCorpora(cfg, Seq(61L, 62L)) { ws => compared += check(cfg, ws) }
      assert(compared > 20000, s"only $compared comparisons - vacuous")
    }
    test(s"$name melody threshold join == baseline on the adversarial corpora") {
      var answers = 0L
      forCorpora(cfg, Seq(61L)) { ws => answers += checkJoin(cfg, ws) }
      assert(answers > 1000, s"only $answers answers - vacuous")
    }
  }

  test("3-D EMD_BR of the point mass (3, 0, ..., 0) in a Southwestern cell is finite") {
    // quantile-grid lines pass through the point masses here, so on
    // vector 2 the record's normal is a Southwestern cell's corner
    // normal; their CDF crossing was 0/0 and EMD_BR NaN
    val corpus = Seq(
      Seq(3, 0, 0, 0, 0, 0, 0, 0), Seq(6, 0, 0, 0, 0, 0, 0, 0),
      Seq(0, 0, 16, 0, 0, 0, 0, 0), Seq(0, 0, 0, 0, 0, 0, 16, 0),
      Seq(0, 0, 0, 0, 8, 0, 8, 0), Seq(0, 0, 0, 0, 0, 8, 0, 8),
      Seq(4, 4, 1, 3, 0, 2, 1, 0), Seq(0, 1, 3, 0, 0, 0, 0, 4),
      Seq(0, 0, 0, 0, 8, 8, 0, 0), Seq(0, 0, 8, 0, 0, 0, 0, 8),
      Seq(1, 0, 3, 4, 3, 4, 0, 3), Seq(8, 0, 0, 0, 0, 0, 8, 0),
      Seq(0, 0, 0, 2, 0, 0, 0, 0), Seq(0, 3, 0, 0, 0, 0, 0, 0),
      Seq(0, 8, 0, 0, 0, 8, 0, 0), Seq(0, 4, 1, 3, 1, 4, 2, 2),
      Seq(0, 0, 0, 0, 8, 8, 0, 0), Seq(0, 0, 0, 0, 0, 1, 0, 0),
      Seq(0, 0, 0, 0, 16, 0, 0, 0), Seq(4, 1, 0, 1, 2, 2, 3, 1),
      Seq(8, 0, 0, 0, 0, 0, 0, 8), Seq(0, 0, 0, 0, 8, 0, 8, 0),
      Seq(0, 2, 0, 0, 0, 0, 0, 0), Seq(0, 2, 0, 0, 0, 0, 0, 0))
      .map(_.map(_.toDouble).toArray)
    spark.sparkContext.setLogLevel("WARN")
    var southwestern = 0
    check(graft.SparkEntry.melodyCfg3d, corpus, (id, j, dir, _) =>
      if (id == 0 && j == 2 && dir == graft.core.Direction.Southwestern) southwestern += 1)
    assert(southwestern > 0, "the point mass has no Southwestern cell on vector 2")
  }

  /** Runs `body` over 16 corpora per seed; fails on the first violation. */
  private def forCorpora(cfg: MelodyJoin.Config, seeds: Seq[Long])(
      body: Seq[Array[Double]] => Unit): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val prop = Prop.forAllNoShrink(AdversarialHists.corpus(cfg.numBins)) { ws =>
      body(ws)
      Prop.passed
    }
    for (seed <- seeds) {
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(16).withInitialSeed(seed).withWorkers(1), prop)
      assert(res.passed, s"seed $seed: ${res.status}")
    }
  }
}
