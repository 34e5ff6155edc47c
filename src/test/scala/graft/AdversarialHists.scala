package graft

import org.scalacheck.Gen

/** Histogram generators for the EMD_BR soundness checks: point masses,
  * small integer count ratios, and dyadic counts whose 1-D EMDs sit
  * exactly on theta = 1/4 or one ulp from it. */
object AdversarialHists {

  def pointMass(numBins: Int): Gen[Array[Double]] = for {
    b <- Gen.choose(0, numBins - 1)
    c <- Gen.oneOf(1.0, 3.0, 1e-3, 7e5)
  } yield Array.tabulate(numBins)(i => if (i == b) c else 0.0)

  def countRatio(numBins: Int): Gen[Array[Double]] =
    Gen.listOfN(numBins, Gen.choose(0, 4)).map(_.map(_.toDouble).toArray)
      .suchThat(_.sum > 0)

  /** 16 units moved one at a time between adjacent bins from a few
    * shapes, then (sometimes) one nonzero count nudged by one ulp. */
  def dyadic(numBins: Int): Gen[Array[Double]] = {
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

  /** One record of any kind above. */
  def record(numBins: Int): Gen[Array[Double]] = Gen.frequency(
    1 -> pointMass(numBins), 2 -> countRatio(numBins), 3 -> dyadic(numBins))

  /** A corpus mixing every record kind, with identical histograms: exact
    * copies and copies scaled by a power of two (the same normalized
    * weights). */
  def corpus(numBins: Int): Gen[Seq[Array[Double]]] = for {
    n <- Gen.choose(24, 60)
    base <- Gen.listOfN(n, record(numBins))
    copies <- Gen.listOfN(n / 4, Gen.zip(Gen.choose(0, n - 1), Gen.oneOf(1.0, 2.0, 0.5)))
  } yield base ++ copies.map { case (i, s) => base(i).map(_ * s) }
}
