package emdbench

/** Answer checks against an independent witness engine's pairs. */
object Check {
  type Pair = (Long, Long, Double)

  /** Distances from two engines may differ in the last bits (different
    * kernels), so they must agree within this. */
  val DistTol = 1e-6
  /** A pair this close to the threshold may fall on either side of it in
    * two FP-distinct kernels; only such pairs may be missing or extra. */
  val BoundaryBand = 1e-9

  final case class Outcome(ok: Boolean, pairs: Int, boundaryPairs: Int, detail: String)

  /** Threshold join: same (rid, sid) set and distances within [[DistTol]].
    * A pair on one side only is tolerated when its distance lies within
    * [[BoundaryBand]] of theta, and is counted in `boundaryPairs`. */
  def threshold(got: Array[Pair], want: Array[Pair], theta: Double): Outcome = {
    val g = toMap(got)
    val w = toMap(want)
    if (g.size != got.length) return Outcome(false, got.length, 0, "duplicate pairs")
    val bad = got.iterator.filter(p => p._1 >= p._2).take(1).toSeq
    if (bad.nonEmpty) return Outcome(false, got.length, 0, s"unordered pair ${bad.head}")
    def nearTheta(d: Double) = math.abs(d - theta) <= BoundaryBand
    val extra = g.filter { case (k, _) => !w.contains(k) }
    val missing = w.filter { case (k, _) => !g.contains(k) }
    val (exOk, exBad) = extra.partition(e => nearTheta(e._2))
    val (miOk, miBad) = missing.partition(e => nearTheta(e._2))
    val distBad = g.iterator.filter { case (k, d) =>
      w.get(k).exists(wd => math.abs(wd - d) > DistTol)
    }.take(3).toSeq
    val ok = exBad.isEmpty && miBad.isEmpty && distBad.isEmpty
    Outcome(ok, got.length, exOk.size + miOk.size,
      if (ok) "" else s"extra=${exBad.size} missing=${miBad.size} " +
        s"dist=${distBad.mkString(",")} e.g. ${exBad.take(2)} ${miBad.take(2)}")
  }

  /** Top-k: the k pairs must be exactly the first k of the witness's
    * threshold answer ordered by (round(dist, 6), rid, sid), with distances
    * within [[DistTol]]. The witness answer must hold at least k pairs. */
  def topK(got: Array[Pair], wantAll: Array[Pair], k: Int): Outcome = {
    if (wantAll.length < k)
      return Outcome(false, got.length, 0, s"witness has only ${wantAll.length} < k pairs")
    val want = wantAll.sortBy(p => (round6(p._3), p._1, p._2)).take(k)
    val w = toMap(want)
    val g = toMap(got)
    val ok = got.length == k && g.size == k && g.forall { case (key, d) =>
      w.get(key).exists(wd => math.abs(wd - d) <= DistTol)
    }
    Outcome(ok, got.length, 0,
      if (ok) "" else s"got ${got.sortBy(p => (p._1, p._2)).take(3).toSeq} " +
        s"want ${want.take(3).toSeq}")
  }

  def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  private def toMap(ps: Array[Pair]): Map[(Long, Long), Double] =
    ps.iterator.map(p => ((p._1, p._2), p._3)).toMap
}
