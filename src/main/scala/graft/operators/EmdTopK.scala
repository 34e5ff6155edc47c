package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The top-k policy every EMD self-join engine shares (melody, MrSim, the
  * tree engines and the banded 1-D join): bound the k-th best pair
  * distance from above, run the engine's own threshold join at that
  * radius, and rank what it returns.
  *
  * The bound follows the reference's sampled k-th EMD
  * (HistUtil.getKEmd:641-652), made tighter: instead of the pairs of a
  * fixed sample it takes the exact distances from EVERY record to
  * [[Refs]] spread reference records. Each is the distance of one real
  * pair, so the k-th smallest of them, over k distinct pairs, is at
  * least the k-th best pair distance. The number of candidate pairs
  * grows with the corpus (`Refs * n`, not a fixed C(s, 2)), so the
  * radius tightens as n grows. Measured at sf0.1 (20,000 records): the
  * melody 3-D top-40 radius is 0.0625 against 0.0957 for the former
  * 64-record sample and greedy flows to 8 refs, and its final join
  * returns 30,423 pairs instead of 444,108; the 1-D top-20 radius is
  * 0.0792 against 0.1256 (MrSim's 256-record sample) and 0.1026 (the
  * 1-D join's 512), 9,169 pairs instead of 158,059 and 44,628.
  */
object EmdTopK {

  /** Reference records per bound. */
  val Refs = 16

  /** The first `k` records of `src`'s `(id, weights)` in
    * `(Murmur3 hash(id), id)` order, weights as stored, in one
    * `takeOrdered` job. Murmur3 with seed 42 on the long id is Spark's
    * `hash(col("id"))`, so this is the order of
    * `orderBy(hash(col("id")), col("id")).limit(k)`: spread over the
    * corpus, independent of how ids were assigned. */
  def firstByIdHash(src: DataFrame, k: Int): Array[(Long, Array[Double])] = {
    import src.sparkSession.implicits._
    src.select("id", "weights").as[(Long, Array[Double])].rdd
      .map { case (id, w) => (Murmur3_x86_32.hashLong(id, 42), id, w) }
      .takeOrdered(k)(Ordering.by((t: (Int, Long, Array[Double])) => (t._1, t._2)))
      .map { case (_, id, w) => (id, w) }
  }

  /** The k smallest `(round(dist, 6), rid, sid)` rows of `pairs`: the
    * 6-decimal tie-break the oracles apply. */
  def rank(pairs: DataFrame, k: Int): DataFrame =
    pairs.orderBy(round(col("dist"), 6), col("rid"), col("sid")).limit(k)

  /** Top-k closest pairs of `hists` (`id`, `weights`): `thresholdJoin`
    * at the [[kthRefDist]] bound, ranked by [[rank]]. `dist` must be the
    * distance the join computes, on the weights as stored in `hists`.
    * The radius covers the whole 6-decimal rounding bucket of the bound
    * (+2e-6): a pair up to 5e-7 above the k-th distance can round equal
    * and win the (rid, sid) tie-break, so the join must return it. */
  def join(hists: DataFrame, k: Int, dist: (Array[Double], Array[Double]) => Double)(
      thresholdJoin: Double => DataFrame): DataFrame =
    rank(thresholdJoin(math.min(kthRefDist(hists, k, dist) + 2e-6, Double.MaxValue)), k)

  /** The k-th smallest `dist(record, ref)` over every record of `hists`
    * and each of the [[Refs]] records [[firstByIdHash]] picks, in one
    * `takeOrdered(k)` job; `Double.MaxValue` when fewer than k such pairs
    * exist. Self-pairs are skipped, and a record that is itself a ref
    * keeps only the pairs with a higher-id ref, so the values cover
    * distinct pairs and the bound holds. */
  private[operators] def kthRefDist(hists: DataFrame, k: Int,
      dist: (Array[Double], Array[Double]) => Double): Double = {
    val spark = hists.sparkSession
    import spark.implicits._
    val refsB = spark.sparkContext.broadcast(firstByIdHash(hists, Refs))
    val ds = hists.select("id", "weights").as[(Long, Array[Double])].rdd
      .mapPartitions { it =>
        val refs = refsB.value
        it.flatMap { case (id, w) =>
          val isRef = refs.exists(_._1 == id)
          refs.iterator.collect {
            case (rid, rw) if rid != id && (!isRef || id < rid) => dist(w, rw)
          }
        }
      }
      .takeOrdered(k)
    if (ds.length >= k) ds(k - 1) else Double.MaxValue
  }
}
