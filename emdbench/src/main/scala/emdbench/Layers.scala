package emdbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.core.{DualBound, Emd, GroundDist, TreeEmd}
import graft.operators.MelodyJoin

/** The traced run's per-layer decomposition. Every figure comes from
  * calling a layer's public functions one by one, from the outside, in the
  * order the engine itself calls them. */
object Layers {

  /** Phase times, enumeration counts and a sample of candidate pairs. */
  final case class Melody(
      gridsS: Double, dualsS: Double, enrichS: Double, summarizeS: Double,
      enumS: Double, joinS: Double, topkBoundS: Double, gridSide: Int,
      cells: Long, cellVisits: Long, guestCopies: Long, candidates: Long,
      pairsOut: Long, topK: Array[Check.Pair], duals: Array[DualBound],
      sample: Array[(Array[Double], Array[Double])]) {
    def put(m: Metrics): Unit = {
      m.put("melody.grids_s", gridsS, "s")
      m.put("melody.duals_s", dualsS, "s")
      m.put("melody.enrich_s", enrichS, "s")
      m.put("melody.summarize_s", summarizeS, "s")
      m.put("melody.enum_s", enumS, "s")
      m.put("melody.join_s", joinS, "s")
      m.put("melody.topk_bound_s", topkBoundS, "s")
      m.put("melody.grid_side", gridSide, "count")
      m.put("melody.cells", cells, "count")
      m.put("melody.cell_visits", cellVisits, "count")
      m.put("melody.guest_copies", guestCopies, "count")
      m.put("melody.candidates", candidates, "count")
      m.put("melody.pairs_out", pairsOut, "count")
      m.put("melody.guests_per_visit", guestCopies.toDouble / math.max(1L, cellVisits), "ratio")
      m.put("melody.out_per_candidate", pairsOut.toDouble / math.max(1L, candidates), "ratio")
    }
  }

  /** Names of the melody metrics, for workloads that do not run the engine. */
  val MelodyNames: Seq[(String, String)] = Seq(
    "grids_s" -> "s", "duals_s" -> "s", "enrich_s" -> "s", "summarize_s" -> "s",
    "enum_s" -> "s", "join_s" -> "s", "topk_bound_s" -> "s", "grid_side" -> "count",
    "cells" -> "count", "cell_visits" -> "count", "guest_copies" -> "count",
    "candidates" -> "count", "pairs_out" -> "count", "guests_per_visit" -> "ratio",
    "out_per_candidate" -> "ratio").map { case (n, u) => (s"melody.$n", u) }

  private def timed[T](ctx: Ctx, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = ctx.tracer.span(name)(body)
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run melody's phases one by one over `hists`: `prepare`'s order
    * (buildGrids, buildDuals, enrich, summarize), then the join at `theta`
    * (skipped when `join` is false), then for `topK` the top-k join and a
    * threshold join at its k-th answer distance + 2e-6, then a separate
    * enumeration pass through `guestCombosPublic` that counts the cells,
    * guest copies and candidate pairs at `theta` and samples `samplePairs`
    * candidate pairs uniformly. */
  def melody(ctx: Ctx, hists: DataFrame, cfg: MelodyJoin.Config, theta: Double,
             topK: Option[Int], join: Boolean, samplePairs: Int): Melody = {
    val spark = ctx.spark
    val (grids, gridsS) = timed(ctx, "melody.buildGrids")(
      MelodyJoin.buildGrids(spark, hists, cfg))
    val (duals, dualsS) = timed(ctx, "melody.buildDuals")(
      MelodyJoin.buildDuals(spark, hists, cfg))
    // prepare() builds the tree embedding except for closed-form 1-D configs
    val tree =
      if (cfg.dimension == 1 && cfg.numVectors == 1) None
      else TreeEmd.build(cfg.bins, cfg.dimension)
    val (enriched, enrichS) = timed(ctx, "melody.enrich") {
      val e = MelodyJoin.enrich(spark, hists, cfg, grids, duals, tree).persist()
      e.count()
      e
    }
    val (summaries, summarizeS) = timed(ctx, "melody.summarize")(
      MelodyJoin.summarize(enriched, cfg, duals.length,
        tree.map(_.numFeatures).getOrElse(0)))
    val prep = MelodyJoin.Prepared(grids, duals, enriched, summaries, tree)

    var joinS = 0.0
    var topkBoundS = 0.0
    var pairsOut = 0L
    var top = Array.empty[Check.Pair]
    if (join) {
      val (n, s) = timed(ctx, "melody.thresholdJoinPrepared")(
        MelodyJoin.thresholdJoinPrepared(spark, prep, theta, cfg).count())
      joinS = s; pairsOut = n
    }
    topK.foreach { k =>
      // top-k = upper-bound passes + a join at the bound's radius; the
      // bound's share is what remains after a join at the exact k-th radius
      val (t, topS) = timed(ctx, "melody.topKJoinPrepared")(
        MelodyJoin.topKJoinPrepared(spark, prep, k, cfg).collect()
          .map(r => (r.getAs[Long]("rid"), r.getAs[Long]("sid"), r.getAs[Double]("dist"))))
      top = t
      val kth = if (t.isEmpty) 0.0 else t.map(_._3).max
      val (_, atKth) = timed(ctx, "melody.thresholdJoinPrepared@kth")(
        MelodyJoin.thresholdJoinPrepared(spark, prep, kth + 2e-6, cfg).count())
      topkBoundS = topS - atKth
    }

    val sc = spark.sparkContext
    val env = MelodyJoin.cellEnvelopesPublic(summaries, cfg)
    val idx = new MelodyJoin.SummaryIndex(summaries)
    val treeGap = tree.map(_.distortion * theta).getOrElse(-1.0)
    val (cfgB, gridsB, dualsB, sumB, envB, idxB) = (sc.broadcast(cfg),
      sc.broadcast(grids), sc.broadcast(duals), sc.broadcast(summaries),
      sc.broadcast(env), sc.broadcast(idx))
    val (guests, enumS) = timed(ctx, "melody.guestCombos") {
      enriched.rdd.mapPartitions { it =>
        it.map { row: Row =>
          (row.getLong(0), row.getLong(2), MelodyJoin.guestCombosPublic(row,
            cfgB.value, gridsB.value, dualsB.value, sumB.value, envB.value, theta,
            treeGap, idxB.value))
        }
      }.collect()
    }
    val weights: Map[Long, Array[Double]] = enriched.select("id", "weights").collect()
      .map(row => (row.getLong(0), row.getSeq[Double](1).toArray)).toMap
    enriched.unpersist(false)

    val count = summaries.map(s => (s.combo, s.count)).toMap
    val guestCopies = guests.map(_._3.length.toLong).sum
    val nativePairs = summaries.map(s => s.count * (s.count - 1) / 2).sum
    val guestPairs = guests.map(_._3.map(count).sum).sum
    val sample = sampleCandidates(ctx.seed, guests, count, nativePairs, guestPairs,
      weights, samplePairs)
    Melody(gridsS, dualsS, enrichS, summarizeS, enumS, joinS, topkBoundS,
      cfg.sideNum, summaries.length, guests.length.toLong * summaries.length,
      guestCopies, nativePairs + guestPairs, pairsOut, top, duals, sample)
  }

  /** Uniform sample of the engine's candidate pairs: every same-cell pair
    * and every (guest copy, cell member) pair has equal weight. Pairs come
    * lower id first, as the engine evaluates them. */
  private def sampleCandidates(seed: Long, guests: Array[(Long, Long, Array[Long])],
      count: Map[Long, Long], nativePairs: Long, guestPairs: Long,
      weights: Map[Long, Array[Double]], n: Int): Array[(Array[Double], Array[Double])] = {
    val total = nativePairs + guestPairs
    if (total == 0L) return Array.empty
    val members: Map[Long, Array[Long]] =
      guests.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val combos = members.keys.toArray.sorted
    val nativeCum = combos.scanLeft(0L)((a, c) => a + count(c) * (count(c) - 1) / 2).tail
    val copies = guests.flatMap(g => g._3.map(c => (g._1, c)))
    val guestCum = copies.scanLeft(0L)((a, gc) => a + count(gc._2)).tail
    /** Smallest index whose cumulative count exceeds x. */
    def firstAbove(cum: Array[Long], x: Long): Int = {
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) > x) hi = mid else lo = mid + 1
      }
      lo
    }
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(n) {
      val x = rnd.nextLong(total)
      val (a, b) =
        if (x < nativePairs) {
          val ms = members(combos(firstAbove(nativeCum, x)))
          val i = rnd.nextInt(ms.length)
          var j = rnd.nextInt(ms.length - 1)
          if (j >= i) j += 1
          (ms(i), ms(j))
        } else {
          val (g, c) = copies(firstAbove(guestCum, x - nativePairs))
          val ms = members(c)
          (g, ms(rnd.nextInt(ms.length)))
        }
      if (a < b) (weights(a), weights(b)) else (weights(b), weights(a))
    }
  }

  /** Kernel costs and the cascade funnel on sampled candidate pairs.
    * ns per call for each bound, `Emd.exact` and `Cascade.emdIfCandidate`,
    * and the share of the sample each cascade stage rejects, found by
    * replaying the public bounds in the cascade's order. */
  def kernels(m: Metrics, cfg: MelodyJoin.Config, duals: Array[DualBound],
              pairs: Array[(Array[Double], Array[Double])], theta: Double): Unit = {
    val cascade = new MelodyJoin.Cascade(cfg, duals)
    val tree: TreeEmd = cascade.tree
    val reductions = cascade.reductions
    val nearest = Emd.nearestOrders(cfg.cost, cfg.numBins)
    val pots = cfg.lipschitzPotentials
    var sink = 0.0
    /** ns per call of `f`, looping the sample for ~40 ms; the loop runs
      * twice and the second, JIT-compiled pass is the one reported. */
    def nsPerCall(f: (Array[Double], Array[Double], Int) => Double): Double =
      if (pairs.isEmpty) 0.0
      else Seq(1, 2).map { _ =>
        var calls = 0L
        val t0 = System.nanoTime()
        var now = t0
        while (now - t0 < 40000000L) {
          var i = 0
          while (i < pairs.length) {
            sink += f(pairs(i)._1, pairs(i)._2, i); i += 1
          }
          calls += pairs.length
          now = System.nanoTime()
        }
        (now - t0).toDouble / calls
      }.last
    m.put("cascade.ns_per_pair", nsPerCall((a, b, _) => cascade.emdIfCandidate(a, b, theta)), "ns")
    m.put("core.exact_ns", nsPerCall((a, b, _) => Emd.exact(a, b, cfg.cost)), "ns")
    m.put("core.reduced_ns", if (reductions.isEmpty) 0.0 else
      nsPerCall((a, b, i) => reductions(i % reductions.length).reducedEmd(a, b)), "ns")
    m.put("core.indmin_ns", nsPerCall((a, b, _) => Emd.indMin(a, b, cfg.cost)), "ns")
    m.put("core.dual_ns", if (duals.isEmpty) 0.0 else
      nsPerCall((a, b, i) => duals(i % duals.length).dualEmd(a, b)), "ns")
    m.put("core.proj1d_ns",
      nsPerCall((a, b, i) => cfg.proj1dEmd(i % cfg.numVectors, a, b)), "ns")
    m.put("core.tree_ns", if (tree == null) 0.0 else nsPerCall((a, b, _) => tree.dist(a, b)), "ns")
    m.put("core.greedyflow_ns", nsPerCall((a, b, _) => Emd.greedyFlow(a, b, nearest, cfg.cost)), "ns")
    if (sink == 42.0) System.err.print("")

    // funnel replay, stage for stage as Cascade.emdIfCandidate runs them
    val l2 = cfg.groundDist == GroundDist.L2
    val oneD = cfg.dimension == 1 && cfg.numVectors == 1
    val rejects = scala.collection.mutable.LinkedHashMap(
      Stages.map(_ -> 0L): _*)
    def stageOf(a: Array[Double], b: Array[Double]): String = {
      if (oneD && l2) return if (cfg.proj1dEmd(0, a, b) > theta) "proj" else ""
      if (l2) {
        if (tree != null) {
          val td = tree.dist(a, b)
          if (td > theta * tree.distortion) return "tree"
          if (td <= theta) return if (Emd.exact(a, b, cfg.cost) > theta) "exact" else ""
        }
        if ((0 until cfg.numVectors).exists(j => cfg.proj1dEmd(j, a, b) > theta)) return "proj"
        if (duals.exists(_.dualEmd(a, b) > theta)) return "dual"
      }
      if (pots.exists { pi =>
        var s = 0.0; var i = 0
        while (i < pi.length) { s += pi(i) * (a(i) - b(i)); i += 1 }
        math.abs(s) > theta + 1e-9
      }) return "kr"
      if (reductions.exists(_.reducedEmd(a, b) > theta)) return "reduced"
      if (Emd.indMin(a, b, cfg.cost) > theta) return "indmin"
      if (Emd.exact(a, b, cfg.cost) > theta) "exact" else ""
    }
    pairs.foreach { case (a, b) =>
      val s = stageOf(a, b)
      if (s.nonEmpty) rejects(s) += 1
    }
    val n = math.max(1, pairs.length).toDouble
    rejects.foreach { case (s, c) => m.put(s"cascade.reject_share.$s", c / n, "ratio") }
    m.put("cascade.sampled_pairs", pairs.length, "count")
  }

  val Stages: Seq[String] = Seq("tree", "proj", "dual", "kr", "reduced", "indmin", "exact")
}
