package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared measurement kernel for the flagship-engine scaling evidence:
  * counts the melody engine's ACTUAL work drivers (candidate pairs that
  * reach the cascade, guest replication rows) and the residual IVF-PQ
  * probe's scanned-row count, without running the joins themselves.
  * Used by ScalingSpec (the growth-exponent assertions). */
object ScalingStats {

  final case class MelodyStats(n: Long, guests: Long, intraPairs: Long,
                               crossPairs: Long) {
    def candPairs: Long = intraPairs + crossPairs
  }

  /** Candidate-pair and guest-replication counts for the 3-D melody
    * grid join at `theta`, via the engine's own enrichment + summaries
    * + guest enumeration (the Prof counters, aggregated cluster-side). */
  def melody(spark: SparkSession, hists: DataFrame,
             cfg: MelodyJoin.Config, theta: Double): MelodyStats = {
    val h = hists.persist()
    val n = h.count()
    val grids = MelodyJoin.buildGrids(spark, h, cfg)
    val duals = MelodyJoin.buildDuals(spark, h, cfg)
    val tree = MelodyJoin.treeFor(cfg)
    val enriched = MelodyJoin.enrich(spark, h, cfg, grids, duals, tree)
      .persist()
    enriched.count()
    val summaries = MelodyJoin.summarize(enriched, cfg,
      numTreeFeats = tree.map(_.numFeatures).getOrElse(0))
    val gapLimit = tree.map(_.distortion * theta).getOrElse(-1.0)
    val intra = summaries.map(s => s.count * (s.count - 1) / 2).sum
    val cfgB = spark.sparkContext.broadcast(cfg)
    val gridsB = spark.sparkContext.broadcast(grids)
    val dualsB = spark.sparkContext.broadcast(duals)
    val sumB = spark.sparkContext.broadcast(summaries)
    val envB = spark.sparkContext.broadcast(
      MelodyJoin.cellEnvelopesPublic(summaries, cfg))
    val idxB = spark.sparkContext.broadcast(
      new MelodyJoin.SummaryIndex(summaries))
    // guest rows and native-x-guest candidate pairs in one pass: each
    // record contributes |targets| replicas and sum(count(target))
    // cascade pairs
    val (guests, cross) = enriched.rdd.mapPartitions { it =>
      val countByCombo = sumB.value.map(s => s.combo -> s.count).toMap
      it.map { r =>
        val targets = MelodyJoin.guestCombosPublic(r, cfgB.value,
          gridsB.value, dualsB.value, sumB.value, envB.value, theta,
          gapLimit, idxB.value)
        (targets.length.toLong,
          targets.map(t => countByCombo.getOrElse(t, 0L)).sum)
      }
    }.fold((0L, 0L)) { case ((a1, a2), (b1, b2)) => (a1 + b1, a2 + b2) }
    enriched.unpersist(false)
    h.unpersist(false)
    MelodyStats(n, guests, intra, cross)
  }

  final case class IvfPqStats(n: Long, probedRows: Long, kCoarse: Int,
                              nProbe: Int)

  final case class PrefixStats(nDocs: Long, nSets: Long, setTokens: Long,
                               postings: Long, candPairs: Long, out: Long,
                               near: Long)

  /** Candidate-pair and prefix-postings counters for the prefix-filter
    * Jaccard family, measured through the operator's OWN package-private
    * stages (Dedup.setTokens/setGroups/rankSets/prefixPostings/
    * prefixCandidates) so the curve cannot drift from the join's real
    * derivation. `out` is the exact-verified qualifying inter-set pair
    * count (the same array_intersect arithmetic the join applies);
    * `near` counts candidates in the just-below-tau band
    * [tau - 0.15, tau) — pairs NO admissible filter may reject (an
    * admissible filter rejects only pairs provably below tau, and a
    * near-threshold pair is indistinguishable from a qualifying one
    * until verified), so the candidate envelope is written against
    * out + near, not out alone. */
  def prefixJaccard(spark: SparkSession, docs: DataFrame, tau: Double,
                    textCol: String = "text"): PrefixStats = {
    val toks = Dedup.setTokens(docs, "doc_id", textCol).persist()
    val nDocs = toks.count()
    val groups = Dedup.setGroups(toks).persist()
    val nSets = groups.count()
    val sets = groups.select(col("gid").as("id"), col("key").as("toks"))
    val dfreq = sets.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val setTokens = sets
      .select(coalesce(sum(size(col("toks"))), lit(0L))).head().getLong(0)
    val tokRanks = Dedup.rankSets(sets, dfreq).persist()
    val postings = Dedup.prefixPostings(tokRanks, tau).count()
    val candIds = Dedup
      .prefixCandidates(Dedup.prefixPostings(tokRanks, tau), tau)
    val cands = candIds
      .join(tokRanks.select(col("id").as("ga"), col("sorted").as("ta"),
        col("len").as("la")), "ga")
      .join(tokRanks.select(col("id").as("gb"), col("sorted").as("tb"),
        col("len").as("lb")), "gb")
    val inter = size(array_intersect(col("ta"), col("tb"))).cast("double")
    val jacc = inter / (col("la") + col("lb") - inter)
    // one action over the candidate join for all three pair counters
    // (count / qualifying / near-band) — the join is the expensive part
    val r = cands.agg(
      count(lit(1)).cast("long"),
      coalesce(sum(when(jacc >= tau, 1L).otherwise(0L)), lit(0L)).cast("long"),
      coalesce(sum(when(jacc >= tau - 0.15 && jacc < tau, 1L).otherwise(0L)),
        lit(0L)).cast("long")).head()
    toks.unpersist(false); groups.unpersist(false); tokRanks.unpersist(false)
    PrefixStats(nDocs, nSets, setTokens, postings, r.getLong(0), r.getLong(1),
      r.getLong(2))
  }

  final case class WinnowStats(nDocs: Long, gramPositions: Long,
                               postings: Long, joinRows: Long, out: Long)

  /** Postings and fp-equijoin row counters for winnowJoin: postings =
    * distinct (doc_id, fp) selections (the ~2/(w+1) density claim),
    * joinRows = sum over fp of c*(c-1)/2 (the rows entering the pair
    * aggregation — the join's true shuffle driver), out = qualifying
    * pairs at minShared. */
  def winnow(spark: SparkSession, docs: DataFrame, k: Int, w: Int,
             minShared: Int): WinnowStats = {
    val nDocs = docs.count()
    val gramPositions = docs
      .select(coalesce(sum(greatest(
        size(graft.functions.TextCols.tokens(col("text"))) - (k - 1),
        lit(1))), lit(0L))).head().getLong(0)
    val fps = CorpusOps.winnowFingerprints(docs, k, w)
      .select(col("doc_id"), col("fp")).distinct().persist()
    val postings = fps.count()
    val joinRows = fps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .select(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
      .head().getLong(0) / 2
    val out = fps.select(col("fp"), col("doc_id").as("rid"))
      .join(fps.select(col("fp"), col("doc_id").as("sid")), "fp")
      .filter(col("rid") < col("sid"))
      .groupBy(col("rid"), col("sid")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared).count()
    fps.unpersist(false)
    WinnowStats(nDocs, gramPositions, postings, joinRows, out)
  }

  final case class CosineStats(nDocs: Long, weightRows: Long,
                               candPairs: Long, out: Long)

  /** Sparse-path candidate counter for TfIdf.cosineJoin, through the
    * operator's own sparseCandidates stage; out = the operator's result
    * at denseVocabMax = 0 (sparse path forced). */
  def cosineSparse(spark: SparkSession, docs: DataFrame, tau: Double,
                   textCol: String = "text"): CosineStats = {
    val n = docs.count()
    val w = TfIdf.weights(docs, n, textCol = textCol).persist()
    val weightRows = w.count()
    val norms = w.groupBy(col("id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val candPairs = TfIdf.sparseCandidates(w, norms, tau).count()
    w.unpersist(false)
    val res = TfIdf.cosineJoin(spark, docs, tau, textCol = textCol,
      denseVocabMax = 0)
    val out = res.count()
    res.unpersist(false)
    CosineStats(n, weightRows, candPairs, out)
  }

  final case class EditStats(n: Long, cand: Long, out: Long) {
    def naive: Long = n * (n - 1) / 2
  }

  /** Candidate-pair count of the PassJoin segment filter, measured
    * through the operator's own kernel, vs the verified output size. */
  def editJoin(spark: SparkSession, docs: DataFrame, d: Int): EditStats = {
    val n = docs.count()
    val cand = EditJoin.candidatePairs(docs, d, "doc_id", "text").count()
    // editJoin re-derives candidates internally (the probe deliberately
    // measures the kernel twice rather than restructuring the operator);
    // its materialized result is the caller's to free — unpersist so the
    // stress run's later probes don't inherit the cache
    val res = EditJoin.editJoin(docs, d)
    val out = res.count()
    res.unpersist(false)
    EditStats(n, cand, out)
  }

  final case class SubstrStats(n: Long, kgrams: Long, dupPostings: Long,
                               spans: Long, spanTokens: Long,
                               maxGramDf: Long)

  /** ExactSubstr anchor-posting counters: total k-gram postings, the
    * duplicated subset (the only rows that reach the per-doc merge
    * window), the resulting span set, and the hottest anchor's distinct
    * doc-frequency (the gram-keyed aggregation's skew lever). The k-gram
    * derivation mirrors the operator's kernel verbatim. */
  def exactSubstr(spark: SparkSession, docs: DataFrame, k: Int): SubstrStats = {
    import spark.implicits._
    val n = docs.count()
    val kg = docs.select(col("doc_id").cast("long").as("id"),
        coalesce(col("text").cast("string"), lit("")).as("t"))
      .as[(Long, String)].mapPartitions(_.flatMap { case (id, t) =>
        val ts = t.split(" ", -1)
        if (ts.length < k) Iterator.empty
        else (0 to ts.length - k).iterator.map { p =>
          (ts.slice(p, p + k).mkString(" "), id, p)
        }
      }).toDF("g", "id", "pos").persist()
    val kgrams = kg.count()
    val perGram = kg.groupBy(col("g")).agg(
      countDistinct(col("id")).as("df"),
      count(lit(1)).as("posts"),
      min(col("id")).as("mn"), max(col("id")).as("mx")).persist()
    val row = perGram.agg(
      coalesce(sum(when(col("mn") =!= col("mx"), col("posts"))), lit(0L))
        .cast("long"),
      coalesce(max(col("df")), lit(0L)).cast("long")).head()
    val (dupPostings, maxGramDf) = (row.getLong(0), row.getLong(1))
    perGram.unpersist(false)
    kg.unpersist(false)
    val spansDf = CorpusOps.exactSubstrSpans(docs, k)
    val srow = spansDf.agg(count(lit(1)),
      coalesce(sum(col("n_tokens")), lit(0L)).cast("long")).head()
    spansDf.unpersist(false)
    SubstrStats(n, kgrams, dupPostings, srow.getLong(0), srow.getLong(1),
      maxGramDf)
  }

  final case class SemDedupStats(n: Long, k: Int, withinPairs: Long,
                                 maxCluster: Long) {
    def naive: Long = n * (n - 1) / 2
    def frac: Double = if (naive == 0) 0.0 else withinPairs.toDouble / naive
  }

  /** Within-cluster candidate-pair counter for semanticDedup: the pair
    * kernel's work driver is sum over clusters of C(n_c, 2) (vs the
    * naive C(N, 2) an unclustered near-dup pass would pay), measured
    * through the operator's own kmeans assignment so the curve cannot
    * drift from the real clustering. */
  def semDedup(spark: SparkSession, embs: DataFrame, k: Int,
               iters: Int = 2): SemDedupStats = {
    val sizes = Cluster.kmeans(spark, embs, k, iters)
      .groupBy(col("cluster")).agg(count(lit(1)).as("c"))
    val row = sizes.agg(
      coalesce(sum(col("c")), lit(0L)).cast("long").as("n"),
      coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).cast("long").as("p2"),
      coalesce(max(col("c")), lit(0L)).cast("long").as("mx")).head()
    SemDedupStats(row.getLong(0), k, row.getLong(1) / 2, row.getLong(2))
  }

  /** Scanned-row count of the residual IVF-PQ probe: assign the corpus
    * to the same deterministic coarse quantizer ivfPqTopK trains, probe
    * the nProbe cells nearest to the corpus' min-id vector (the declared
    * query convention), count members. */
  def ivfPq(spark: SparkSession, embs: DataFrame, kCoarse: Int,
            nProbe: Int, iters: Int = 2): IvfPqStats = {
    val q = Cluster.quantize(embs, 1000).persist()
    val n = q.count()
    val dim = q.select(size(col("v"))).head().getInt(0)
    val coarse = Cluster.lloydCentroids(q, kCoarse, iters, dim)
    val minId = q.agg(min(col("id"))).head().getLong(0)
    val qv = q.filter(col("id") === minId).select(col("v"))
      .head().getSeq[Long](0).toArray
    val probed = coarse.zipWithIndex.map { case (cent, c) =>
      var d = 0L
      var i = 0
      while (i < dim) { val t = qv(i) - cent(i); d += t * t; i += 1 }
      (d, c)
    }.sorted.take(nProbe).map(_._2).toSet
    val probedRows = q.rdd.map { r =>
      val v = r.getSeq[Long](1).toArray
      if (probed.contains(Cluster.argminIdx(coarse, v)._1)) 1L else 0L
    }.fold(0L)(_ + _)
    q.unpersist(false)
    IvfPqStats(n, probedRows, kCoarse, nProbe)
  }
}
