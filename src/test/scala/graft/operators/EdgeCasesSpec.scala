package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input robustness: the shapes that show up at 100 TB —
  * identical histograms (zero-width Hough domain), single records,
  * k larger than the pair count. */
class EdgeCasesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cfg = graft.SparkEntry.melodyCfg3d

  /** An engine result's `(rid, sid)` pairs, after asserting that none
    * appears twice (a set alone would hide a duplicate). */
  private def distinctPairs(result: DataFrame): Set[(Long, Long)] = {
    val rows = result.collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = rows.toSet
    assert(rows.length == pairs.size, s"${rows.length} rows but ${pairs.size} distinct pairs")
    pairs
  }

  private def df(rows: Seq[(Long, Array[Double])]) = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    rows.toDF("id", "weights")
  }

  test("single record: no pairs, no crash") {
    val hists = df(Seq((1L, Array(1.0, 2, 3, 4, 5, 6, 7, 8))))
    assert(MelodyJoin.thresholdJoin(spark, hists, 0.5, cfg).count() == 0)
    assert(BaselineJoin.thresholdJoin(spark, hists, 0.5, cfg).count() == 0)
    val normed = df(Seq((1L, graft.core.HistOps.normalize(
      Array(1.0, 2, 3, 4, 5, 6, 7, 8)))))
    assert(EmdJoins.treeExact3dThresholdJoin(normed, 0.5).count() == 0)
  }

  test("all-identical histograms: degenerate grid domain still joins") {
    val w = Array(1.0, 1, 1, 1, 1, 1, 1, 1)
    val hists = df((1L to 10L).map(i => (i, w.clone())))
    val pairs = MelodyJoin.thresholdJoin(spark, hists, 0.1, cfg).collect()
    assert(pairs.length == 45, s"expected all 45 pairs, got ${pairs.length}")
    assert(pairs.forall(_.getDouble(2) == 0.0))
  }

  test("top-k with k exceeding the pair count returns all pairs") {
    val rnd = new scala.util.Random(3)
    val hists = df((1L to 5L).map(i => (i, Array.fill(8)(rnd.nextDouble()))))
    val topk = MelodyJoin.topKJoin(spark, hists, k = 100, cfg)
    assert(topk.count() == 10) // C(5,2)
  }

  test("emd1d joins survive identical-histogram corpora") {
    val w = Array(0.125, 0.125, 0.125, 0.125, 0.125, 0.125, 0.125, 0.125)
    val hists = df((1L to 6L).map(i => (i, w.clone())))
    assert(EmdJoins.emd1dThresholdJoin(hists, 0.01).count() == 15)
    assert(EmdJoins.emd1dTopK(hists, 4).count() == 4)
  }

  test("mrsim skewed pivot distribution: sub-split groups stay bounded " +
    "and the answer matches brute force") {
    // pathological case: near-identical histograms make EVERY record's
    // hyperplane margin admit EVERY pivot, so each pivot group holds all
    // N rows (window copies). With maxGroupRows = 16 each group must
    // sub-split into block-pairs; the answer must still be exact.
    val rnd = new scala.util.Random(11)
    val hists = df((1L to 120L).map { i =>
      (i, Array.fill(8)(1.0 + 0.001 * rnd.nextDouble()))
    })
    val base = BaselineJoin.thresholdJoin(spark, hists, 0.3, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mrsim = distinctPairs(MrSimJoin.thresholdJoin(spark, hists, 0.3, cfg,
      numPivots = 4, maxGroupRows = 16))
    assert(base.size == 120 * 119 / 2, s"expected all pairs, got ${base.size}")
    assert(mrsim == base,
      s"missed=${(base -- mrsim).size} extra=${(mrsim -- base).size}")
  }

  test("mrsim top-k matches melody top-k") {
    val rnd = new scala.util.Random(5)
    val hists = df((1L to 40L).map(i => (i, Array.fill(8)(rnd.nextDouble()))))
    val mel = MelodyJoin.topKJoin(spark, hists, k = 10, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mrs = MrSimJoin.topKJoin(spark, hists, k = 10, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mrs == mel)
  }

  test("jaccard bitmask gate: tiny vocab with many distinct sets takes the prefix path") {
    import spark.implicits._
    // 6-token vocabulary, 50 documents covering many DISTINCT subsets — a
    // 64-bit vocab alone would admit the quadratic bitmask cross join; the
    // distinct-set gate must push this onto the prefix path, whose result
    // must be identical to the bitmask path's
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val rnd = new scala.util.Random(17)
    val docs = (1L to 50L).map { i =>
      val n = 2 + rnd.nextInt(4)
      (i, rnd.shuffle(vocab.toList).take(n).sorted.mkString(" "))
    }.toDF("doc_id", "text")
    def pairs(maxSets: Int) =
      Dedup.jaccardJoin(docs, 0.6, maxBitmaskSets = maxSets)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6))).toSet
    val viaBitmask = pairs(100000) // gate passes: bitmask fast path
    val viaPrefix = pairs(2)       // gate trips: generic prefix path
    assert(viaBitmask.nonEmpty, "vacuous gate test")
    assert(viaPrefix == viaBitmask,
      s"path divergence: bitmaskOnly=${(viaBitmask -- viaPrefix).size} " +
        s"prefixOnly=${(viaPrefix -- viaBitmask).size}")
  }

  test("per-group window operators survive one hot key with 100k rows") {
    // the documented per-group-window contract (asOfJoin, tokenBudget,
    // fixedSample): a pathological key serializes its group into one
    // window task but must still complete with the exact answer — this
    // turns the prose contract into tested behavior
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // asOfJoin: 100k left events on ONE key, rights every 100 us; match
    // is analytically floor(i/100) with lag i % 100 (equal-ts rights
    // sort before lefts, so an exact-tick left matches its own tick)
    val left = (0L until 100000L).map(i => ("hot", i, i)).toDF("k", "us", "id")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("id"))
    val right = (0L to 1000L).map(j => ("hot", j * 100L, j)).toDF("k", "us", "id")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("id"))
    val matched = EventOps.asOfJoin(left, right, "k", "ts", "id").collect()
    assert(matched.length == 100000)
    assert(matched.forall { r =>
      r.getLong(1) == r.getLong(0) / 100 && r.getLong(2) == r.getLong(0) % 100
    })

    // tokenBudget: 100k identical-score 3-token docs in ONE group; the
    // running cut must keep exactly the budget/3 lowest ids
    val docs = (1L to 100000L).map(i => (i, "grp", "tok tok tok"))
      .toDF("doc_id", "lang", "text")
    val kept = CorpusOps.tokenBudget(docs, "lang", budget = 150000L)
      .select(col("id")).collect().map(_.getLong(0))
    assert(kept.length == 50000 && kept.max == 50000L)

    // fixedSample: exactly n survivors from the hot group, and the chosen
    // set equals a driver-side replay of the same (hash, id) total order
    val sampled = CorpusOps.fixedSample(docs, "lang", n = 100)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(sampled.size == 100)
    val hashes = docs.select(col("doc_id"),
        graft.functions.TextCols.md5Bits32(
          concat(col("lang"), lit(":"), col("doc_id").cast("string"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = hashes.sortBy { case (id, h) => (h, id) }.take(100).map(_._1).toSet
    assert(sampled == want)
  }

  test("dedup survives one mega duplicate family without family-sized rows") {
    // The round-6 flag: collect_list member arrays put one row's size in
    // proportion to the largest duplicate family. The fix keeps all
    // family state as (id, gid) assignment ROWS, so no single row scales
    // with family size. Pair OUTPUT is inherently m^2 per family — that
    // is the pair contract, and the group-level APIs (exactDedup /
    // connectedComponents, q_dedup_clusters) are the 100 TB path for
    // mega-families. Tested accordingly:
    //  - 100k-member family through the GROUP-level path: O(1) output;
    //  - 4k-member family (~8M pairs) through BOTH pair operators: the
    //    quadratic expansion now streams from a distributed gid-keyed
    //    self-join, never from one collected row.
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val mega = (1L to 100000L).map(i => (i, "dup boiler plate text"))
      .toDF("doc_id", "text")
    val g = Dedup.exactDedup(mega).collect()
    assert(g.length == 1 && g.head.getLong(1) == 1L && g.head.getLong(2) == 100000L)

    val m = 4000L
    val fam = (1L to m).map(i => (i, "alpha beta gamma delta")) ++
      Seq((m + 1L, "alpha beta gamma epsilon"), (m + 2L, "zeta eta theta iota"))
    val docs = fam.toDF("doc_id", "text")
    val jp = Dedup.jaccardJoin(docs, 0.6)
    // C(m,2) intra pairs at J=1 + m inter pairs (family vs m+1, J=3/5)
    val wantIntra = m * (m - 1) / 2
    val byJ = jp.groupBy(col("jaccard")).count().collect()
      .map(r => (math.round(r.getDouble(0) * 1e6), r.getLong(1))).toMap
    assert(byJ(1000000L) == wantIntra, s"intra: ${byJ.get(1000000L)}")
    assert(byJ(600000L) == m, s"inter: ${byJ.get(600000L)}")
    assert(jp.count() == wantIntra + m)
    jp.unpersist()

    val sh = Dedup.simhashDedup(spark, docs, maxHamming = 0)
    assert(sh.count() == wantIntra) // identical text = hamming 0
    sh.unpersist()
  }

  test("winnowJoin mega boilerplate family: the df-cap bounds the join") {
    // A 20k-member identical-doc family shares every selected fingerprint:
    // uncapped pair output is inherently C(m,2) (the pair contract, as in
    // jaccardJoin). The hot-fp cap is the 100 TB lever: capped, the
    // boilerplate fingerprints leave the evidence entirely and the join
    // collapses to the genuine (distinct-content) pairs only.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = 20000L
    val fam = (1L to m).map(i => (i, "dup boiler plate text run on and on")) ++
      Seq((m + 1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (m + 2L, "alpha beta gamma delta epsilon zeta eta iota"))
    val docs = fam.toDF("doc_id", "text")
    // capped at 2: family fps (df = 20000) vanish; the two alpha docs
    // share their common-prefix fingerprints (df <= 2) and survive
    val pairs = CorpusOps.winnowJoin(docs, k = 3, w = 4, minShared = 1,
      maxDf = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((m + 1L, m + 2L)),
      s"capped join must keep only the genuine near-dup pair, got $pairs")
  }

  test("sessionize survives one hot user with 100k events") {
    // same per-group window contract as asOfJoin/tokenBudget: one
    // pathological user serializes into one task but completes exactly.
    // Events every 1 s, a 2 h jump every 1000 events, 1 h gap threshold
    // -> exactly 100 sessions of 1000 events each (boundaries analytic).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val evs = (0L until 100000L).map { i =>
      val us = i * 1000000L + (i / 1000L) * 7200000000L
      (i, 7L, us, 0.125)
    }.toDF("event_id", "user_id", "us", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
    val got = EventOps.sessionize(evs, gapSec = 3600L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got.length == 100)
    assert(got.forall(_._2 == 1000L), "every session has exactly 1000 events")
    val want = (0L until 100L).map { s =>
      val start = s * 1000L * 1000000L + s * 7200000000L
      (s + 1L, 1000L, start, start + 999L * 1000000L, 125.0)
    }.toSet
    assert(got.toSet == want)
  }

  test("dedupEvents survives one hot (user, type) key with 100k events") {
    // same per-group window contract as sessionize/asOfJoin/tokenBudget:
    // one bot user emitting ONE event type serializes its lag window into
    // one task but must complete with the exact answer. Events every 1 s
    // with a 10 s jump every 1000 events, window 2 s — analytically the
    // first event and each post-jump event (gap 11 s) are originals, all
    // 99,900 others are duplicates at gap exactly 1 s.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val evs = (0L until 100000L).map { i =>
      (i, 7L, "click", i * 1000000L + (i / 1000L) * 10000000L)
    }.toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val got = EventOps.dedupEvents(evs, windowSec = 2L).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getBoolean(4)))
    assert(got.length == 100000)
    val byId = got.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(0L) == ((-1L, false)), "first event: null gap, original")
    assert((1L until 100000L).forall { i =>
      byId(i) == (if (i % 1000L == 0L) ((11000000L, false))
                  else ((1000000L, true)))
    }, "gap/dup pattern must be analytic across the hot key")
  }

  test("exactSubstrSpans survives one mega document pair with 100k-token full duplication") {
    // the per-doc merge window's hot key is a single huge document whose
    // every anchor is duplicated (a full-corpus mirror): 2 docs x 100k
    // tokens, all ~100k anchor positions per doc reach the lag window in
    // ONE partition each, and the answer is analytic — one maximal span
    // covering each document end to end.
    import spark.implicits._
    val n = 100000
    // identical long texts with a small shared vocab (anchors repeat
    // within AND across docs; dedup is by distinct-doc rule)
    val body = (0 until n).map(i => s"w${i % 97}").mkString(" ")
    val docs = Seq((1L, body), (2L, body), (3L, "totally different words " +
      "nothing shared here at all")).toDF("doc_id", "text")
    val got = CorpusOps.exactSubstrSpans(docs, k = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == 2)
    assert(got(0) == ((1L, 0L, n.toLong, n.toLong)))
    assert(got(1) == ((2L, 0L, n.toLong, n.toLong)))
  }

  test("asOfJoin sliced path completes one hot user with 100k events at bounded task state") {
    // one pathological key, 100k left + 10k right rows: the sliced path
    // buckets into 100 time slices (~1.1k rows per (key, slice) window
    // task instead of 110k in one), with matches both within-slice and
    // through the cross-slice carry. Expectation is analytic: left i at
    // t=i s matches the latest right at t=10*floor(i/10) s.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mk(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val left = (0L until 100000L).map(i => (i, 7L, i * 1000000L))
    // rights every 10 s, ids offset so they never collide with left ids
    val right = (0L until 10000L).map(j => (1000000L + j, 7L, j * 10000000L))
    val got = EventOps.asOfJoin(mk(left), mk(right),
        "user_id", "ts", "event_id", sliceSec = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 100000)
    assert(got.forall { case (i, m, lag) =>
      m == 1000000L + i / 10 && lag == (i % 10) * 1000000L })
  }

  test("mrsim with more pivots than records") {
    val rnd = new scala.util.Random(9)
    val hists = df((1L to 6L).map(i => (i, Array.fill(8)(rnd.nextDouble()))))
    val base = BaselineJoin.thresholdJoin(spark, hists, 0.5, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mrsim = distinctPairs(MrSimJoin.thresholdJoin(spark, hists, 0.5, cfg,
      numPivots = 16))
    assert(mrsim == base)
  }

  test("saltedJoin == plain inner join on a mega-hot key, any salt count") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // 80% of fact rows share key 7 — the shape AQE file-splitting can't
    // help when one key exceeds an executor
    val fact = (0 until 2000).map(i =>
      (i.toLong, if (rnd.nextInt(5) > 0) 7L else rnd.nextInt(40).toLong))
      .toDF("row_id", "k")
    val dim = (0 until 40).map(i => (i.toLong, s"d$i")).toDF("k", "payload")
    val want = fact.join(dim, "k")
      .select("row_id", "k", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    for (s <- Seq(1, 8)) {
      val got = Skew.saltedJoin(fact, dim, "k", salts = s, factIdCol = "row_id")
        .select("row_id", "k", "payload").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(got == want, s"salts=$s")
    }
  }

  test("phraseSearch survives one hot token with 100k postings at bounded key width") {
    // the skew question for the anchor-join: a stop-word-dense mega doc
    // puts 100k postings on ONE token, but the aggregation key is
    // (phrase, doc, anchor) and each anchor collects at most m votes —
    // the hot token fans out across 100k DISTINCT keys instead of
    // funneling into one. Analytic answer: "b b b" over a 100k-repeat
    // "b" doc anchors at 0..n-3, so hits = n-2.
    import spark.implicits._
    val n = 100000
    val docs = Seq(
      (1L, Seq.fill(n)("b").mkString(" ")),
      (2L, "no match here")).toDF("doc_id", "text")
    val got = Search.phraseSearch(spark, Search.positionalIndex(docs),
        Seq("b b b")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("b b b", 1L, (n - 2).toLong)))
  }

  test("pageRank survives a 100k-spoke star graph (one hot in-degree node)") {
    // worst-case in-degree skew: every spoke links ONLY to the hub, so
    // the hub's contribution sum collects 100k-1 messages — a combiner
    // reduceByKey cell, never a window partition. Integer recurrence is
    // replayed by hand: after round 1 every spoke holds `cold` (base +
    // nothing, odeg 1), the hub holds base + 85*(n-1)*unit/100; rounds
    // only change the hub (spokes never receive).
    import spark.implicits._
    val n = 100000L
    val unit = 1000000000L // shrunk per the overflow contract: unit*V*85 < 2^63
    val edges = (1L until n).map(i => (i, 0L)).toDF("src", "dst")
    val nodes = (0L until n).map(i => Tuple1(i)).toDF("doc_id")
    val got = Graph.pageRank(spark, edges, nodes, iters = 2, scaleUnit = unit)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = unit / 100L * 15L
    val cold = base // a spoke after any round >= 1: no in-links
    val hub1 = base + 85L * ((n - 1L) * unit) / 100L      // round 1
    val hub2 = base + 85L * ((n - 1L) * cold) / 100L      // round 2
    assert(got(0L) == ((hub2, 0L)), "hub rank + zero out-links")
    assert(got(1L) == ((cold, 1L)) && got(n - 1L) == ((cold, 1L)))
    assert(got.size == n.toInt)
  }

  test("blocklist countAll stays linear on a 100k-repeat self-overlapping text") {
    // one 200k-char doc of "ab" repeated: "ab" hits every even offset
    // (n times), "abab" every even offset but the last (n-1, the
    // all-positions overlap semantics) — exact counts prove the
    // automaton never rescans (a quadratic scan would not finish the
    // suite's time budget at this length).
    val n = 100000
    val ac = new Blocklist.AhoCorasick(Array("ab", "abab", "zz"))
    val got = ac.countAll("ab" * n)
    assert(got.toSeq == Seq(n.toLong, (n - 1).toLong, 0L))
  }

  test("evalScores survives 100k rows on one hot score value") {
    // worst histogram skew: every row lands on ONE score — the
    // histogram is a single combiner cell (never a per-score window),
    // and the AUC is pure ties: num = ties = npos*nneg, AUC = 1/2.
    import spark.implicits._
    val n = 100000
    val rows = (0 until n).map(i => (i.toLong, 7L, i % 4 == 0))
    val got = Classifier.evalScores(spark,
        rows.toDF("doc_id", "score", "label"), Seq(0L, 100L)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val (np, nn) = (n / 4L, n - n / 4L)
    assert(got(0L) === ((np, nn, 0L, 0L, np * nn, 2L * np * nn)))
    assert(got(100L) === ((0L, 0L, np, nn, np * nn, 2L * np * nn)))
  }

  test("round-14 operators survive an empty corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Warc.parseWarc(spark, Warc.warcWrap(noDocs)
      .withColumnRenamed("content", "content")).count() == 0)
    assert(Search.phraseSearch(spark, Search.positionalIndex(noDocs),
      Seq("a b")).count() == 0)
    assert(Blocklist.matchCounts(spark, noDocs, Seq("x")).count() == 0)
    assert(Classifier.scoreDocs(spark, noDocs).count() == 0)
    val noScored = Seq.empty[(Long, Long, Boolean)]
      .toDF("doc_id", "score", "label")
    assert(Classifier.evalScores(spark, noScored, Seq(0L)).count() == 0)
    assert(Unigram.encode(noDocs, Seq("a" -> -1L)).count() == 0)
    assert(Snapshot.diff(noDocs, Snapshot.nextSnapshot(noDocs)).count() == 0)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val someNodes = (0L until 4L).map(Tuple1(_)).toDF("doc_id")
    // graphs tolerate empty EDGE sets over real node sets…
    assert(Graph.hits(spark, noEdges, someNodes).collect()
      .forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
    assert(Graph.triangles(spark, noEdges, someNodes).collect()
      .forall(_.getLong(1) == 0L))
    // …while an empty NODE set is a contract violation, loudly
    intercept[IllegalArgumentException] { Graph.linkEdges(noDocs) }
    assert(Profile.columnStats(noDocs, Seq("doc_id"), Seq("text")).count() == 0)
    val noEmb = Seq.empty[(Long, Array[Double], Long)]
      .toDF("vec_id", "embedding", "label")
    assert(Ann.hardNegatives(noEmb, noEmb, k = 3).count() == 0)
  }

  test("round-9 operators survive an empty corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(CorpusOps.heavyHitters(noDocs, phiDen = 100L).count() == 0)
    assert(CorpusOps.bigramSurprisal(noDocs).count() == 0)
    assert(graft.operators.Bpe.train(spark, noDocs, numMerges = 5).isEmpty)
    val noVals = Seq.empty[(Long, Double)].toDF("id", "x")
    assert(SketchOps.quantileAudit(noVals, col("x"), Seq(0.5)).count() == 0)
    assert(SketchOps.distinctAudit(
      Seq.empty[(String, String)].toDF("g", "v"), "g", col("v")).count() == 0)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    assert(EventOps.funnel(noEvents, Seq("view", "click")).count() == 0)
  }
}
