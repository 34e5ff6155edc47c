package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Empirical scaling contract for the flagship engines, measured at
  * sf0.001/sf0.01/sf0.1 with the engines' own counters (ScalingStats —
  * the Prof counters aggregated cluster-side). The 100x-scale arguments
  * elsewhere are design arguments; these assertions pin the measured
  * curve so a regression in pruning/blocking fails `sbt test`:
  *
  *  - melody 3-D threshold join (density-sized grid, sideNumFor):
  *    candidate pairs reaching the cascade and guest-replica shuffle
  *    rows stay OUTPUT-PROPORTIONAL (<= small multiples of the true
  *    result + a linear term), and candidates stay <= 1% of the naive
  *    N^2/2 space at every scale — the fixed-radius/growing-density
  *    regime makes the OUTPUT itself quadratic-trending, so
  *    output-proportional is the strongest honest claim;
  *  - residual IVF-PQ: the probe scans a bounded fraction of the
  *    corpus (~nProbe/kCoarse, asserted <= 2x the ideal fraction to
  *    absorb k-means imbalance) at every scale.
  *
  * Raw curve recorded in PLANS.md.
  *
  * ENVELOPE CONSTANTS are measured-headroom pins, not theory: each is
  * roughly 2x the worst observed ratio across the three generated
  * scales (raw numbers in PLANS.md), so a >2x pruning regression fails
  * here while ordinary run-to-run variation cannot. They are
  * fixture-coupled by design — if /root/testdata is regenerated or a
  * declared threshold changes, a failure here means DATA DRIFT first:
  * print the ScalingStats counters at each scale, compare them against
  * the PLANS.md curve, and
  * re-pin at ~2x the new worst ratio (documented at each assertion). */
class ScalingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("scaling-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"/root/testdata/$s")
    .filter(d => new java.io.File(d).isDirectory)

  test("sideNumFor engages with density and respects the saturation cap") {
    assert(MelodyJoin.sideNumFor(200) == 6)     // floor at gate scales
    assert(MelodyJoin.sideNumFor(2000) == 6)
    assert(MelodyJoin.sideNumFor(20000) == 8)   // engages at sf0.1
    // ceiling = the r17 sweep's measured saturation knee (combos and
    // guest replication plateau past side ~12 while the side^2 envelope
    // scan keeps growing — see sideNumFor's scaladoc), no longer the
    // 16-bit packCombo encoding limit (24)
    assert(MelodyJoin.sideNumFor(200000) == 12)
    assert(MelodyJoin.sideNumFor(20000000L) == 12)
  }

  test("melody 3-D join: candidate pairs and guest replication stay output-proportional") {
    assert(sfs.size >= 2, "need at least two generated scales")
    val theta = 0.0803
    sfs.foreach { dir =>
      val hists = graft.sources.Fixtures.tripleHists(spark, dir)
      val cfg = graft.SparkEntry.melodyCfg3d
        .copy(sideNum = MelodyJoin.sideNumFor(hists.count()))
      val m = ScalingStats.melody(spark, hists, cfg, theta)
      val out = MelodyJoin.thresholdJoin(spark, hists, theta, cfg).count()
      val naive = m.n * (m.n - 1) / 2
      withClue(s"$dir n=${m.n} cand=${m.candPairs} guests=${m.guests} out=$out: ") {
        // cascade work tracks the output, not the quadratic pair space
        assert(m.candPairs <= 16L * out + 64L * m.n)
        // shuffle volume (guest replicas) tracks the output too
        assert(m.guests <= 8L * out + 32L * m.n)
        // grid prune rejects >= 99% of the naive space before any
        // per-pair work
        assert(m.candPairs * 100L <= naive)
      }
    }
  }

  test("prefix-filter shingle Jaccard: candidates output-proportional, >=99% pruned") {
    // the prefix path's operating regime is LARGE vocabularies (shingle
    // features — q_ngram_jaccard); small-vocab corpora route to the
    // bitmask fast path, where this filter is structurally weak
    // (measured 27% of naive on the 64-token corpus at sf0.1)
    sfs.foreach { dir =>
      val shdocs = graft.sources.Fixtures.documents(spark, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.concat_ws(" ",
            graft.functions.TextCols.shingles(
              org.apache.spark.sql.functions.col("text"), 3)).as("shtext"))
      val g = ScalingStats.prefixJaccard(spark, shdocs, graft.SparkEntry.NgramTau,
        textCol = "shtext")
      withClue(s"$dir sets=${g.nSets} cand=${g.candPairs} out=${g.out} " +
        s"near=${g.near}: ") {
        // candidate work tracks the verified-band output (qualifying +
        // near-threshold pairs, which no admissible filter may reject)
        // plus a linear mutual-rarest-token collision term, not the
        // quadratic pair space. The 3*sets coefficient is calibrated
        // against the 3x stress corpus (positional filter on: collision
        // mass measured 2.36*sets there, 0.6*sets at sf0.1 — PLANS.md
        // stress table); the near term keeps the contract honest on
        // near-threshold-heavy corpora.
        assert(g.candPairs <= 2L * (g.out + g.near) + 3L * g.nSets)
        assert(g.candPairs * 100L <= g.nSets * (g.nSets - 1) / 2)
      }
    }
  }

  test("winnowing: selection density and pair-join rows stay bounded at every scale") {
    sfs.foreach { dir =>
      val docs = graft.sources.Fixtures.documents(spark, dir)
      val wn = ScalingStats.winnow(spark, docs, k = 3, w = 4, minShared = 2)
      withClue(s"$dir post=${wn.postings} joinRows=${wn.joinRows} out=${wn.out}: ") {
        // winnowing's published guarantee: ~2/(w+1) of gram positions
        // are selected (density 0.4 at w=4); the +nDocs absorbs
        // short-doc floors (every doc selects at least one fingerprint)
        assert(wn.postings * (4 + 1) <= 2L * wn.gramPositions + wn.nDocs)
        // the fp-equijoin's row count (its true shuffle driver) tracks
        // the qualifying-pair output, not the quadratic doc space;
        // 48x/2x pins ~2x the sf0.1 measurement (joinRows ~= 23*out +
        // ~N near-dup floor — see PLANS.md WINNOW rows)
        assert(wn.joinRows <= 48L * wn.out + 2L * wn.nDocs)
      }
    }
  }

  test("tf-idf sparse cosine: candidate filter prunes >=98% of the pair space") {
    // like the prefix filter, the sparse path serves large vocabularies
    // (the dense path owns the gate-bounded small-vocab corpus)
    sfs.foreach { dir =>
      val shdocs = graft.sources.Fixtures.documents(spark, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.concat_ws(" ",
            graft.functions.TextCols.shingles(
              org.apache.spark.sql.functions.col("text"), 3)).as("shtext"))
      val c = ScalingStats.cosineSparse(spark, shdocs, 0.9,
        textCol = "shtext")
      withClue(s"$dir n=${c.nDocs} cand=${c.candPairs} out=${c.out}: ") {
        assert(c.candPairs * 500L <= c.nDocs * (c.nDocs - 1) / 2)
        // measured envelope under margin indexing + the evidence
        // filter (TfIdf.sparseCandidates): worst observed is
        // cand = 1.27*out + ~0 (sf0.1: 324 cand / 255 out; 28/28 and
        // 25/25 below) — 2x/N-over-8 pins ~2x that worst ratio, down
        // from the round-11 rare-suffix allowance of 2*out + 32*N
        assert(c.candPairs <= 2L * c.out + c.nDocs / 8L)
      }
    }
  }

  test("residual IVF-PQ probe scans a bounded corpus fraction at every scale") {
    sfs.foreach { dir =>
      val embs = graft.sources.Fixtures.embeddings(spark, dir)
      val p = ScalingStats.ivfPq(spark, embs, kCoarse = 16, nProbe = 2)
      withClue(s"$dir n=${p.n} probed=${p.probedRows}: ") {
        assert(p.probedRows >= 1L, "probe must reach at least one member")
        // <= 2x the ideal nProbe/kCoarse fraction (k-means imbalance slack)
        assert(p.probedRows * p.kCoarse.toLong <=
          2L * p.nProbe.toLong * p.n)
      }
    }
  }

  test("edit-distance join: segment-filter candidates are output-proportional") {
    sfs.foreach { dir =>
      val docs = graft.sources.Fixtures.documents(spark, dir)
      val e = ScalingStats.editJoin(spark, docs, 4)
      withClue(s"$dir n=${e.n} cand=${e.cand} out=${e.out}: ") {
        // measured cand/out <= 1.10 at every scale (25/24, 24/24, 275/251
        // — PLANS.md curve); 2x + a small linear slack absorbs drift
        assert(e.cand <= 2L * e.out + e.n / 10)
        // >= 99.9% of the naive pair space never materializes
        assert(e.cand * 1000 <= e.naive)
      }
    }
  }

  test("exact substring dedup: anchor evidence stays inside the span mass it proves") {
    sfs.foreach { dir =>
      val docs = graft.sources.Fixtures.documents(spark, dir)
      val es = ScalingStats.exactSubstr(spark, docs, graft.SparkEntry.ExactSubstrK)
      withClue(s"$dir n=${es.n} dupPost=${es.dupPostings} " +
        s"spanToks=${es.spanTokens} maxDf=${es.maxGramDf}: ") {
        // structural: every duplicated posting lies inside exactly one
        // merged span, and a span of T tokens holds at most T-k+1 postings
        assert(es.dupPostings <= es.spanTokens)
        // the merge window's input is the duplicated slice, not the corpus:
        // measured dupFrac 9.7/8.9/9.2% at the generated scales (the 3x
        // stress corpus is the deliberate full-duplication regime — see
        // PLANS.md); 4x headroom catches a drift toward all-dup kgrams
        assert(es.dupPostings * 10L <= 4L * es.kgrams)
        // gram-keyed aggregation skew lever: hottest anchor df stays tiny
        // (measured 4/3/4 docs, 8 at the 3x stress point); a
        // boilerplate-gram regime would need the spanOwnership-style
        // df-cap and must fail here first
        assert(es.maxGramDf <= 64L)
        // non-vacuous at every generated scale (45/47/529 spans)
        assert(es.spans >= 1L)
      }
    }
  }

  test("triangle counting: oriented wedge work stays under E^1.5 and far under unoriented") {
    import org.apache.spark.sql.functions._
    sfs.foreach { dir =>
      val docs = graft.sources.Fixtures.documents(spark, dir)
      val und = Graph.linkEdges(docs)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .persist()
      val e = und.count()
      val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // oriented out-degree: edges pointing AWAY under (deg, id) rank
      val rk = (dCol: org.apache.spark.sql.Column, nCol: org.apache.spark.sql.Column) =>
        dCol * lit(1L << 32) + nCol
      val o = und
        .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
        .select(when(rk(col("da"), col("a")) < rk(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("x"))
      val wedges = o.groupBy("x").agg(count(lit(1)).as("od"))
        .agg(sum(col("od") * (col("od") - 1) / 2).cast("long"))
        .first().getLong(0)
      val unorientedWedges = deg
        .agg(sum(col("d") * (col("d") - 1) / 2).cast("long"))
        .first().getLong(0)
      und.unpersist()
      withClue(s"$dir E=$e wedges=$wedges unoriented=$unorientedWedges: ") {
        // the published O(E^1.5) bound holds with slack at every scale
        assert(wedges.toDouble <= math.pow(e.toDouble, 1.5))
        // orientation pays: well under the unoriented wedge mass a
        // naive enumeration scans (measured ~0.4x; <= 0.8 catches an
        // orientation regression while degree noise cannot)
        assert(wedges.toDouble <= 0.8 * unorientedWedges.toDouble)
      }
    }
  }

  test("phrase search: vote rows equal the query words' posting mass exactly") {
    import org.apache.spark.sql.functions._
    val phrases = Seq("table scan", "join order", "slow query",
      "batch batch batch", "hash join merge")
    sfs.foreach { dir =>
      val docs = graft.sources.Fixtures.documents(spark, dir)
      val idx = Search.positionalIndex(docs).persist()
      val df = idx.groupBy("token").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // structural identity: every (query word occurrence k, posting)
      // join row is one vote, minus the anchor >= 0 boundary clips
      val postingMass = phrases.flatMap(_.split(" "))
        .map(w => df.getOrElse(w, 0L)).sum
      val words = phrases.flatMap { p =>
        p.split(" ").zipWithIndex.map { case (w, k) => (p, k.toLong, w) }
      }
      import spark.implicits._
      val votes = idx.join(broadcast(words.toDF("phrase", "k", "token")), Seq("token"))
        .filter(col("pos") - col("k") >= 0).count()
      val hits = Search.phraseSearch(spark, idx, phrases)
        .agg(coalesce(sum(col("hits")), lit(0L))).first().getLong(0)
      idx.unpersist()
      withClue(s"$dir mass=$postingMass votes=$votes hits=$hits: ") {
        // votes never exceed the posting mass of the query words — the
        // aggregation input is LINEAR in matched postings, independent
        // of phrase count times corpus size
        assert(votes <= postingMass)
        // boundary clipping is the only loss (anchor < 0: at most
        // (m-1) * docs-with-the-word rows)
        assert(votes >= postingMass - phrases.map(_.split(" ").length - 1).sum * docs.count())
        assert(hits >= 1L, "query set must stay non-vacuous")
      }
    }
  }

  test("semantic dedup: within-cluster pair work stays near the balanced 1/k ideal") {
    sfs.foreach { dir =>
      val embs = graft.sources.Fixtures.embeddings(spark, dir)
      val n = embs.count()
      Seq(8, Ann.scaledCentroids(n)).distinct.foreach { k =>
        val sd = ScalingStats.semDedup(spark, embs, k)
        withClue(s"$dir k=$k n=${sd.n} within=${sd.withinPairs}: ") {
          // measured frac/ideal <= 1.01 at every generated scale (PLANS.md
          // curve: 0.124/0.125, 0.044/0.043, 0.022/0.022); pinned at 2x so a
          // clustering collapse (one mega-cluster => frac -> 1) fails here
          assert(sd.withinPairs.toDouble <= 2.0 * sd.naive.toDouble / k)
          // no cluster degenerates past 4x the balanced size (measured <= 2.2x)
          assert(sd.maxCluster.toDouble <= 4.0 * sd.n.toDouble / k + 1.0)
        }
      }
    }
  }
}
