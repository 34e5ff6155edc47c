package graft.operators

import graft.core.Caching._
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.functions.TextCols

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime: every variant is blocking + shuffled equijoin on a
  * derived key (never a cartesian product), with exact verification after
  * candidate generation where the semantics call for it.
  *
  * - exact: hash-groupBy on a canonical fingerprint
  * - jaccardJoin: EXACT set-similarity self-join via prefix filtering
  *   (the candidate key is a token prefix of length |set| - ceil(tau*|set|) + 1;
  *   any pair with J >= tau must share a prefix token, so recall is 1.0)
  * - minhashLsh: MinHash signatures + banded LSH bucketing, then exact
  *   Jaccard verification of candidates (probabilistic recall, linear cost)
  * - simhash: 64-bit SimHash + per-band bucketing for Hamming-distance
  *   near-dups, verified exactly
  * - embeddingNearDup: random-hyperplane LSH over embeddings + exact
  *   cosine verification
  *
  * EAGER execution contract: every pair-producing operator here (and
  * MelodyJoin.thresholdJoin / MrSimJoin.thresholdJoin, which share the
  * pattern) runs its Spark jobs AT CALL TIME and returns a persisted
  * O(pairs) result the CALLER owns — unpersist it when done. The trade
  * is deliberate: materializing the small output lets the data-sized
  * intermediates be freed inside the call instead of accumulating across
  * a multi-query session. */
object Dedup {

  /** Materialize the (small, O(pairs)) result so the data-sized cached
    * intermediates can be freed immediately instead of accumulating across
    * a multi-query session; the result cache is reused by the caller's
    * subsequent action (write/collect) and is the caller's to unpersist
    * (see the object-level eager-execution contract). */
  private def materializeAndFree(result: DataFrame,
                                 intermediates: DataFrame*): DataFrame = {
    val out = result.persistOnce()
    out.count()
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Exact duplicate groups by canonical fingerprint: one row per distinct
    * content, keeper = min id, n = group size. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.groupBy(TextCols.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n"))

  /** Exact token-set Jaccard similarity self-join: all pairs with
    * J(tokens(a), tokens(b)) >= tau, rid < sid.
    *
    * Prefix filtering: tokens are ranked by global document frequency
    * (rarest first); each document emits its first
    * |set| - ceil(tau * |set|) + 1 ranked tokens as candidate keys. Two
    * documents with J >= tau share at least one prefix token (pigeonhole on
    * the overlap bound), so the equijoin on prefix tokens has perfect
    * recall; candidates are verified with the exact Jaccard. Rare-first
    * ranking keeps candidate buckets small (frequency skew goes to the tail
    * of the prefix, AQE splits what remains).
    */
  def jaccardJoin(docs: DataFrame, tau: Double, idCol: String = "doc_id",
                  textCol: String = "text",
                  maxBitmaskSets: Int = 100000,
                  tokenExpr: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // Dedup-first: identical token SETS collapse to one representative, so
    // all pairwise similarity math runs on distinct sets (training corpora
    // are duplicate-heavy — that is the point of this operator); qualifying
    // set pairs expand back to document pairs at the end with no math.
    // The dedup groupBy keys on md5 of the canonical set encoding, NOT on
    // the token array itself: an array key makes every shuffle-spill sort
    // comparison and aggregate-hash probe O(set size) and ships the whole
    // tokenized corpus as exchange KEY bytes — at corpus scale that is the
    // dominant byte mover. The 16-byte fingerprint is collision-safe by
    // the same 128-bit argument the exactDedup fingerprint makes
    // (TextCols.fingerprint); the encoding is unambiguous because tokens
    // come from split(text, " ") and cannot contain the separator. The
    // representative's array rides along as a first() VALUE — partial
    // aggregation keeps one copy per distinct set per map partition, which
    // is never more array bytes than the old array-as-key exchange moved.
    // toks is consumed TWICE (the distinct-set groupBy AND the (id, fp)
    // assignment join) — unpersisted, the whole tokenize + sort + md5
    // chain ran twice per call; for the shingle variant that chain is
    // the row-dominant cost. Lazily persisted; freed with the other
    // intermediates once the result materializes (guide §2.1).
    val toks = setTokens(docs, idCol, textCol, tokenExpr).persistOnce()
    // One row per DISTINCT set, with the representative's token array
    // riding as a first() value — bounded by DOCUMENT size. No state here
    // scales with duplicate-family size: member ids live as (id, gid)
    // assignment rows (below), never as one collected array — a 10^7-member
    // boilerplate family is 10^7 16-byte rows spread across tasks, not one
    // ~80 MB row on one executor.
    val groups = setGroups(toks).persistOnce()
    // every persist below registers in `pinned`; the catch frees them if
    // any action throws mid-call (the success paths free their own via
    // materializeAndFree; unpersist is idempotent so double-free is safe)
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame](toks, groups)
    try {
      // (id, gid) assignment rows — the connectedComponents output shape.
      // Used three times (intra pairs + both expansion joins): persist.
      val assign = toks.select(col("id"), col("fp"))
        .join(groups.select(col("fp"), col("gid")), "fp")
        .select(col("id"), col("gid"))
        .persistOnce()
      pinned += assign

      // intra-group pairs: identical sets, J = 1 >= tau always. A gid-keyed
      // self-join (sort-merge, spillable buffered side) instead of an
      // array explode, so the inherent m^2 pair output of a duplicate
      // family streams out of a join rather than materializing from a
      // single row's task. Callers who only need family structure should
      // use exactDedup / connectedComponents (q_dedup_clusters) — the
      // PAIR contract is quadratic in family size by definition.
      val intra = assign.as("a").join(assign.as("b"),
          col("a.gid") === col("b.gid") && col("a.id") < col("b.id"))
        .select(col("a.id").as("rid"), col("b.id").as("sid"))
        .withColumn("jaccard", lit(1.0))

      // inter-group: prefix-filter join over DISTINCT sets. Sets order their
      // tokens rarest first by (set-frequency, tok) — no global ranking
      // window, fully parallel.
      val sets = groups.select(col("gid").as("id"), col("key").as("toks"))
      // consumed twice: by the bounded vocabulary gate below AND by the
      // prefix path's rank join — cache for the duration of the call
      val dfreq = sets.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("dfreq"))
        .persistOnce()
      pinned += dfreq

      // Fast path: vocabulary fits one 64-bit word -> each distinct set is a
      // bitmask and Jaccard is two popcounts; the (distinct x distinct)
      // scalar comparison beats prefix-filter bucketing by an order of
      // magnitude at this cardinality. Generic prefix path otherwise.
      // Both gates are BOUNDED counts (limit n+1) so nothing data-sized ever
      // reaches the driver; the vocabulary itself is collected only after
      // the gate proves it has at most 64 entries. The distinct-SET gate is
      // required too: a 64-token vocabulary admits up to 2^64 distinct sets,
      // and the bitmask comparison is quadratic in their count — a corpus
      // with tiny vocab but many distinct sets must take the prefix path
      // (which handles small vocabularies correctly, just slower).
      if (dfreq.limit(65).count() <= 64 &&
          groups.limit(maxBitmaskSets + 1).count() <= maxBitmaskSets) {
        val vocab = dfreq.select(col("tok")).orderBy(col("tok")).collect().map(_.getString(0))
        val vocabIdx = vocab.zipWithIndex.toMap
        val session = docs.sparkSession
        import session.implicits._
        val idxB = session.sparkContext.broadcast(vocabIdx)
        val masks = groups.select(col("gid"), col("key"))
          .as[(Long, Seq[String])]
          .map { case (gid, key) =>
            val m = key.foldLeft(0L)((acc, t) => acc | (1L << idxB.value(t)))
            (gid, m)
          }.toDF("gid", "mask")
        val mb = masks.select(col("gid").as("gb"), col("mask").as("maskB"))
        val interBits = bit_count(col("mask").bitwiseAND(col("maskB"))).cast("double")
        val unionBits = bit_count(col("mask").bitwiseOR(col("maskB"))).cast("double")
        val interSets = masks.crossJoin(mb)
          .filter(col("gid") < col("gb"))
          .withColumn("jaccard", interBits / unionBits)
          .filter(col("jaccard") >= tau)
          .select(col("gid").as("ga"), col("gb"), col("jaccard"))
        return materializeAndFree(expandGroupPairs(intra, interSets, assign),
          toks, groups, assign, dfreq)
      }
      val tokRanks = rankSets(sets, dfreq).persistOnce()
      pinned += tokRanks
      val candIds = prefixCandidates(prefixPostings(tokRanks, tau), tau)
      val cands = candIds
        .join(tokRanks.select(col("id").as("ga"), col("sorted").as("ta"),
          col("len").as("la")), "ga")
        .join(tokRanks.select(col("id").as("gb"), col("sorted").as("tb"),
          col("len").as("lb")), "gb")
      val inter = size(array_intersect(col("ta"), col("tb"))).cast("double")
      val interSets = cands
        .withColumn("jaccard", inter / (col("la") + col("lb") - inter))
        .filter(col("jaccard") >= tau)
        .select(col("ga"), col("gb"), col("jaccard"))

      materializeAndFree(expandGroupPairs(intra, interSets, assign),
        toks, groups, assign, tokRanks, dfreq)
    } catch {
      case t: Throwable =>
        pinned.foreach(_.unpersist(false))
        throw t
    }
  }

  /** (id, key, fp) canonical sorted-token-set rows — the jaccardJoin
    * dedup-first stage's input shape. Package-private so ScalingStats
    * measures the SAME derivation the join executes.
    *
    * `tokenExpr` (when given) supplies the token ARRAY directly and
    * replaces split(textCol). Equivalence with the textual route when
    * the caller would otherwise concat_ws(" ")-join that same array into
    * textCol: concat_ws(" ", xs) round-trips through split(" ") exactly
    * when no element contains a space and xs is non-empty — both hold
    * for shingles ('_'-joined space-split tokens; the short-text lane
    * emits one whole-text shingle, never an empty array), so the n-gram
    * caller skips building and re-splitting a ~3x-document-sized string
    * per row per pass (guide §1.2 per-task work). */
  private[operators] def setTokens(docs: DataFrame, idCol: String,
                                   textCol: String,
                                   tokenExpr: Option[org.apache.spark.sql.Column] = None): DataFrame =
    CorpusOps.widen(docs).select(col(idCol).as("id"),
      sort_array(tokenExpr.map(array_distinct)
        .getOrElse(TextCols.distinctTokens(col(textCol)))).as("key"))
      .withColumn("fp", md5(concat_ws(" ", col("key"))))

  /** One row per DISTINCT set (fp, gid, key), representative array as a
    * first() VALUE (see jaccardJoin's shuffle-shape comment). */
  private[operators] def setGroups(toks: DataFrame): DataFrame =
    toks.groupBy(col("fp"))
      .agg(min(col("id")).as("gid"), first(col("key")).as("key"))

  /** df-rarest-first ranked token arrays (id, sorted, len) per distinct
    * set — the prefix path's shared state. */
  private[operators] def rankSets(sets: DataFrame,
                                  dfreq: DataFrame): DataFrame =
    sets.select(col("id"), explode(col("toks")).as("tok"))
      .join(dfreq, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("dfreq"), col("tok")))).as("rt"))
      .select(col("id"),
        transform(col("rt"), x => x.getField("tok")).as("sorted"),
        size(col("rt")).as("len"))

  /** Prefix-token postings (id, len, p, ptok): prefix length =
    * len - ceil(tau*len) + 1; p is the token's 1-based position in the
    * rarest-first array (the positional filter's input). Only
    * (id, len, p, ptok) flows through the candidate shuffle — the sorted
    * token arrays are the heavy payload and the prefix explode would
    * replicate them x plen; they re-attach to the DEDUPLICATED candidate
    * pairs by id-equijoin. */
  private[operators] def prefixPostings(tokRanks: DataFrame,
                                        tau: Double): DataFrame =
    tokRanks.withColumn("plen",
        (col("len") - ceil(col("len") * tau) + 1).cast("int"))
      .select(col("id"), col("len"),
        posexplode(slice(col("sorted"), lit(1), col("plen"))))
      .select(col("id"), col("len"), (col("pos") + 1).as("p"),
        col("col").as("ptok"))

  /** Deduplicated candidate id pairs from the prefix-token equijoin:
    * the size filter tau*|a| <= |b| <= |a|/tau rides the join condition,
    * and a PPJoin-style POSITIONAL filter prunes the survivors before
    * any token-array verification.
    *
    * Positional bound (admissible): token arrays are sorted by one
    * GLOBAL (dfreq, tok) order, so among a pair's shared-in-both-
    * prefixes tokens the globally rarest, t0, attains the minimal
    * position in BOTH arrays (i0 = min ia, j0 = min ib — the same
    * row). No shared token can precede t0 in either array: a rarer
    * shared token would sit at positions < (i0, j0) <= (plen_a,
    * plen_b), i.e. inside both prefixes, contradicting t0's
    * minimality. Hence overlap <= 1 + min(la - i0, lb - j0) =: ub, and
    * J = inter/(la+lb-inter) >= tau is monotone in inter, so a
    * qualifying pair needs ub/(la+lb-ub) >= tau. The filter keeps
    * ub >= (tau - 1e-9) * (la + lb - ub): the 1e-9 slack makes it
    * admissible against the verifier's OWN floating-point jaccard under
    * any ulp-level disagreement between the two expressions (and every
    * declared tau carries a measured >= 1e-6 boundary gap anyway — see
    * FIXTURES.md), so over-pruning is impossible while exact-boundary
    * pairs still pass to verification. (The cross-multiply-to-integers
    * rule does not apply here: tau is an arbitrary-double API
    * parameter with no declared rational form, and this filter never
    * decides OUTPUT membership — the exact jaccard verification does —
    * so the slack's only cost is passing a few boundary-hugging
    * candidates through to the verifier.)
    * Measured on the 3x stress corpus: candidates 116,558 -> 41,074
    * (the sub-threshold prefix-collision mass), zero qualifying pairs
    * lost (NgramStressProbe; PLANS.md stress table). */
  private[operators] def prefixCandidates(prefixed: DataFrame,
                                          tau: Double): DataFrame = {
    val ub = (lit(1) + least(col("la") - col("i0"), col("lb") - col("j0")))
      .cast("double")
    prefixed.as("a").join(prefixed.as("b"),
        col("a.ptok") === col("b.ptok") && col("a.id") < col("b.id") &&
          col("b.len") * tau <= col("a.len") && col("a.len") * tau <= col("b.len"))
      .select(col("a.id").as("ga"), col("b.id").as("gb"),
        col("a.len").as("la"), col("b.len").as("lb"),
        col("a.p").as("ia"), col("b.p").as("ib"))
      .groupBy(col("ga"), col("gb"))
      .agg(first(col("la")).as("la"), first(col("lb")).as("lb"),
        min(col("ia")).as("i0"), min(col("ib")).as("j0"))
      .filter(ub >= (col("la") + col("lb") - ub) * (tau - 1e-9))
      .select(col("ga"), col("gb"))
  }

  /** Expand qualifying (set, set) pairs to document pairs via two
    * gid-keyed equijoins against the (id, gid) assignment rows (no
    * per-pair math, no member arrays), union with intra-set pairs. */
  private def expandGroupPairs(intra: DataFrame, interSets: DataFrame,
                               assign: DataFrame): DataFrame = {
    val inter2 = interSets
      .join(assign.select(col("gid").as("ga"), col("id").as("ida")), "ga")
      .join(assign.select(col("gid").as("gb"), col("id").as("idb")), "gb")
      .select(least(col("ida"), col("idb")).as("rid"),
        greatest(col("ida"), col("idb")).as("sid"), col("jaccard"))
    intra.select(col("rid"), col("sid"), col("jaccard"))
      .union(inter2)
  }

  /** Connected components over an undirected near-dup edge list —
    * the step that turns pairwise near-duplicates into canonical dedup
    * clusters (keep one doc per component, drop the rest).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): converges
    * in O(log^2 n) rounds on any graph (2-3 rounds on the near-clique
    * components dedup actually produces), every round is two
    * groupBy+join shuffles over the EDGE list only — no adjacency
    * matrices, no driver-side graph state, so the shape survives
    * billion-edge inputs. Compare GraphX connectedComponents (Pregel,
    * O(diameter) rounds): star contraction is the better fit because
    * dedup graphs are shallow and edge-heavy.
    *
    * Returns (id, cluster) for EVERY vertex in `vertices`, where cluster
    * = min id reachable (isolated vertices map to themselves).
    *
    * Two physically different round engines, one algorithm:
    * - RDD rounds (edge count <= catalystCutover): an iterative algorithm
    *   rebuilds a fresh 6-stage Catalyst plan EVERY round — measured
    *   ~0.8 s/round of pure analysis/AQE/codegen overhead at any data
    *   size. RDD[(Long, Long)] rounds have zero per-round planning with
    *   the identical shuffle structure (the same reason GraphX is
    *   RDD-based).
    * - DataFrame rounds above the cutover: Tungsten shuffles Longs at
    *   ~16 bytes/edge vs Java-serialized Tuple2's ~3-5x — at billion-edge
    *   scale the constant planning overhead is noise and the columnar
    *   path wins. Each round cuts lineage through an explicitly persisted
    *   RDD (recomputable on executor loss — unlike localCheckpoint — and
    *   freed eagerly once superseded).
    * Both engines are deterministic and spec-checked label-identical. */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          vertices: DataFrame, maxIter: Int = 25,
                          catalystCutover: Long = 50000000L): DataFrame = {
    import spark.implicits._
    val ids = vertices.select(col(vertices.columns.head).cast("long").as("id"))
    // canonical big->small orientation, self-loops dropped (shared prep)
    val canon = edges
      .select(col(edges.columns(0)).cast("long").as("a"),
        col(edges.columns(1)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
    val canonRdd = canon.as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n0 = canonRdd.count()
    val labelsDf: DataFrame =
      if (n0 == 0) { canonRdd.unpersist(false); ids.limit(0).select(col("id"), col("id").as("cluster")) }
      else if (n0 <= catalystCutover) {
        // ---- RDD rounds: no per-round planning ----
        val parts = math.max(2, math.min(spark.sparkContext.defaultParallelism,
          (n0 / 500000L).toInt + 1))
        val part = new org.apache.spark.HashPartitioner(parts)
        // per-partition exact dedup of key-partitioned pairs: every copy
        // of (u, v) hashes to u's partition, so a local set sees them
        // all — the same result as .distinct(parts) at one shuffle less
        // (distinct hashes the PAIR: a second full shuffle that destroys
        // the key partitioning both downstream consumers want). Unlike
        // distinct's combiner the HashSet cannot spill; its size is
        // bounded by the edge count this branch admits (catalystCutover,
        // 50M by default), and larger graphs take the Catalyst rounds
        // below, whose distinct does spill
        def dedupByKey(r: org.apache.spark.rdd.RDD[(Long, Long)]) =
          r.partitionBy(part).mapPartitions({ it =>
            val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
            it.filter(seen.add)
          }, preservesPartitioning = true)
        var e = canonRdd.coalesce(parts)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        var prevCount = e.count()
        canonRdd.unpersist(false)
        var iter = 0
        var done = false
        while (!done && iter < maxIter) {
          // ROUND FUSION (guide §2.4 — shuffles per round: 6 -> 3): each
          // star's pairs are hash-partitioned by key ONCE; the min-reduce
          // is then a narrow local combine, the (pairs x mins) join is a
          // narrow co-partitioned cogroup, and the dedup is the local
          // set above — only bidir/large/next repartitionings shuffle.
          // large-star: every node links its LARGER neighbors to
          // m = min(N(u) ∪ {u})
          val bidir = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
            .partitionBy(part)
          // keys are unchanged, so preserving the partitioner is valid —
          // a plain .map would drop it and re-shuffle minsL in the join
          // (mapValues can't express min(u, mv): the value depends on u)
          val minsL = bidir.reduceByKey(part, math.min(_, _))
            .mapPartitions(_.map { case (u, mv) => (u, math.min(u, mv)) },
              preservesPartitioning = true)
          val large = dedupByKey(bidir.join(minsL, part)
            .flatMap { case (u, (v, m)) =>
              if (v > u && v != m) Iterator.single((v, m)) else Iterator.empty
            })
          // small-star: edges point big->small; every node links its
          // smaller neighbors AND itself to m = min(N(u) ∪ {u})
          val minsS = large.reduceByKey(part, math.min(_, _))
          val next = dedupByKey(large.join(minsS, part)
            .flatMap { case (u, (v, m)) => Iterator((v, m), (u, m)) }
            .filter { case (x, y) => x != y })
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nextCount = next.count()
          // fixpoint when the canonical edge set stops changing; both are
          // distinct sets, so equal cardinality + empty one-sided
          // difference == equality (count screens out most rounds
          // cheaply; an in-round changed-links accumulator was
          // considered and rejected — the subtract only runs on the
          // final round, so there is no per-round job to save)
          done = nextCount == prevCount && next.subtract(e, parts).isEmpty()
          e.unpersist(false)
          prevCount = nextCount
          e = next
          iter += 1
        }
        require(done, s"connectedComponents did not converge in $maxIter rounds")
        val labels = e.reduceByKey(math.min(_, _), parts)
        val out = spark.createDataset(labels).toDF("id", "cluster")
          .persistOnce()
        out.count()
        e.unpersist(false)
        out
      } else {
        // ---- DataFrame rounds: Tungsten shuffles for massive graphs ----
        def cut(df: DataFrame): (DataFrame,
            org.apache.spark.rdd.RDD[org.apache.spark.sql.Row], Long) = {
          val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = rdd.count()
          (spark.createDataFrame(rdd, df.schema), rdd, n)
        }
        // build the round-0 frame FROM the already-persisted canonical
        // RDD (the engine-selection count materialized it) — re-running
        // cut(canon) would pay the scan+distinct shuffle a second time
        var (e, eRdd, prevCount) = cut(
          spark.createDataset(canonRdd).toDF("u", "v"))
        canonRdd.unpersist(false)
        var iter = 0
        var done = false
        while (!done && iter < maxIter) {
          val bidir = e.select(col("u"), col("v"))
            .union(e.select(col("v").as("u"), col("u").as("v")))
          val minsL = bidir.groupBy(col("u")).agg(min(col("v")).as("mv"))
            .select(col("u"), least(col("u"), col("mv")).as("m"))
          val large = bidir.join(minsL, "u")
            .filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .filter(col("u") =!= col("v"))
            .distinct()
          val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
          val withM = large.join(minsS, "u")
          val (next, nextRdd, nextCount) = cut(
            withM.select(col("v").as("u"), col("m").as("v"))
              .union(withM.select(col("u"), col("m").as("v")))
              .filter(col("u") =!= col("v"))
              .distinct())
          done = nextCount == prevCount &&
            next.exceptAll(e).limit(1).count() == 0L
          // the superseded round's blocks are dead once the check ran
          eRdd.unpersist(false)
          prevCount = nextCount
          e = next
          eRdd = nextRdd
          iter += 1
        }
        require(done, s"connectedComponents did not converge in $maxIter rounds")
        val labels = e.groupBy(col("u")).agg(min(col("v")).as("cluster"))
          .select(col("u").as("id"), col("cluster"))
          .persistOnce()
        labels.count()
        eRdd.unpersist(false)
        labels
      }
    val out = ids.join(labelsDf, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val res = materializeAndFree(out, labelsDf)
    res
  }

  /** Murmur-style 64-bit mix (splitmix64) — deterministic, seedable. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def shingleHashes(text: String, shingleSize: Int): Array[Long] = {
    val toks = text.split(" ")
    if (toks.length < shingleSize) Array(mix64(text.hashCode.toLong))
    else Array.tabulate(toks.length - shingleSize + 1) { i =>
      var h = 0L
      var j = 0
      while (j < shingleSize) { h = mix64(h ^ toks(i + j).hashCode.toLong); j += 1 }
      h
    }.distinct
  }

  /** MinHash signature: per hash function i, min over shingles of
    * mix64(shingle ^ seed_i). */
  private def minhashSig(shingles: Array[Long], numHashes: Int, seed: Long): Array[Long] =
    Array.tabulate(numHashes) { i =>
      val si = mix64(seed + i)
      var m = Long.MaxValue
      var j = 0
      while (j < shingles.length) {
        val h = mix64(shingles(j) ^ si)
        if (h < m) m = h
        j += 1
      }
      m
    }

  /** MinHash + LSH near-duplicate pairs: signatures of `numHashes` hashes
    * split into `bands`; docs sharing any band bucket become candidates;
    * candidates verified with exact shingle Jaccard >= tau.
    * One shuffle on (band, bucketHash); no cartesian. */
  def minhashLsh(spark: SparkSession, docs: DataFrame, tau: Double,
                 numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
                 seed: Long = 42L,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val rows = bands
    val perBand = numHashes / bands
    val sigs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val sh = shingleHashes(text, shingleSize)
          (id, sh, minhashSig(sh, numHashes, seed))
        }
      }.toDF("id", "shingles", "sig")
      .persistOnce()
    // ids-only banding: the shingle arrays are the heavy payload, and the
    // band explode would replicate them x bands through the candidate
    // shuffle — only (id, band, bucket) flows there; shingles re-attach
    // to the DEDUPLICATED candidate pairs by id-equijoin (the same shape
    // embeddingNearDup uses)
    val banded = sigs.select(col("id"),
        posexplode(array((0 until rows).map { b =>
          struct(lit(b).as("band"),
            hash((0 until perBand).map(i => col("sig")(b * perBand + i)): _*)
              .as("bucket"))
        }: _*)))
      .select(col("id"), col("col.band").as("band"), col("col.bucket").as("bucket"))
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("rid"), col("b.id").as("sid"))
      .dropDuplicates("rid", "sid")
    val cands = candIds
      .join(sigs.select(col("id").as("rid"), col("shingles").as("sa")), "rid")
      .join(sigs.select(col("id").as("sid"), col("shingles").as("sb")), "sid")
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    materializeAndFree(
      cands
        .withColumn("jaccard", inter /
          (size(col("sa")) + size(col("sb")) - inter))
        .filter(col("jaccard") >= tau)
        .select(col("rid"), col("sid"), col("jaccard")),
      sigs)
  }

  /** First 64 bits of md5(utf8(s)) big-endian — bit-identical to DuckDB's
    * `('0x' || substr(md5(s),1,16))::UBIGINT`, which makes every signature
    * built on it oracle-checkable. */
  private def md5Bits64(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** 64-bit SimHash of the token multiset (md5-derived per-token bits).
    * Shared with the streaming near-dup operator so both compute
    * identical signatures. */
  private[graft] def simhash64(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new java.util.HashMap[String, Int]()
    text.split(" ").foreach(t => counts.merge(t, 1, _ + _))
    val acc = new Array[Int](64)
    counts.forEach { (tok, c) =>
      val h = md5Bits64(md, tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += c else acc(b) -= c
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dups: pairs with Hamming distance <= maxHamming.
    * Blocking: split 64 bits into maxHamming+1 bands — any qualifying pair
    * matches exactly on at least one band (pigeonhole), so the band
    * equijoin has perfect recall; verified with exact popcount. */
  def simhashDedup(spark: SparkSession, docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val nBands = maxHamming + 1
    val width = 64 / nBands
    // dedup-first: identical signatures collapse; all banding and Hamming
    // math runs on distinct signatures only, then expands back. The
    // (id, sim) assignment rows are the ONLY id-side state — never a
    // collected member array, so no single row scales with the largest
    // duplicate family (the pair OUTPUT is inherently m^2 per family;
    // the sim-keyed joins below at least stream it out distributed).
    val sigs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("id", "sim")
      .persistOnce()
    val groups = sigs.select(col("sim")).distinct()
      .persistOnce()
    val intra = sigs.as("a").join(sigs.as("b"),
        col("a.sim") === col("b.sim") && col("a.id") < col("b.id"))
      .select(col("a.id").as("rid"), col("b.id").as("sid"))
      .withColumn("hamming", lit(0))
    val banded = groups.select(col("sim"), explode(array(
      (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sim"), b * width)
            .bitwiseAND(lit(if (b == nBands - 1) -1L >>> (b * width) else (1L << width) - 1))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("sim"), col("bb.band"), col("bb.bucket"))
    val simPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.sim") < col("b.sim"))
      .select(col("a.sim").as("simA"), col("b.sim").as("simB"))
      .dropDuplicates("simA", "simB")
      .withColumn("hamming", bit_count(col("simA").bitwiseXOR(col("simB"))))
      .filter(col("hamming") <= maxHamming)
    val inter = simPairs
      .join(sigs.select(col("sim").as("simA"), col("id").as("ida")), "simA")
      .join(sigs.select(col("sim").as("simB"), col("id").as("idb")), "simB")
      .select(least(col("ida"), col("idb")).as("rid"),
        greatest(col("ida"), col("idb")).as("sid"), col("hamming"))
    materializeAndFree(
      intra.select(col("rid"), col("sid"), col("hamming")).union(inter),
      sigs, groups)
  }

  /** Embedding near-duplicates: random-hyperplane LSH buckets (sign
    * sketch over `planes` seeded hyperplanes, banded), candidates verified
    * with exact cosine >= tau.
    *
    * Scale shape: only (id, band, bucket) flows through the candidate
    * shuffle — vectors are attached to the deduplicated candidate set by
    * id-equijoins, so the banding explode never replicates payloads.
    *
    * Adaptive guard: sign-LSH only prunes when tau is high (band match
    * prob for a pair at angle a is (1 - a/pi)^width). When the bucket
    * histogram says the candidate volume is a large fraction of all
    * pairs (tau too loose for the data's angular gap), LSH degrades to
    * quadratic-with-overhead — so the operator falls back to the blocked
    * exact all-pairs join instead, whose output is a superset (complete),
    * never worse. Recall for scaled/exact duplicates in LSH mode is 1.0
    * by construction: cosine-equal vectors have identical sign sketches. */
  def embeddingNearDup(spark: SparkSession, embs: DataFrame, tau: Double,
                       planes: Int = 64, bands: Int = 8, seed: Long = 42L,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       maxCandidateFrac: Double = 0.25): DataFrame = {
    import spark.implicits._
    require(planes >= 1 && planes <= 64 && planes % bands == 0,
      s"planes=$planes must be in [1,64] and divisible by bands=$bands")
    val width = planes / bands
    val base = embs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dims = base.select(size(col("v"))).head().getInt(0)
    val rnd = new scala.util.Random(seed)
    val hyper = Array.fill(planes, dims)(rnd.nextGaussian())
    val hyperB = spark.sparkContext.broadcast(hyper)
    val sigs = base.as[(Long, Array[Double])]
      .map { case (id, v) =>
        val h = hyperB.value
        var sig = 0L
        var p = 0
        while (p < h.length) {
          var dot = 0.0
          var i = 0
          while (i < v.length) { dot += v(i) * h(p)(i); i += 1 }
          if (dot >= 0) sig |= (1L << p)
          p += 1
        }
        (id, v, sig)
      }.toDF("id", "v", "sig")
      .persistOnce()
    val banded = sigs.select(col("id"), explode(array(
      (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * width)
            .bitwiseAND(lit(if (width == 64) -1L else (1L << width) - 1)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    // candidate-volume estimate from the bucket histogram: sum n*(n-1)/2
    val stats = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)).cast("double").as("cand"),
        coalesce(sum(col("c")), lit(0L)).cast("double").as("nb"))
      .head()
    val candEst = stats.getDouble(0)
    val n = stats.getDouble(1) / bands
    if (candEst > maxCandidateFrac * n * (n - 1) / 2) {
      // LSH cannot prune at this tau on this data: exact blocked join.
      sigs.unpersist()
      return Ann.cosineAllPairsBlocked(spark, base, tau, idCol = "id", vecCol = "v")
    }
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("rid"), col("b.id").as("sid"))
      .dropDuplicates("rid", "sid")
    val vecs = sigs.select(col("id"), col("v"))
    val verified = cands
      .join(vecs.select(col("id").as("rid"), col("v").as("va")), "rid")
      .join(vecs.select(col("id").as("sid"), col("v").as("vb")), "sid")
      .select(col("rid"), col("va"), col("sid"), col("vb"))
      .as[(Long, Array[Double], Long, Array[Double])]
      .mapPartitions { it =>
        // primitive-loop verification: the candidate volume dwarfs the
        // match count, so per-candidate array-expression allocation is
        // the hot cost, not the dot product itself
        it.flatMap { case (rid, va, sid, vb) =>
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < va.length) {
            dot += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i)
            i += 1
          }
          val cos = dot / (math.sqrt(na) * math.sqrt(nb))
          if (cos >= tau) Some((rid, sid, cos)) else None
        }
      }.toDF("rid", "sid", "cosine")
    materializeAndFree(verified, sigs)
  }

  /** Semantic deduplication (the SemDeDup shape: cluster the embedding
    * space, then near-dup only WITHIN clusters): k-means with the
    * integer-exact Lloyd's arithmetic ([[Cluster.kmeans]] — assignments
    * replayable by the oracle), then exact within-cluster cosine pairs
    * at tau via [[Ann.cosinePairsWithinGroups]], then a deterministic
    * keep rule — a vector is dropped iff some LOWER-id vector in its
    * cluster is tau-close (order-free, direction-invariant: the pair
    * kernel is canonical lower-id-first). Output one row per vector:
    * (vec_id, cluster, kept 0/1).
    *
    * Scale shape: k grows ~N/clusterTarget so within-cluster work stays
    * bounded, and oversized clusters are sub-blocked by the pair kernel
    * (two ~4096-row blocks per task); cross-cluster near-dups are
    * deliberately NOT found — that recall trade IS the SemDeDup
    * contract (quadratic only within cells, never globally). */
  def semanticDedup(spark: SparkSession, embs: DataFrame, k: Int, iters: Int,
                    tau: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // keep the handle to the PERSISTED kmeans frame — a .select
    // projection cannot free the underlying corpus-width cache
    val km = Cluster.kmeans(spark, embs, k, iters, idCol = idCol, vecCol = vecCol)
    val assign = km.select(col("id"), col("cluster"))
    val base = embs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val withC = base.join(assign, "id").persistOnce()
    val pairs = Ann.cosinePairsWithinGroups(spark,
      withC.select(col("id"), col("v"), col("cluster").cast("long").as("grp")), tau)
    val dropped = pairs.select(col("sid").as("id")).distinct()
    val result = withC.select(col("id"), col("cluster"))
      .join(dropped.withColumn("hit", lit(1)), Seq("id"), "left_outer")
      .select(col("id").as("vec_id"),
        col("cluster").cast("long").as("cluster"),
        when(col("hit").isNull, 1L).otherwise(0L).as("kept"))
    // pairs comes back materialized from cosinePairsWithinGroups
    materializeAndFree(result, withC, pairs, km)
  }

  /** Near-dup representative selection — the "which document survives"
    * decision a dedup pass feeds the training mix: cluster the given
    * near-dup edges ([[connectedComponents]]) and keep the best-quality
    * member per cluster, ranked by (round(qualityScore, 6) DESC, id) —
    * the tokenBudget total-order convention, engine-exact because the
    * 6dp-rounded score is itself a hash-checked row (q_quality).
    * Singleton documents are their own keepers. Output:
    * (cluster, keeper, n_members, n_dropped).
    *
    * Shapes: CC's edge-list-only shuffles, one quality join, then ONE
    * hash aggregation — max_by(id, (score, -id)) picks the
    * (score DESC, id ASC) winner with map-side partial aggregation, so
    * no per-cluster window task exists at all: even a degenerate
    * all-duplicates corpus (one cluster = the whole corpus) reduces in
    * constant per-row state. (The previous rank+count window pair was
    * bounded by the largest family; this removes that bound entirely.) */
  /** CCNet-style paragraph-level exact deduplication (Wenzek et al.
    * 2019, public): split each document into newline-delimited
    * paragraphs, fingerprint each, keep only the globally FIRST
    * occurrence of every distinct paragraph (ordered by
    * (doc_id, position)), and reassemble each document from its
    * surviving paragraphs. This is the classic Common-Crawl boilerplate
    * killer — repeated nav/footer/subscribe paragraphs vanish corpus-wide
    * while each document keeps its unique prose.
    *
    * Scale shape: the first-occurrence winner is a hash-partial
    * `min(struct(doc_id, pno))` AGGREGATION on the fingerprint — never a
    * per-fingerprint window — so a boilerplate paragraph shared by
    * millions of documents costs one combiner cell per map task instead
    * of a single-task window funnel; the marker join back is a shuffled
    * (AQE-broadcastable) equijoin on the fingerprint, and reassembly is
    * a per-document hash aggregation over the paragraph count of ONE
    * document (bounded by the data model, the sessionize argument).
    * Output: (doc_id, clean_text, kept_paras, dropped_paras). */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val paras = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pno", "para")))
      .withColumn("fp", md5(col("para")))
    val firsts = paras.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("pno"))).as("first"))
    paras.join(firsts, "fp")
      .withColumn("keep",
        col("doc_id") === col("first.doc_id") && col("pno") === col("first.pno"))
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          filter(sort_array(collect_list(struct(col("pno"), col("keep"), col("para")))),
            r => r.getField("keep")),
          r => r.getField("para")), "\n").as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_paras"),
        sum(when(not(col("keep")), 1L).otherwise(0L)).as("dropped_paras"))
  }

  /** Deterministic multi-paragraph wrapper over the documents fixture:
    * the corpus text is single-line, so paragraph structure (shared
    * boilerplate at three duplication frequencies plus a per-document
    * unique trailer) derives from doc_id alone — replayed verbatim by
    * the q_para_dedup oracle CTE, one generated row per paragraph.
    * Every boilerplate word is OUTSIDE the corpus's closed 31-word
    * vocabulary, so no generated paragraph can collide with a
    * document's own text (and the generated paragraphs are mutually
    * distinct within a doc), making the first-occurrence tie-break
    * depend on doc_id alone — position numbering differences between
    * the engines are unreachable. Conditional paragraphs ride
    * `concat_ws`'s null-skipping. */
  def paraWrap(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(col("doc_id"), concat_ws("\n",
      col("text"),
      when(id % 3 === 0,
        lit("subscribe to our newsletter for weekly updates and news")),
      when(id % 4 === 1,
        concat(lit("all rights reserved contact support team "),
          (id % 5).cast("string"))),
      when(id % 7 === 2,
        concat(lit("popular in category "), (id % 11).cast("string"),
          lit(" read more stories"))),
      concat(lit("trailer note for document "), id.cast("string"))).as("text"))
  }

  /** @param clusters optionally a PRECOMPUTED [[connectedComponents]]
    *        labeling of exactly these (edges, docs) — callers that
    *        already hold the clustering (session memo, a pipeline's
    *        earlier stage) pass it so the contraction rounds do not run
    *        twice; semantics are identical by construction. When given,
    *        its lifecycle stays the caller's (not unpersisted here). */
  def keepBest(spark: SparkSession, docs: DataFrame, edges: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               clusters: Option[DataFrame] = None): DataFrame = {
    val cc = clusters.getOrElse(
      connectedComponents(spark, edges, docs.select(col(idCol))))
    val scored = docs.select(col(idCol).cast("long").as("id"),
      round(graft.functions.TextCols.qualityScore(col(textCol)), 6).as("score"))
    // struct lexicographic max: higher score wins, then higher -id
    // (= lower id) — exact ties only, the score is already 6dp-rounded
    val result = cc.join(scored, "id")
      .groupBy(col("cluster"))
      .agg(max_by(col("id"), struct(col("score"), -col("id"))).as("keeper"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("keeper"),
        col("n_members").cast("long").as("n_members"),
        (col("n_members") - 1).cast("long").as("n_dropped"))
    if (clusters.isDefined) {
      val r = result.persistOnce()
      r.count()
      r
    } else materializeAndFree(result, cc)
  }
}
