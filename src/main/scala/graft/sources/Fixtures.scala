package graft.sources

import graft.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Histogram derivation from the driver-generated TPC-H-ish parquet tables.
  *
  * The reference engine consumes external histogram text files
  * (/root/reference README.md:24-31); this rebuild derives equivalent
  * histogram datasets from `/root/testdata` parquet so every query has a
  * DuckDB-checkable input. The canonical derivation (used by the declared
  * queries AND their oracle SQL, so both sides see identical data):
  *
  *   quantity histograms: one record per l_partkey; weights = normalized
  *   counts of l_quantity binned into `NumBins` equal-width bins over
  *   [1, 50]; 1-D bin positions are the integers 0..NumBins-1.
  *
  * All derivations are single-shuffle groupBy aggregations with
  * whole-stage-codegen expressions only (no UDFs), so at 100 TB they scan
  * parquet once with column pruning (only the 2 needed columns are read).
  */
object Fixtures {
  val NumBins = 8
  val QMin = 1.0
  val QMax = 50.0
  val BinWidth: Double = (QMax - QMin + 1.0) / NumBins // 6.25

  /** Bin index of a quantity value: floor((q - 1) / 6.25) clamped to [0, 7]. */
  def quantityBin(q: Column): Column =
    least(greatest(floor((q - lit(QMin)) / lit(BinWidth)).cast("int"), lit(0)),
      lit(NumBins - 1))

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")

  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")

  def customer(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** events.parquet's `ts` column has drifted across testdata generations
    * through three distinct parquet encodings, each surfacing as a
    * different Spark 4 type:
    *
    *   1. TIMESTAMP(NANOS): rejected by default; with
    *      spark.sql.legacy.parquet.nanosAsLong it surfaces as LongType
    *      (raw nanos). Convert via integer division `ts DIV 1000` — a
    *      double roundtrip would lose precision at 2024-epoch nanos.
    *   2. TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
    *      TimestampNTZType (inferTimestampNTZ defaults true). Cast to
    *      TIMESTAMP — value-preserving only under a UTC session timezone,
    *      which we pin here so downstream unix_micros(ts) arithmetic
    *      matches DuckDB's naive epoch_us(ts) exactly.
    *   3. TIMESTAMP(MICROS, isAdjustedToUTC=true): surfaces as
    *      TimestampType natively; pass through.
    *
    * Dispatch on the surfaced type so all three generations load; the
    * normalized column is always TimestampType in UTC micros. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Long-format histograms: (id, bin, w) with dense bins and normalized
    * weights (sum to 1 per id). Deterministic; zero bins included. */
  def quantityHistLong(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_partkey").as("id"), quantityBin(col("l_quantity")).as("bin"))
    // ids and totals derive from the aggregated counts (not the raw scan),
    // so Catalyst reuses one parquet scan + one exchange across all three
    // branches instead of re-reading lineitem per branch
    val counts = li.groupBy(col("id"), col("bin")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("id")).agg(sum(col("c")).as("total"))
    val bins = spark.range(NumBins).select(col("id").cast("int").as("bin"))
    totals.crossJoin(bins)
      .join(counts, Seq("id", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .select(col("id"), col("bin"), (col("c").cast("double") / col("total")).as("w"))
  }

  /** Session-scoped memo of the derived histogram tables: ~8 declared
    * queries consume the same (id, weights) inputs, and re-deriving the
    * scan+aggregate per query dominated their wall-clock. One histogram
    * row per key (8 doubles) is ~100 bytes — at 100 TB scale the derived
    * table is GBs against a cluster's aggregate cache, the textbook
    * persist case. Keyed by (session, dir, kind) so tests with their own
    * sessions/dirs don't cross-contaminate. Caveat: results are cached
    * for the life of the session — if the parquet under `dir` is
    * REWRITTEN within a session, the memo serves the pre-rewrite
    * derivation (matching Spark's own persist semantics; use a fresh
    * session, or SparkEntry.clearSessionCaches, to re-read). */
  private val histMemo = new SessionMemo[(String, String), DataFrame](_.unpersist(false))

  private def cached(spark: SparkSession, dir: String, kind: String)
                    (build: => DataFrame): DataFrame =
    histMemo(spark, (dir, kind))(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Wide-format histograms: (id, weights ARRAY<DOUBLE>[NumBins]),
    * L1-normalized. One scan + one shuffle; all-codegen. */
  def quantityHists(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "quantity") {
      val li = lineitem(spark, dir)
        .select(col("l_partkey").as("id"), quantityBin(col("l_quantity")).as("bin"))
      val countCols = (0 until NumBins).map(b =>
        sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
      val agged = li.groupBy(col("id")).agg(countCols.head, countCols.tail: _*)
      val total = (0 until NumBins).map(b => col(s"c$b")).reduce(_ + _).cast("double")
      val weights = array((0 until NumBins).map(b => col(s"c$b").cast("double") / total): _*)
      agged.select(col("id"), weights.as("weights"))
    }

  /** 3-D histograms for the exact-EMD engines: per l_partkey, 2x2x2 = 8
    * corner bins of the unit cube over (quantity, extendedprice, discount),
    * each coordinate split at a fixed pivot. Bin locations: corners of
    * [0,1]^3, row-major bit order (qbit*4 + pbit*2 + dbit). */
  val Bins3d: Array[Double] = Array(
    0, 0, 0, 0, 0, 1, 0, 1, 0, 0, 1, 1,
    1, 0, 0, 1, 0, 1, 1, 1, 0, 1, 1, 1)
  val Dim3 = 3

  /** Integer-count form of [[tripleHists]]: (id, c0..c7, t) with
    * c_k = lineitem rows of the part in cube-corner bin k and
    * t = their total. The exact-EMD oracle path works on these raw
    * counts (scaled integer arithmetic, [[graft.core.CubeKR]]); the
    * engines consume the normalized [[tripleHists]] weights derived
    * from the same derivation. Same single-scan groupBy shape. */
  def tripleCounts(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "tripleCounts") {
      val li = lineitem(spark, dir)
      val qbit = (col("l_quantity") > 25.0).cast("int")
      val pbit = (col("l_extendedprice") > 30000.0).cast("int")
      val dbit = (col("l_discount") > 0.05).cast("int")
      val bin = (qbit * 4 + pbit * 2 + dbit).as("bin")
      val binned = li.select(col("l_partkey").as("id"), bin)
      val countCols = (0 until 8).map(b =>
        sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b")) :+
        count(lit(1)).as("t")
      binned.groupBy(col("id")).agg(countCols.head, countCols.tail: _*)
    }

  def tripleHists(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "triple") {
      val li = lineitem(spark, dir)
      val qbit = (col("l_quantity") > 25.0).cast("int")
      val pbit = (col("l_extendedprice") > 30000.0).cast("int")
      val dbit = (col("l_discount") > 0.05).cast("int")
      val bin = (qbit * 4 + pbit * 2 + dbit).as("bin")
      val binned = li.select(col("l_partkey").as("id"), bin)
      val countCols = (0 until 8).map(b =>
        sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
      val agged = binned.groupBy(col("id")).agg(countCols.head, countCols.tail: _*)
      val total = (0 until 8).map(b => col(s"c$b")).reduce(_ + _).cast("double")
      val weights = array((0 until 8).map(b => col(s"c$b").cast("double") / total): _*)
      agged.select(col("id"), weights.as("weights"))
    }
}
