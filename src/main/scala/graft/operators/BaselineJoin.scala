package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** Brute-force all-pairs EMD self-join — the testing oracle, mirroring the
  * reference's BSP broadcast baseline (bsp/BaselineBSP.java:122-459): every
  * pair is evaluated through the same filter cascade, no grid pruning.
  * Used to validate MelodyJoin result-set equality (the reference's four
  * engines being answer-equivalent is the core invariant). */
object BaselineJoin {

  def thresholdJoin(spark: SparkSession, hists: DataFrame, theta: Double,
                    cfg: MelodyJoin.Config): DataFrame = {
    import spark.implicits._
    val duals = MelodyJoin.buildDuals(spark, hists, cfg)
    val cascadeB = spark.sparkContext.broadcast(new MelodyJoin.Cascade(cfg, duals))
    val left = hists.select(col("id").as("rid"), col("weights").as("wa"))
    val right = hists.select(col("id").as("sid"), col("weights").as("wb"))
    left.crossJoin(right)
      .filter(col("rid") < col("sid"))
      .as[(Long, Array[Double], Long, Array[Double])]
      .mapPartitions { it =>
        val casc = cascadeB.value
        it.flatMap { case (a, wa0, b, wb0) =>
          val wa = HistOps.normalize(wa0)
          val wb = HistOps.normalize(wb0)
          val emd = casc.emdIfCandidate(wa, wb, theta)
          if (emd >= 0) Some((a, b, emd)) else None
        }
      }.toDF("rid", "sid", "dist")
  }

  def topKJoin(spark: SparkSession, hists: DataFrame, k: Int,
               cfg: MelodyJoin.Config): DataFrame = {
    // every pair, ranked as every other top-k engine ranks
    EmdTopK.rank(thresholdJoin(spark, hists, Double.MaxValue / 4, cfg), k)
  }
}
