package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throwaway per-engine timing of the q_engine_equiv audit slice (not a
  * test): which of the four engines carries the row's wall time.
  * Run: `Test/runMain graft.operators.EquivProbe`. */
object EquivProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    val theta = graft.SparkEntry.Theta
    val cfg = graft.SparkEntry.melodyCfg1d
    // warmup JIT on an unrelated query
    graft.SparkEntry.queries("q1_agg")(spark, dir).count()
    for (round <- 1 to 2) {
      val all = graft.sources.Fixtures.quantityHists(spark, dir)
      val ids = all.select(col("id")).distinct().orderBy(col("id")).limit(512)
      val t00 = System.nanoTime()
      val hists = all.join(broadcast(ids), "id")
        .coalesce(if (round == 2) 4 else 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      hists.count()
      println(f"EQUIV r$round slice   ${(System.nanoTime() - t00) / 1e9}%6.2f s")
      def time(tag: String)(f: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        val n = f.count()
        println(f"EQUIV r$round $tag%-8s ${(System.nanoTime() - t0) / 1e9}%6.2f s rows=$n")
      }
      time("closed") { EmdJoins.emd1dThresholdJoin(hists, theta) }
      time("melody") { MelodyJoin.thresholdJoin(spark, hists, theta, cfg) }
      time("mrsim") { MrSimJoin.thresholdJoin(spark, hists, theta, cfg) }
      time("baseline") { BaselineJoin.thresholdJoin(spark, hists, theta, cfg) }
      hists.unpersist(false)
      graft.SparkEntry.clearSessionCaches(spark)
    }
    spark.stop()
  }
}
