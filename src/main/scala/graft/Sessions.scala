package graft

import org.apache.spark.sql.SparkSession

/** The one session builder the mains share (Bench, Verify, Join, Diag).
  *
  * `local[N]` with N shuffle partitions, where N is `SPARK_GRAFT_CPUS`
  * or, unset, every core the JVM sees. The session time zone is pinned
  * to UTC: Fixtures.events reads TIMESTAMP_NTZ parquet as a timestamp,
  * which is valid only under a UTC session. */
object Sessions {
  def local(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
