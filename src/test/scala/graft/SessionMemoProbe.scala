package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM half of [[SessionMemoSpec]]: the checks that stop a session
  * or clear the shared plan cache, which a suite sharing its JVM's
  * SparkContext with other suites must not do. Prints `PROBE OK` and
  * exits 0, or prints `PROBE FAIL <reason>` and exits 1. */
object SessionMemoProbe {
  private def session(): SparkSession = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    try {
      run()
      println("PROBE OK")
      sys.exit(0)
    } catch {
      case t: Throwable =>
        println(s"PROBE FAIL $t")
        sys.exit(1)
    }
  }

  private def run(): Unit = {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def memo() = new SessionMemo[String, String](v => released.synchronized(released += v))
    val (m1, m2) = (memo(), memo())
    val s1 = session()
    s1.sparkContext.setLogLevel("ERROR")
    val s2 = s1.newSession()
    for (m <- Seq(m1, m2); (s, tag) <- Seq((s1, "s1"), (s2, "s2")))
      m(s, "k")(s"$tag-${m.hashCode}")
    // a persisted frame: clearSessionCaches also empties the plan cache
    val frame = s1.range(10).toDF().persist()
    frame.count()
    require(frame.storageLevel.useMemory, "frame not cached")

    SparkEntry.clearSessionCaches(s1)
    require(released.toSet == Set(s"s1-${m1.hashCode}", s"s1-${m2.hashCode}"),
      s"released $released")
    for (m <- Seq(m1, m2)) {
      require(m(s1, "k")("rebuilt") == "rebuilt", "s1 entry survived the clear")
      require(m(s2, "k")(sys.error("s2 entry rebuilt")) == s"s2-${m.hashCode}")
    }
    require(!frame.storageLevel.useMemory, "plan cache not cleared")

    released.clear()
    s1.stop() // stops s2 as well: they share one SparkContext
    val s3 = session()
    require(m1(s3, "k")("s3") == "s3")
    require(released.toSet == Set("rebuilt", s"s2-${m1.hashCode}"), s"released $released")
    require(m1(s2, "k")("fresh") == "fresh", "stopped session's entry survived")
    s3.stop()
  }
}
