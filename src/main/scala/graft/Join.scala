package graft

import org.apache.spark.sql.SparkSession

/** Drop-in CLI parity with the reference's entry point: `graft.Join
  * <conf.properties path>` reads the reference's own
  * `melody-conf.properties` key set — engine selector, join type,
  * thresholds/k, grid/vector/interval knobs AND the four data paths —
  * and runs the selected engine over reference-format text inputs,
  * writing the reference's "rid sid dist" output lines.
  *
  * Reference behavior: Join.java:14-136 (single properties-path arg,
  * the exact usage / missing-file messages, dispatch on mr.method.name
  * in {melody, mrsim, bspmelody, bspb} x melody.join.type in
  * {distance, topk}); path keys are ConfUtils.java:19-22
  * (data.input.hdfs.path, data.bin.hdfs.path,
  * melody.project.vector.hdfs.path, data.output.hdfs.path). Everything
  * after the path plumbing delegates to [[graft.api.MelodyCompat]] —
  * one parser, one dispatch table, shared with the library surface.
  *
  * Deliberate differences from the reference, all Spark-model driven:
  * `parallel.task.number` (Hadoop/Hama slot count) does not configure a
  * session the cluster manager owns — a spark-submit deployment sets
  * executors/cores itself; the local CLI honors SPARK_GRAFT_CPUS. And
  * `dependency.math.hdfs.path` (the reference ships commons-math3 to
  * workers for its LP solver) has no analog: the exact solvers are
  * in-repo ([[graft.core.Emd]]). */
object Join {

  /** Testable core: load the properties file, resolve the four path
    * keys, run the configured engine, write text output. Returns the
    * output path. Separated from `main` so specs can drive it with
    * their own session (main owns session lifecycle). */
  def execute(spark: SparkSession, confPath: String): String = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(confPath)
    try props.load(in) finally in.close()
    def req(key: String): String = {
      val v = props.getProperty(key, "").trim
      require(v.nonEmpty, s"$confPath: required property '$key' is empty " +
        "(the reference's conf comment: 'all parameters shall be filled')")
      v
    }
    val input = req("data.input.hdfs.path")
    val bins = req("data.bin.hdfs.path")
    val vectors = req("melody.project.vector.hdfs.path")
    val output = req("data.output.hdfs.path")
    graft.api.MelodyCompat.runToText(spark, input, bins, vectors, props, output)
    output
  }

  def main(args: Array[String]): Unit = {
    // arg contract and messages mirror Join.java:15-22
    if (args.length != 1) {
      println("USAGE: <conf.properties path>")
      return
    }
    if (!new java.io.File(args(0)).exists()) {
      println("cannot find the specified .properties file")
      return
    }
    val spark = Sessions.local()
    try {
      val out = execute(spark, args(0))
      println(s"graft.Join: results written to $out")
    } finally {
      spark.stop()
    }
  }
}
