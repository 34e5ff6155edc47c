package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check.py`).
  *
  * Usage: Verify <sfDir> <outDir> [query...] — with query names, only
  * those rows and their oracle SQL are written (the fast loop while
  * iterating on one oracle). The 3-D witness crosscheck always runs
  * here: it is the only correctness evidence those rows carry. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql =>
      s"${q(n)}: ${q(sql)}")).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
