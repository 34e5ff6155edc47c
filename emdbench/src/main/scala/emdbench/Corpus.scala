package emdbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generator. The engines only ever see what it writes: a
  * lineitem parquet table, the source the histogram fixtures derive from. */
object Corpus {

  /** A lineitem table with the four columns the histogram fixtures read,
    * drawn as the repository's sf0.1 test data is distributed: each line
    * draws its part uniformly from `parts` (so a part has Poisson(30)
    * lines), its quantity uniformly from 1..50, its price uniformly from
    * [900, 105000) in cents, independent of the quantity, and its discount
    * as round(10 u) / 100, so 0.00 and 0.10 are half as likely as the
    * other cents. Spark's seeded `rand` is deterministic for a fixed slice
    * count, which is pinned. */
  def writeLineitem(spark: SparkSession, dir: Path, parts: Int,
                    linesPerPart: Int, seed: Long): Unit = {
    spark.range(0L, parts.toLong * linesPerPart, 1L, 4)
      .select((floor(rand(seed) * parts) + 1).cast("long").as("l_partkey"),
        (floor(rand(seed + 1) * 50) + 1).cast("double").as("l_quantity"),
        (round(rand(seed + 2) * 10) / 100.0).as("l_discount"),
        (floor(rand(seed + 3) * 10410000.0 + 90000.0) / 100.0).as("l_extendedprice"))
      .write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
  }
}
