package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded document corpus `(doc_id, text, source)` for assemble_docs,
  * with the lanes of `SoakBench.corpus` plus `AssemblyPipeline.main`'s
  * source and junk columns, and the seed mixed into every word hash:
  *  - exact duplicates: ids ≡ 0 (mod 16) copy id+1's text;
  *  - near duplicates: ids ≡ 2 (mod 16) copy id+1's text but its last word;
  *  - boilerplate: ids ≡ 0 (mod 10007) share one fixed text;
  *  - junk: ids ≡ 3 (mod 4001) repeat one unique word 24 times, which
  *    only the repetition ceiling of the quality gate drops.
  * Words are `tok<k>` for k a hash of (text id, position, seed) into a
  * pool of `poolSize` words.
  */
object DocCorpus {
  val JunkMod = 4001L
  val BoilerMod = 10007L
  val Words = 24

  def generate(spark: SparkSession, rows: Long, seed: Long, poolSize: Int = 65521): DataFrame = {
    val id = col("id")
    val base = when(pmod(id, lit(16)).isin(0, 2), id + 1).otherwise(id)
    val words = (0 until Words).map { j =>
      val salt =
        if (j == Words - 1) when(pmod(id, lit(16)) === 2, lit(j + 1000)).otherwise(lit(j))
        else lit(j)
      concat(lit("tok"), pmod(xxhash64(col("_base"), salt, lit(seed)), lit(poolSize.toLong)))
    }
    val boiler = (0 until Words).map(j => s"tok${j * 7 % poolSize}").mkString(" ")
    spark.range(rows).withColumn("_base", base).select(
      concat(lit("d"), id.cast("string")).as("doc_id"),
      when(pmod(id, lit(JunkMod)) === 3,
        array_join(array_repeat(concat(lit("j"), id.cast("string")), Words), " "))
        .when(pmod(id, lit(BoilerMod)) === 0, lit(boiler))
        .otherwise(concat_ws(" ", words: _*)).as("text"),
      concat(lit("src"), pmod(id, lit(10L)).cast("string")).as("source"))
  }

  /** Junk-lane size: ids ≡ 3 (mod JunkMod) below `rows`. */
  def junkCount(rows: Long): Long = if (rows > 3) (rows - 4) / JunkMod + 1 else 0L
}
