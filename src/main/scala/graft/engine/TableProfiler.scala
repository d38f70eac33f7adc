package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics in a single distributed pass.
  *
  * All statistics for all columns are computed in ONE aggregation
  * (Catalyst runs partial aggregates map-side and merges — the
  * treeAggregate-style partial merge of the north star), then reshaped to
  * long format. Distinct counts use HyperLogLog++
  * (`approx_count_distinct`), whose sketches merge across partitions.
  */
object TableProfiler {

  /** `(column, n, n_null, null_rate, min, max, approx_distinct)` — one row
    * per atomic column.
    */
  def profile(df: DataFrame, relSd: Double = 0.05): DataFrame = {
    val atomic = df.schema.fields.filter(f => isAtomic(f.dataType))
    require(atomic.nonEmpty, "no atomic columns to profile")
    val aggs: Seq[Column] = count(lit(1)).as("_n") +: atomic.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max"),
        approx_count_distinct(c, relSd).as(s"${f.name}__dist"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // reshape the single wide row to long format with a stack() generator
    val stacked = atomic.map { f =>
      struct(
        lit(f.name).as("column"),
        col("_n").as("n"),
        col(s"${f.name}__nulls").as("n_null"),
        col(s"${f.name}__min").as("min"),
        col(s"${f.name}__max").as("max"),
        col(s"${f.name}__dist").as("approx_distinct"))
    }
    wide.select(explode(array(stacked: _*)).as("s"))
      .select(
        col("s.column").as("column"),
        col("s.n").as("n"),
        col("s.n_null").as("n_null"),
        round(col("s.n_null") / col("s.n"), 6).as("null_rate"),
        col("s.min").as("min"),
        col("s.max").as("max"),
        col("s.approx_distinct").as("approx_distinct"))
  }

  /** Grouped quantiles of a numeric column (linear interpolation at
    * index p·(n−1) — the quantile_cont definition, so results are
    * oracle-comparable bit-for-bit after rounding).
    *
    * Uses EXACT `percentile`: its aggregation buffer is a counts-map
    * over DISTINCT values, so memory is O(value domain) per group — the
    * right tool for bounded-domain columns (`n_tok`, `n_chars`: a few
    * thousand distinct values no matter how many rows). For unbounded
    * continuous domains use `approxQuantiles` below (t-digest-style
    * bounded sketch, mergeable across partitions) — asserted within
    * tolerance of the exact path by StatsAggregatorSpec.
    */
  def quantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[Double]): DataFrame = {
    val pArr = array(ps.map(lit): _*)
    val q = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(col(valueCol), pArr).as("_q"))
    val qCols = ps.zipWithIndex.map { case (p, i) =>
      round(element_at(col("_q"), i + 1), 6).as(s"p${(p * 100).round}")
    }
    q.select(groupCols.map(col) ++ qCols: _*)
  }

  /** Sketch-based grouped quantiles: `approx_percentile` with bounded
    * accuracy parameter — O(1/accuracy) memory per group regardless of
    * the value domain; the 10^12-row path for continuous columns.
    */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val pArr = array(ps.map(lit): _*)
    val q = df.groupBy(groupCols.map(col): _*)
      .agg(approx_percentile(col(valueCol), pArr, lit(accuracy)).as("_q"))
    val qCols = ps.zipWithIndex.map { case (p, i) =>
      element_at(col("_q"), i + 1).cast("double").as(s"p${(p * 100).round}")
    }
    q.select(groupCols.map(col) ++ qCols: _*)
  }

  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: StructType | _: MapType | BinaryType => false
    case _                                                      => true
  }
}
