package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGEABLE per-batch profile artifacts — the incremental sibling of
  * [[TableProfiler.profile]].
  *
  * A 10^12-row table is never profiled from scratch per day: each ingest
  * batch is profiled ONCE (one scan, one agg row of mergeable partials),
  * the artifacts are persisted (they are KB-sized), and any span of
  * batches merges in milliseconds without touching raw data — the same
  * partial/merge contract Spark's own partial aggregation uses inside
  * one job, lifted to the artifact level so it works ACROSS jobs and
  * days. Distinct counts stay mergeable via Apache DataSketches HLL
  * (`hll_sketch_agg` binary sketches; union ≡ sketch of the union), the
  * rest are trivially mergeable scalars (sum/min/max) plus a fixed-edge
  * histogram (element-wise sum) that feeds the drift checks without a
  * baseline re-scan.
  *
  * Artifact schema (one row per batch): `batch`, `n`, per profiled
  * column `c`: `c__nulls`, `c__min`/`c__max` (NATIVE type — merged
  * before any string rendering, so numeric min/max never compare
  * lexicographically), `c__hll` (binary sketch), and `hist`
  * (array<long>, `floor(histCol / bucketWidth)` clamped to
  * `[0, nBuckets)`).
  */
object MergeableProfile {

  /** One mergeable profile row per value of `batchCol`. One hash
    * aggregation; partials combine map-side, the shuffle carries one
    * artifact row per (batch, task).
    */
  def batchProfile(df: DataFrame, batchCol: String, cols: Seq[String],
      histCol: String, bucketWidth: Double, nBuckets: Int,
      lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val bkt = least(greatest(floor(col(histCol) / bucketWidth), lit(0)),
      lit(nBuckets - 1)).cast("int")
    val colAggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        hll_sketch_agg(col(c), lit(lgK)).as(s"${c}__hll"))
    }
    val histAggs: Seq[Column] = (0 until nBuckets).map(i =>
      sum(when(col(histCol).isNotNull && bkt === i, 1L).otherwise(0L)).as(s"_h$i"))
    val aggs = count(lit(1)).as("n") +: (colAggs ++ histAggs)
    df.groupBy(col(batchCol).as("batch"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        Seq(col("batch"), col("n")) ++
        cols.flatMap(c => Seq(col(s"${c}__nulls"), col(s"${c}__min"),
          col(s"${c}__max"), col(s"${c}__hll"))) :+
        array((0 until nBuckets).map(i => col(s"_h$i")): _*).as("hist"): _*)
  }

  /** Merge profile rows (any subset of batches, or artifacts from
    * different runs) into ONE combined profile row. No raw data is
    * touched: sums/min/max over the artifact scalars, `hll_union_agg`
    * over the sketches, element-wise sum over the histograms.
    */
  def merge(profiles: DataFrame, cols: Seq[String], nBuckets: Int): DataFrame = {
    val colAggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        sum(col(s"${c}__nulls")).as(s"${c}__nulls"),
        min(col(s"${c}__min")).as(s"${c}__min"),
        max(col(s"${c}__max")).as(s"${c}__max"),
        hll_union_agg(col(s"${c}__hll"), lit(false)).as(s"${c}__hll"))
    }
    val histAggs: Seq[Column] = (0 until nBuckets).map(i =>
      sum(element_at(col("hist"), i + 1)).as(s"_h$i"))
    val aggs = sum(col("n")).as("n") +: (colAggs ++ histAggs)
    profiles.agg(aggs.head, aggs.tail: _*)
      .select(
        Seq(col("n")) ++
        cols.flatMap(c => Seq(col(s"${c}__nulls"), col(s"${c}__min"),
          col(s"${c}__max"), col(s"${c}__hll"))) :+
        array((0 until nBuckets).map(i => col(s"_h$i")): _*).as("hist"): _*)
  }

  /** Render a (merged) profile row to the long
    * `(column, n, n_null, null_rate, min, max, approx_distinct)` format
    * of [[TableProfiler.profile]] — min/max string-cast only HERE, after
    * all native-typed merging; distinct read out of the sketch.
    */
  def estimates(profile: DataFrame, cols: Seq[String]): DataFrame = {
    val stacked = cols.map { c =>
      struct(
        lit(c).as("column"),
        col("n").as("n"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__min").cast("string").as("min"),
        col(s"${c}__max").cast("string").as("max"),
        hll_sketch_estimate(col(s"${c}__hll")).as("approx_distinct"))
    }
    TableProfiler.longFormat(profile, stacked)
  }

  /** A profile row's histogram as `(bucket, n)` rows — the observed-side
    * input shape of [[Checks.drift]].
    */
  def histObserved(profile: DataFrame): DataFrame =
    profile.select(posexplode(col("hist")).as(Seq("bucket", "n")))
      .select(col("bucket").cast("long").as("bucket"), col("n"))

  /** A profile row's histogram as the `(bucket, p)` baseline shape of
    * [[Checks.drift]].
    */
  def histBaseline(profile: DataFrame): DataFrame = {
    val rows = histObserved(profile)
    val total = rows.agg(sum(col("n")).cast("double").as("t"))
    rows.crossJoin(broadcast(total))
      .select(col("bucket"), (col("n") / col("t")).as("p"))
  }

  /** KL/PSI drift between two profile ARTIFACTS — no raw-data scan on
    * either side: the production drift check compares today's batch
    * artifact against a merged historical baseline artifact.
    */
  def driftFromProfiles(baseline: DataFrame, current: DataFrame,
      eps: Double = 1e-6): DataFrame =
    Checks.drift(histObserved(current), histBaseline(baseline), eps)
}
