package graft.streaming

import graft.engine.ValidationEngine
import graft.spec.SchemaSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured-Streaming forms of the validation engine.
  *
  * The fused constraint projection is stateless, so
  * [[ValidationEngine.annotate]] applies to a streaming DataFrame
  * unchanged (readStream → annotate → writeStream). What streams add is
  * state: watermarked windowed violation rollups and exact streaming
  * dedup, both below.
  */
object StreamingValidation {

  /** Windowed per-constraint violation counts with a watermark: emits
    * `(window, constraint_id, n)` per event-time window, late data beyond
    * the watermark dropped. Output mode: update/append per sink choice.
    */
  def violationCountsByWindow(stream: DataFrame, spec: SchemaSpec,
      timeCol: String, windowDur: String, watermarkDelay: String): DataFrame =
    ValidationEngine.annotate(stream, spec)
      .withWatermark(timeCol, watermarkDelay)
      .where(!col(ValidationEngine.PassCol))
      .select(col(timeCol), explode(col(ValidationEngine.ViolationsCol)).as("v"))
      .groupBy(window(col(timeCol), windowDur), col("v.constraint_id").as("constraint_id"))
      .agg(count(lit(1)).as("n"))

  /** Exact streaming dedup on a key within the watermark horizon —
    * Spark's stateful dropDuplicates keeps one state entry per key until
    * the watermark passes (bounded state; the streaming analog of the
    * batch uniqueness check).
    */
  def dedupStream(stream: DataFrame, keyCol: String,
      timeCol: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming near-duplicate INGEST — the daily-ingest loop as a
    * continuous query. Per micro-batch: probe the materialized minhash
    * band index ([[graft.ops.Dedup.minhashIncrementalPairs]]) for
    * near-dups of the arriving docs against EVERYTHING ACCEPTED SO FAR
    * and within the batch, drop the non-survivors, fold the survivors'
    * bands into the index ([[graft.ops.Dedup.minhashAppendIndex]]), and
    * hand `(accepted, dropped, batchId)` to `sink`. A doc is dropped if
    * a near-dup partner is already in the corpus (the corpus is
    * immutable, so old wins regardless of key order) or is a
    * smaller-keyed doc of the same batch — greedy first-accepted-wins,
    * the standard online-dedup policy (an offline pipeline wanting
    * cluster-canonical survivors runs connectedComponents + canonical
    * instead). Keys are assumed globally unique across the stream.
    *
    * State story: the QUERY carries zero state-store state (asserted by
    * StreamingValidationSpec) — the index on storage IS the state, it
    * grows only with accepted docs, and each batch reads only its
    * partition-pruned band buckets, never the corpus. The micro-batch
    * and the drop-list are localCheckpoint'd so (a) the source batch is
    * scanned once across probe/filter/append, and (b) nothing re-reads
    * the index AFTER the append (a lazy plan would otherwise see its
    * own batch's bands and self-flag); every block the closure pins is
    * freed before it returns, so executor storage does not grow with
    * stream lifetime.
    */
  def dedupIngestStream(stream: DataFrame, keyCol: String, textCol: String,
      indexPath: String, k: Int = 8, rowsPerBand: Int = 2,
      maxBucket: Int = 2000, nPartBuckets: Int = 256)(
      sink: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ops.Dedup
      val spark = batch.sparkSession
      val sc = spark.sparkContext
      val pinnedBefore = sc.getPersistentRDDs.keySet
      try {
        val b = batch.localCheckpoint()
        val pairs =
          if (indexNonEmpty(spark, indexPath))
            Dedup.minhashIncrementalPairs(spark, indexPath, b, keyCol, textCol,
              k, rowsPerBand, maxBucket, nPartBuckets)
          else // first batch bootstraps the index: within-batch pairs only
            Dedup.minhashCandidatePairs(
              Dedup.minhashSignature(b, keyCol, textCol, k), keyCol, k,
              rowsPerBand, maxBucket)
        val keys = b.select(col(keyCol).as("_k")).distinct()
        // (doc, partner) in both orientations, restricted to batch docs
        val cand = pairs.select(col("a").as("_x"), col("b").as("_y"))
          .union(pairs.select(col("b").as("_x"), col("a").as("_y")))
          .join(keys.withColumnRenamed("_k", "_x"), Seq("_x"), "left_semi")
        val dropIds = cand
          .join(keys.select(col("_k").as("_y"), lit(true).as("_pn")), Seq("_y"), "left")
          .where(col("_pn").isNull || col("_y") < col("_x"))
          .select(col("_x").as(keyCol)).distinct()
          .localCheckpoint() // materialized BEFORE the index append below
        val accepted = b.join(dropIds, Seq(keyCol), "left_anti")
        val dropped = b.join(dropIds, Seq(keyCol), "left_semi")
        Dedup.minhashAppendIndex(accepted, keyCol, textCol, indexPath, k,
          rowsPerBand, nPartBuckets)
        sink(accepted, dropped, batchId)
      } finally {
        (sc.getPersistentRDDs.keySet -- pinnedBefore)
          .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      }
    }

  /** Streaming segment (line) dedup ingest — cross-dump line dedup as a
    * continuous query: per micro-batch, rewrite the arriving docs
    * dropping every segment the accepted corpus already holds
    * ([[graft.ops.Dedup.segmentIncrementalRewrite]] — old wins) plus
    * batch-internal repeats, then fold the batch's segment vocabulary
    * into the index so the next batch sees it. `sink` receives the
    * rewritten docs `(key, text, n_segments, n_kept)` per batch. Same
    * state story as [[dedupIngestStream]]: the query holds zero
    * state-store state — the segment index on storage is the state —
    * and every pinned block is freed before the closure returns. The
    * first batch (no index yet) dedups within itself and bootstraps the
    * index. The append re-adds fingerprints whose content was already
    * indexed (the index is a SET with duplicates tolerated — probes are
    * existence checks), bounded by one copy per batch containing the
    * segment.
    *
    * Replay story (foreachBatch is AT-LEAST-ONCE): every append is
    * stamped with the batch id and the probe reads only `bid <
    * batchId`, so a batch replayed after its own append committed
    * neither self-flags its segments as old nor corrupts the index —
    * the replayed run reproduces the original output and its re-append
    * is an inert duplicate (asserted by StreamingValidationSpec's
    * replay case).
    */
  def segmentIngestStream(stream: DataFrame, keyCol: String, textCol: String,
      indexPath: String, width: Int = 8, nPartBuckets: Int = 256)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ops.Dedup
      val spark = batch.sparkSession
      val sc = spark.sparkContext
      val pinnedBefore = sc.getPersistentRDDs.keySet
      try {
        val b = batch.localCheckpoint()
        // materialized BEFORE the append: a lazy plan would re-read the
        // index after its own batch's vocabulary landed in it
        val rewritten =
          (if (indexNonEmpty(spark, indexPath))
            // maxBid = this batch: "old" means appended by a strictly
            // earlier batch, so a foreachBatch REPLAY (restart between
            // the append below and the batch commit) cannot probe its
            // own prior append and rewrite the whole batch to empty
            // text — the replayed run produces the original output
            Dedup.segmentIncrementalRewrite(spark, indexPath, b, keyCol,
              textCol, width, nPartBuckets, maxBid = Some(batchId))
          else
            Dedup.dropDuplicateSegments(b, keyCol, textCol, width))
            .localCheckpoint()
        // bid-stamped append: a replayed append is an inert duplicate
        // (the index is a set and probes exclude bid >= their own)
        Dedup.segmentAppendIndex(b, keyCol, textCol, indexPath, width,
          nPartBuckets, bid = batchId)
        sink(rewritten, batchId)
      } finally {
        (sc.getPersistentRDDs.keySet -- pinnedBefore)
          .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      }
    }

  /** True iff `path` already holds index bucket directories (Hadoop FS,
    * so any cluster storage scheme works).
    */
  private def indexNonEmpty(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("_pb="))
  }

  /** Streaming decontamination, bounded-state DEFAULT: run the batch
    * operator ([[graft.ops.Dedup.contaminationScores]]) once per
    * micro-batch via `foreachBatch`. A doc's shingles all arrive WITH
    * the doc, so per-batch scoring is exact — and because the batch
    * operator's aggregation lives entirely inside one micro-batch, the
    * query carries ZERO cross-batch state (no state store at all;
    * asserted by StreamingValidationSpec): state cannot grow with
    * processed-doc count, unlike the update-mode aggregation of
    * [[decontaminateStreamRunning]], which keeps one state row per
    * contaminated doc forever. `sink` receives each micro-batch's
    * `(id, n_overlap, contamination)` rows with the batch id; call
    * `.start()` (plus checkpointLocation etc.) on the returned writer.
    */
  def decontaminateStream(stream: DataFrame, keyCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.Dedup.contaminationScores(
        batch, keyCol, textCol, bench, benchTextCol), batchId)
    }

  /** Streaming mergeable profiling: emit one profile ARTIFACT row per
    * micro-batch via `foreachBatch` — the streaming form of
    * [[graft.engine.MergeableProfile]]. The query itself carries ZERO
    * cross-batch state (no state store; same contract as
    * [[decontaminateStream]]): the persisted artifacts ARE the state,
    * and any span of them merges later via
    * [[graft.engine.MergeableProfile.merge]] — StreamingValidationSpec
    * asserts merge-of-micro-batch-artifacts ≡ the batch profile of the
    * whole stream, sketches included. `sink` receives each micro-batch's
    * artifact row (its `batch` column = the micro-batch id).
    */
  def profileStream(stream: DataFrame, cols: Seq[String], histCol: String,
      bucketWidth: Double, nBuckets: Int)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.engine.MergeableProfile.batchProfile(
        batch.withColumn("_mb", lit(batchId)), "_mb", cols, histCol,
        bucketWidth, nBuckets), batchId)
    }

  /** Streaming decontamination as a continuously-updating RESULT TABLE:
    * flag arriving docs sharing a word 3-gram with a STATIC benchmark
    * table — a stream-static join, the idiomatic shape for enrichment
    * against slowly-changing reference data. The benchmark collapses to
    * its distinct hashed shingle set once per micro-batch plan (small by
    * the eval-set contract, so the join broadcasts); the stream side is
    * the same stateless shingle scan as batch
    * [[graft.ops.Dedup.contaminationScores]], and the per-doc overlap
    * count is a per-batch aggregation over the doc's own rows. Emits
    * `(id, n_sh, n_overlap, contamination)` per contaminated doc in
    * UPDATE mode — aggregation state is one row per contaminated doc
    * key, UNBOUNDED over the stream's lifetime. Use only when a
    * queryable running result table is worth that state;
    * [[decontaminateStream]] is the bounded-state default.
    */
  def decontaminateStreamRunning(stream: DataFrame, keyCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String): DataFrame = {
    import graft.ops.Dedup
    val bsh = bench
      .select(explode(Dedup.shingles(col(benchTextCol))).as("s0"))
      .select(xxhash64(col("s0")).as("s"))
      .distinct()
    stream
      .select(col(keyCol).as("id"), Dedup.shingles(col(textCol)).as("sh"))
      .select(col("id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s0"))
      .select(col("id"), col("n_sh"), xxhash64(col("s0")).as("s"))
      .join(broadcast(bsh), Seq("s"), "left_semi")
      .groupBy(col("id"), col("n_sh"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap").cast("double") / col("n_sh"), 6))
  }

  /** Streaming gap sessionization: the built-in `session_window`
    * aggregation — Spark merges events into a session while each arrives
    * within `gap` of the session's end, and append mode emits every
    * session EXACTLY ONCE, when the watermark passes its close. State is
    * bounded by the number of OPEN sessions (watermark eviction), not by
    * stream length — no custom state needed, so this composes with AQE
    * and whole-stage codegen like any aggregation.
    *
    * Semantics vs the batch operator ([[graft.ops.Sessions]]): identical
    * except at the exact boundary — `session_window`'s interval end is
    * exclusive (an event exactly `gap` after the previous one starts a
    * NEW session), while the batch op's strictly-greater rule keeps it.
    * The streaming≡batch differential in the spec holds on any input
    * free of exact-boundary gaps.
    */
  def sessionStream(stream: DataFrame, entityCol: String, tsCol: String,
      valueCol: String, gap: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(entityCol), session_window(col(tsCol), gap).as("session"))
      .agg(count(lit(1L)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"),
        sum(round(col(valueCol) * 100).cast("long")).as("sum_value_c"))
      .select(col(entityCol), col("n_events"), col("start_ts"),
        col("end_ts"), col("sum_value_c"))

  /** One bucketed observation for the streaming drift monitor. */
  final case class DriftEvent(group: String, bucket: Long)

  /** Per-group monitor state: running bucket counts + row count. State
    * size is bounded by the histogram bucket domain per group, not by
    * stream length.
    */
  final case class DriftStateBuf(counts: Map[Long, Long], n: Long)

  /** One update-mode output row: running drift of `group` after the
    * micro-batch, over all `n` rows seen so far.
    */
  final case class DriftUpdate(group: String, n: Long, kl: Double, psi: Double)

  /** Streaming drift monitor with custom state
    * (`KeyValueGroupedDataset.mapGroupsWithState`): maintains a running
    * token-length histogram per group and emits that group's KL/PSI vs
    * the (driver-held, tiny) baseline profile after every micro-batch —
    * the streaming analog of batch [[graft.engine.Checks.driftByGroup]],
    * with identical bucketing (`floor(value / bucketWidth)`) and
    * identical smoothing, asserted equal by the spec's
    * streaming≡batch differential.
    *
    * Built-in windowed aggregation can't express this: the statistic is
    * a nonlinear function (PSI) of the FULL running distribution, not a
    * windowed sum — exactly the case for custom state.
    *
    * `stateTtl` (e.g. `Some("30 minutes")`) arms a processing-time
    * timeout per group: a group that receives no rows for that long has
    * its state REMOVED (no row emitted on expiry) and re-registers from
    * zero if it reappears. Without a TTL, per-group state never expires —
    * at production group churn (e.g. grouping by a rotating shard key)
    * that is an unbounded state leak, so long-running monitors should
    * always set one.
    */
  def driftMonitor(stream: DataFrame, groupCol: String, valueCol: String,
      bucketWidth: Double, baseline: Map[Long, Double], eps: Double = 1e-6,
      stateTtl: Option[String] = None): Dataset[DriftUpdate] = {
    val session = stream.sparkSession
    import session.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    stream
      .where(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("group"),
        floor(col(valueCol) / bucketWidth).cast("long").as("bucket"))
      .as[DriftEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState[DriftStateBuf, DriftUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update(), timeoutConf)(
        driftStep(baseline, eps, stateTtl))
  }

  /** The per-group state-transition function of [[driftMonitor]],
    * factored out so expiry semantics are unit-testable against
    * `TestGroupState` (no wall-clock in tests): on timeout the group's
    * state is REMOVED and nothing is emitted; otherwise counts
    * accumulate, the TTL (if any) re-arms, and one update row is
    * emitted.
    */
  private[streaming] def driftStep(baseline: Map[Long, Double], eps: Double,
      stateTtl: Option[String])(
      g: String, rows: Iterator[DriftEvent], state: GroupState[DriftStateBuf])
      : Iterator[DriftUpdate] =
    if (state.hasTimedOut) {
      // dead group: drop its state; nothing to emit — a reappearing
      // group re-registers from zero
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(DriftStateBuf(Map.empty, 0L))
      val upd = rows.foldLeft(prev) { (s, e) =>
        DriftStateBuf(
          s.counts.updated(e.bucket, s.counts.getOrElse(e.bucket, 0L) + 1L),
          s.n + 1L)
      }
      state.update(upd)
      stateTtl.foreach(state.setTimeoutDuration)
      val t = upd.n.toDouble
      var kl = 0.0
      var psi = 0.0
      // union of observed and baseline buckets, ascending for a
      // deterministic summation order
      (upd.counts.keySet ++ baseline.keySet).toSeq.sorted.foreach { b =>
        val p = upd.counts.getOrElse(b, 0L).toDouble / t + eps
        val q = baseline.getOrElse(b, 0.0) + eps
        kl += p * math.log(p / q)
        psi += (p - q) * math.log(p / q)
      }
      Iterator.single(DriftUpdate(g, upd.n, kl, psi))
    }
}
