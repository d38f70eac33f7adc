package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: signatures (minhash/simhash/fingerprints) are computed
  * per row with array expressions — no explode, no shuffle — so signature
  * generation is scan-bound. Candidate pairing shuffles only on the
  * band/bucket keys (LSH), never all-pairs: at 10^12 docs the only
  * all-pairs work happens inside LSH buckets, whose expected size is
  * controlled by the band/row parameters.
  */
object Dedup {

  import TextOps._

  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  // ---- routing thresholds. Each picks a plan from sizes and counts the
  // operator measures itself; every route yields the same rows. ----

  /** Salt fan-out of [[attachDupGroups]] (a power of two): a content
    * fingerprint hotter than ~task-size spreads over this many
    * (fingerprint, salt) slices.
    */
  private val OccSalts = 64

  /** Hot-vocabulary detection sample rate for [[attachDupGroups]]:
    * 1-in-this docs are counted. The scaling rule (attachDupGroups
    * scaladoc): |hot vocab| ≤ N/(HotSampledMin·HotSampleMod) must fit a
    * broadcast while undetected groups (≲ a few × HotSampleMod rows)
    * must fit a window partition. 1024 is right for ≤10^9-row corpora;
    * N = 10^12 would need 10^5-10^6 (hot vocab ≤ ~3×10^4 keys,
    * undetected groups ≤ a few million rows).
    */
  private val HotSampleMod = 1024L

  /** Sampled-occurrence threshold above which a fingerprint is routed
    * through the salted hot path (≥ 32 at 1/1024 sampling ⇒ true df
    * ≳ 32k). Deliberately NOT lower: a window partition of a few
    * thousand rows (boilerplate-sized groups) is harmless — the
    * round-4 soaks sorted a 10M-row window partition in one task
    * without a cliff — and routing such groups hot would pay the hot
    * branch's second kernel scan on corpora that don't need it
    * (measured: 1.9× on the 20M-doc span lane whose worst group is
    * df ≈ 2k). The threshold only needs to sit well under task scale
    * (~N/cores rows) while staying well over sampling noise.
    */
  private val HotSampledMin = 32L

  /** Inputs whose LEAF-scan size estimate is at or below this many
    * bytes skip the hot-vocabulary sample job entirely and compile the
    * plain single-window plan — the probe is a strategy choice, not a
    * correctness gate (both routes are exact), and at small input no
    * key can be hot. Derivation of 4 MiB: occurrence rows ≤ ~2×
    * compressed input bytes (worst case: one rolling gram per ~5-byte
    * word at 10× text compression), so the worst single window
    * partition is ≤ ~8M rows — under the 10M-row single-task window the
    * round-4 soaks proved cliff-free. Raise only with that proof in
    * hand.
    */
  private val ProbeMinBytes: Long = 4L << 20

  /** Row-count ceiling for broadcasting a distinct key set (the
    * incremental probes' batch keys, decontamination's eval keys). The
    * daily-ingest contract says increments are small; this makes the
    * contract ENFORCED instead of narrated — a corpus-sized "batch"
    * falls back to a shuffle semi join (same output) rather than a
    * driver OOM. ~4M 16-byte keys ≈ 64 MB, inside a default driver heap
    * with room to spare.
    */
  private val MaxBroadcastKeys = 4000000L

  /** Distinct-key ceiling for the incremental probes' LOCAL key-set
    * tier. At or under this many distinct batch keys, the single probe
    * job collects the key set itself (bounded by a LIMIT of ceiling+1,
    * so the driver never holds more than ceiling+1 rows) and the probe
    * side becomes a LocalRelation — the broadcast-exchange subtree that
    * recomputed the batch kernel a second time disappears from the plan
    * entirely. Above it, a second aggregation job counts the keys and
    * lists their buckets, and the [[MaxBroadcastKeys]] gate picks
    * broadcast or shuffle semi — identical output at every tier.
    * 65,536 keys ≈ 1-4 MB collected.
    */
  private val LocalProbeKeysMax = 65536L

  /** Partition-path count up to which an index read lists its bucket
    * directories ON THE DRIVER instead of through Spark's
    * parallel-partition-discovery JOB. Spark's default threshold (32)
    * launches one distributed listing job per `spark.read` once an index
    * has more than 32 bucket dirs — measured 0.5 s of pure scheduling
    * per probe against a local-FS 256-bucket index, vs milliseconds of
    * driver `listStatus` (round 6). An index with more paths than this
    * still gets the parallel job (the right call at 2^20 buckets on an
    * object store).
    */
  private val IndexSeqListingPaths = 4096L

  /** Pair-count bound for [[connectedComponents]]' local fast path. A
    * pair graph at or under this many pairs and [[CcMaxLocalBytes]]
    * (both known exactly — one aggregate over the pairs before the
    * choice) is solved by driver-side union-find in one collect instead
    * of O(log d) rounds of 2 distributed joins + a count each: LSH pair
    * graphs at bench scale are thousands of pairs, where the iterative
    * form is pure scheduling overhead (~1 s measured round 6; 27 jobs
    * and 2.3 s of a 10k-doc assembly's near-dedup stage), while the
    * driver cost of long pairs is bounded at ~32 MB of rows. Identical
    * labels by construction — both forms assign every node the
    * component minimum.
    */
  private val CcMaxLocalEdges = 1000000L

  /** Byte bound of the same local path: Σ UTF-8 bytes of both endpoints
    * over all pairs for string keys (16 bytes per pair for long keys).
    * The pair bound alone does not bound a string graph: 1M pairs of
    * 1 KiB ids are 2 GiB. The driver holds each string endpoint about
    * three times (the collected row's String, the UTF8String it is
    * ranked by, the output row), so 64 MiB of ids costs at most
    * ~200 MB of payload, the order of the per-row object overhead the
    * pair bound already admits (2M endpoints × ~100 B). `"d<N>"` doc ids
    * at the pair bound are ~20 MB, well inside.
    */
  private val CcMaxLocalBytes: Long = 64L << 20

  /** Round cap of the iterative [[connectedComponents]]: pointer jumping
    * converges in O(log diameter) rounds, so 50 is never reached by a
    * real pair graph; hitting it fails loudly instead of looping.
    */
  private val CcMaxRounds = 50

  /** Eval-set inputs whose leaf-scan size estimate is at or below this
    * many bytes broadcast their distinct shingle/gram set WITHOUT a
    * count job (the "eval benchmarks are small" contract honored for
    * free). Above it, one count job feeds the [[MaxBroadcastKeys]]
    * gate: broadcast under it, shuffle semi beyond — identical output,
    * never a driver OOM. 16 MiB: ≤ ~160 MB raw text at 10× compression
    * → ≤ ~32M grams → ≤ ~256 MB broadcast worst case, inside executor
    * budgets; real eval sets are orders of magnitude under it,
    * corpus-sized "benchmarks" are orders over.
    */
  private val DeconBenchMaxBytes: Long = 16L << 20

  /** The count-gated thresholds as one value. Every public operator runs
    * `Tiers()`, the constants above; OpsSpec lowers them through the
    * `private[ops]` `*At` forms to reach each tier on small inputs.
    */
  private[ops] final case class Tiers(
      localProbeKeys: Long = LocalProbeKeysMax,
      broadcastKeys: Long = MaxBroadcastKeys,
      deconBenchBytes: Long = DeconBenchMaxBytes,
      ccLocalEdges: Long = CcMaxLocalEdges,
      ccLocalBytes: Long = CcMaxLocalBytes)

  /** Total size estimate (bytes) of a plan's leaf relations — file sizes
    * for parquet scans. Driver-only (no job): used to SKIP defensive
    * machinery that only matters at scale. Routing only, never results.
    */
  private def leafInputBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** The one broadcast gate: broadcast a distinct key set of `nKeys`
    * rows while it is under [[MaxBroadcastKeys]]; past it, the plain
    * frame lets Spark plan a shuffle join — identical output, no driver
    * collect.
    */
  private def broadcastIfFew(keys: DataFrame, nKeys: Long, tiers: Tiers): DataFrame =
    if (nKeys <= tiers.broadcastKeys) broadcast(keys) else keys

  /** The index side of an incremental probe: the rows of the
    * bucket-partitioned index at `indexPath` whose key columns match a
    * key of `batchKeys` — the batch's `(key..., _pb)` rows, duplicates
    * allowed (`_pb` is a function of the key columns, so distinct tuples
    * ≡ distinct keys). Returns those rows and the batch's distinct key
    * count, for callers that gate their own joins the same way.
    *
    * The eager driver work is ONE job in the common tier:
    *   - ≤ [[LocalProbeKeysMax]] distinct keys (LIMIT-bounded collect):
    *     the collected rows give the pruning bucket list and become a
    *     LocalRelation probe side — the daily-ingest case, and the only
    *     tier bench-scale inputs ever hit.
    *   - above: a second aggregation job returns the exact key count and
    *     the bucket list, and the probe side is the distributed distinct
    *     key plan, broadcast or shuffled by [[broadcastIfFew]].
    * The index read keeps only the batch's buckets (`_pb IN (…)`, pruned
    * at storage level) and any `indexFilter`, then LEFT SEMI joins the
    * probe side.
    */
  private def probeIndex(spark: SparkSession, indexPath: String,
      batchKeys: DataFrame, tiers: Tiers,
      indexFilter: Option[Column] = None): (DataFrame, Long) = {
    val keyCols = batchKeys.columns.filter(_ != "_pb").toSeq
    val keys = batchKeys.select(keyCols.map(col): _*)
    val distinctKeyPb = batchKeys.distinct()
    val head = distinctKeyPb
      .limit(math.min(tiers.localProbeKeys + 1, Int.MaxValue.toLong).toInt).collect()
    val (side, pbs, nKeys) =
      if (head.length <= tiers.localProbeKeys) {
        import scala.jdk.CollectionConverters._
        val rows = head.toSeq.map(r => Row.fromSeq(keyCols.map(r.getAs[Any])))
        (spark.createDataFrame(rows.asJava, keys.schema),
          head.map(_.getAs[Long]("_pb")).distinct.toSeq, head.length.toLong)
      } else {
        val r = distinctKeyPb
          .agg(count(lit(1)).as("_nk"), collect_set(col("_pb")).as("_pbs"))
          .collect()(0)
        (keys.distinct(), r.getSeq[Long](1), r.getLong(0))
      }
    val pruned = readIndex(spark, indexPath)
      .where(col("_pb").cast("long").isin(pbs: _*)) // partition pruning
    val index = indexFilter.fold(pruned)(pruned.where)
    (index.join(broadcastIfFew(side, nKeys, tiers), keyCols, "left_semi"), nKeys)
  }

  private val listingLock = new Object

  /** Read a bucket-partitioned index directory with the sequential-
    * listing threshold [[IndexSeqListingPaths]] applied. Listing happens
    * eagerly inside `spark.read.parquet`, so the session conf is set for
    * that call only and then restored — unset again if it was unset.
    * The save/set/read/restore runs under one lock, so concurrent probes
    * cannot interleave and leave the session changed.
    */
  private def readIndex(spark: SparkSession, path: String): DataFrame =
    listingLock.synchronized {
      val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      // getAll holds only keys set explicitly; getOption would return
      // Spark's default for an unset key
      val old = spark.conf.getAll.get(key)
      spark.conf.set(key, IndexSeqListingPaths)
      try spark.read.parquet(path)
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Skew-safe replacement for `agg(...) OVER (PARTITION BY hCol)` on a
    * corpus-scale content-fingerprint key: the group minimum `_first`
    * (min over `orderCols`, then the remaining payload columns — a
    * plain value for a single payload column, a struct otherwise, an
    * opaque marker when `orderCols` is empty) attached to every row of
    * a DUPLICATED group, plus the group count `_c`. `joinType =
    * "inner"` drops unique-content rows; `"left"` keeps them with null
    * `_first`/`_c`. Null `hCol` rows are excluded (a null fingerprint
    * is a validation concern, not a duplicate group). CALLERS MUST
    * CONSUME `_first` — see the pruning note below.
    *
    * Why not the window: a window partition routes ALL rows of a key to
    * ONE task and BUFFERS them (WindowExec holds the partition) — a
    * Zipf-head 8-gram with df 10⁸ or a mega-duplicated boilerplate doc
    * is a single-task latency/spill cliff at corpus scale, and AQE's
    * skew handling splits joins, not windows (the same analysis as the
    * two-level sessionization in [[graft.ops.Sessions]]).
    *
    * Shape — HOT-VOCABULARY ROUTING. The waste in any uniform two-phase
    * (aggregate + join-back) form is that ~all fingerprints of a real
    * corpus are unique, yet every one pays the totals machinery
    * (measured 1.8×/5.2× the plain window on the 20M-doc segment
    * stats/rewrite). So the skew defense is applied ONLY where skew can
    * exist:
    *
    *   1. A deterministic 1-in-[[HotSampleMod]] DOC sample (hash of
    *      `saltCol`, pushed below the caller's kernel/explode, so the
    *      sample branch re-scans the table but runs the kernel on the
    *      sampled sliver) counts fingerprint occurrences; anything seen
    *      [[HotSampledMin]]+ times is "hot" (true df ≳ HotSampleMod
    *      whp). The hot vocabulary is tiny by a counting argument —
    *      |{fp : df ≥ K}| ≤ N/K — and broadcastable.
    *   2. The strategy is chosen EAGERLY from that sample (one small
    *      driver job — the repo precedent is the analyzed-plan
    *      violations strategy in ValidationEngine). NO hot vocabulary —
    *      every realistic corpus shard, and every corpus whose worst
    *      key is merely boilerplate-sized — compiles to the PLAIN
    *      single-window plan: one exchange, one sort, zero defensive
    *      tax. The sample job is the only overhead (~sub-second at
    *      bench scale, seconds at 20M docs).
    *   3. WITH a hot vocabulary: rows of hot fingerprints get a
    *      `hash(saltCol) mod` [[OccSalts]] salt, everything else salt
    *      0, and the window runs over (fingerprint, salt) — cold
    *      slices are whole groups (exact totals), the hottest key
    *      spreads over OccSalts slices. Exact totals for the (tiny)
    *      hot vocabulary come from a separate scan-based aggregation
    *      branch — partial aggregation bounds a hot key at one row per
    *      input partition — broadcast back over the window output.
    *      This branch re-runs the kernel over the corpus once more,
    *      deliberately: hot corpora are the exception, and a second
    *      scan pass there beats the exchange-identity contortions
    *      required to share one shuffle between a window and an
    *      aggregation consumer (Catalyst's outer-join elimination and
    *      per-branch column pruning silently broke the sharing in
    *      every variant measured; the uniform salted two-phase form
    *      this replaces cost 1.8×/5.2× the window on REALISTIC 20M-doc
    *      segment stats/rewrite while defending a case that corpus
    *      doesn't have).
    *
    * Hot detection affects ROUTING only, never results: both paths
    * compute exact counts/minima, so output is bit-identical whatever
    * the sample says (the oracle property). A missed hot key costs
    * latency, not correctness, and the miss probability dies
    * exponentially past df ≈ 2·HotSampleMod.
    *
    * Scaling rule (10^12-row corpora): HotSampleMod trades the
    * broadcast bound against the cold-group ceiling — |hot vocab| ≤
    * N/(HotSampledMin·HotSampleMod) must fit a broadcast while
    * undetected groups (≲ a few × HotSampleMod rows) must fit a window
    * partition; at N = 10^12, HotSampleMod ~ 10^5-10^6 satisfies both.
    *
    * Pruning note: callers must keep `_first` consumed, or ColumnPruning
    * collapses the minimum chain (count(struct(...)) does NOT work as a
    * keep-alive: NullPropagation rewrites count over a non-nullable
    * child to count(1), dropping the references).
    */
  /** `sizeBoundOn`: the frame whose leaf-scan estimate bounds the attach
    * input volume for the probe-skip decision — callers whose attach
    * input is PROVABLY bounded by a sub-frame (the segment rewrite's
    * index side joins back as one distinct boolean marker per
    * fingerprint, so occurrence rows = batch rows exactly) pass that
    * sub-frame; everyone else defaults to the full input.
    */
  private def attachDupGroups(rows: DataFrame, hCol: String, saltCol: Column,
      orderCols: Seq[String], joinType: String,
      sizeBoundOn: Option[DataFrame] = None): DataFrame = {
    val payloadCols = (orderCols ++
      rows.columns.filterNot(c => c == hCol || orderCols.contains(c)))
      .map(col).toIndexedSeq
    // the group-minimum aggregate: a plain value for a single payload
    // column, a struct over (orderCols, hash-of-rest) otherwise, an
    // opaque 8-byte marker when orderCols is empty. Non-ordering
    // payload columns enter as ONE xxhash64, never as raw values —
    // order keys are unique per row, so the hash tail never decides a
    // comparison, and the window/aggregation buffers stay fixed-width
    // instead of dragging segment text through them (measured: the
    // full-struct form was the dominant cost of the 20M-doc segment
    // rewrite).
    val pm = {
      val rest = payloadCols.drop(orderCols.size)
      if (orderCols.isEmpty) min(xxhash64(payloadCols: _*))
      else {
        val fields = orderCols.map(col) ++
          (if (rest.isEmpty) Nil else Seq(xxhash64(rest: _*).as("_ph")))
        if (fields.size == 1) min(fields.head) else min(struct(fields: _*))
      }
    }
    // the deterministic doc sample (hash, not rand(): reproducible and
    // partitioning-invariant); the predicate references only saltCol,
    // so Catalyst pushes it below the caller's Generate/Project and the
    // kernel runs on the sliver, not the corpus
    val hotV = rows
      .where(pmod(xxhash64(saltCol), lit(HotSampleMod)) === 0L)
      .where(col(hCol).isNotNull)
      .groupBy(col(hCol))
      .agg(count(lit(1)).as("_shc"))
      .where(col("_shc") >= HotSampledMin)
      .select(col(hCol), lit(true).as("_hot"))

    val base = rows.where(col(hCol).isNotNull)
    val outCols = base.columns.map(col).toIndexedSeq

    // strategy probe: one small eager job (scan + sampled-sliver kernel
    // + aggregation). The common case — no hot vocabulary — must pay
    // ZERO plan overhead, not a defensive salting tax; the repo
    // precedent is the analyzed-plan violations strategy in
    // ValidationEngine. Small inputs (leaf-scan estimate ≤
    // ProbeMinBytes) skip the probe JOB too and compile the window plan
    // directly: no key of a small corpus can reach task scale, so the
    // sample job would be pure fixed overhead (~0.2-0.3 s per attach
    // site at bench scale — measured round 6) for a foregone answer.
    val anyHot = leafInputBytes(sizeBoundOn.getOrElse(rows)) > ProbeMinBytes &&
      !hotV.isEmpty

    val attached =
      if (!anyHot) {
        // pure single-window plan: one exchange, one sort, one pass
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col(hCol))
        base.select(outCols :+ count(lit(1)).over(w).as("_c0")
          :+ pm.over(w).as("_m0"): _*)
      } else {
        // power-of-two bitmask, not pmod: Pmod is conservatively
        // nullable (divisor zero) and would poison join-key inference;
        // `when` keeps non-nullability because the `otherwise` is a
        // literal
        val rows2 = base
          .join(broadcast(hotV), Seq(hCol), "left")
          .withColumn("_salt",
            when(col("_hot"),
              xxhash64(saltCol).bitwiseAND(lit(OccSalts.toLong - 1)))
              .otherwise(lit(0L)))
        // window over (fingerprint, salt): for COLD groups salt is the
        // constant 0, so the slice is the whole group and these window
        // values are already the exact totals; the hottest key spreads
        // over OccSalts slices by construction
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(hCol), col("_salt"))
        val sliced = rows2
          .select((rows2.columns.map(col) :+ count(lit(1)).over(w).as("_wc")
            :+ pm.over(w).as("_wm")): _*)
        // exact totals for the hot vocabulary from a SEPARATE
        // scan-based branch (partial aggregation bounds a hot key at
        // one row per input partition — no concentration anywhere).
        // This re-runs the caller's kernel over the corpus once more,
        // deliberately: hot vocabularies are the exception, and paying
        // a second scan pass THERE beats the exchange-identity
        // contortions required to share one shuffle between a window
        // and an aggregation consumer (Catalyst rewrites — outer-join
        // elimination under the hot filter, per-branch column pruning
        // — silently broke the sharing in every variant we measured).
        val hotTotals = base
          .join(broadcast(hotV), Seq(hCol), "left_semi")
          .groupBy(col(hCol))
          .agg(count(lit(1)).as("_hc"), pm.as("_hm"))
        sliced
          .join(broadcast(hotTotals), Seq(hCol), "left")
          .select(outCols
            :+ when(col("_hot"), col("_hc")).otherwise(col("_wc")).as("_c0")
            :+ when(col("_hot"), col("_hm")).otherwise(col("_wm")).as("_m0"): _*)
      }

    val merged = attached
      .withColumn("_c", when(col("_c0") > 1, col("_c0")))
      .withColumn("_first", when(col("_c0") > 1, col("_m0")))
      .drop("_c0", "_m0")
    joinType match {
      case "inner" => merged.where(col("_c").isNotNull)
      case "left"  => merged
      case t => throw new IllegalArgumentException(s"unsupported joinType $t")
    }
  }

  /** Attach an observable dropped-bucket metric ahead of a bucket-cap
    * filter: `<op>_buckets_<n>` carries `n_buckets` (before the cap) and
    * `n_dropped_overcap`. The caps (default 2,000 — REDUCED from an
    * earlier 100,000 for bounded-memory pair expansion at corpus scale;
    * see [[minhashCandidatePairs]]) silently remove recall from buckets
    * larger than the cap, so pipelines must be able to SEE how many
    * buckets were dropped: read the metric from a
    * `QueryExecutionListener` (`qe.observedMetrics`) after any action.
    * CollectMetrics is a pushdown barrier, so the cap filter above it is
    * not pushed below; cost is one counter pass over bucket rows (already
    * shuffled), not corpus rows.
    *
    * AQE caveat: when the capped output is COMPLETELY empty (every bucket
    * over the cap), adaptive empty-relation propagation can replace the
    * downstream plan — metrics node included — so the metric is absent
    * from `observedMetrics` for that query. Treat metric-absent +
    * empty-output as "everything capped"; any surviving bucket keeps the
    * metrics node alive.
    */
  private def observeCap(buckets: DataFrame, op: String, sizeCol: Column,
      cap: Int): DataFrame =
    buckets.observe(s"graft_${op}_buckets_${obsId.incrementAndGet()}",
      count(lit(1)).as("n_buckets"),
      sum(when(sizeCol > cap, 1L).otherwise(0L)).as("n_dropped_overcap"))

  /** Exact duplicate groups by normalized-content fingerprint: one row
    * per distinct content, with group size and the survivor (min key).
    * A single hash aggregation — partial map-side combine keeps shuffle
    * volume at one row per distinct fingerprint per task.
    */
  def exactGroups(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"), col(keyCol))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(keyCol)).as("keep_id"))

  /** Rows to drop under exact dedup (everything but the survivor).
    *
    * One corpus scan, one corpus shuffle: the survivor and group size
    * come from the skew-safe [[attachDupGroups]] (salted two-level
    * aggregation + join-back over ONE shared exchange — the
    * normalize+md5 pass still runs ONCE, unlike a naive join-back
    * whose probe side re-fingerprints the corpus, measured ~2.4× wall
    * at 1M docs). The previous `min/count OVER (PARTITION BY fp)` form
    * had no hot-key defense: a mega-duplicated boilerplate doc (df
    * 10⁸⁺ at a real 100-TB corpus) was one window partition = one
    * buffering task. NULL-text rows are excluded (a null fingerprint
    * is a validation concern, not a duplicate group — same outcome the
    * join version produced implicitly via null-key join semantics).
    */
  def exactDuplicates(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    // keyCol pre-filtered non-null: the post-join `=!=` predicate would
    // otherwise infer IsNotNull(keyCol) onto the probe branch only and
    // break the shared exchange (a null key never survived it anyway —
    // null =!= x is null). See the identity note on [[attachDupGroups]].
    val rows = df.select(fingerprint(col(textCol)).as("fp"), col(keyCol))
      .where(col(keyCol).isNotNull)
    attachDupGroups(rows, "fp", col(keyCol), Seq(keyCol), "inner")
      .where(col(keyCol) =!= col("_first"))
      .select(col(keyCol), col("_first").as("keep_id"))
  }

  /** Materialized exact-dedup index: `(fp, id)` — the normalized-content
    * fingerprint (16-byte md5; 128 bits keeps birthday collisions
    * negligible at 10^12 docs where 8-byte keys would alias) of every
    * corpus doc, parquet-partitioned by fingerprint hash so incremental
    * probes prune at STORAGE level. The exact-dedup sibling of
    * [[minhashWriteIndex]]: build once per corpus, probe per batch.
    *
    * Sizing `nPartBuckets` at corpus scale: a probe reads
    * `corpus · min(batchDistinctFps, nPartBuckets) / nPartBuckets` index
    * rows, so pruning only bites when buckets OUTNUMBER the batch —
    * pick nPartBuckets ≳ 10-100× the expected batch size for 90-99%
    * of the index skipped (at 10^12 docs / 10^5-doc daily batches,
    * 2^20 buckets reads ~10% of the index per probe; the default 256
    * is sized for test-scale file counts, where every bucket is hit
    * and pruning is a no-op by design).
    */
  def exactWriteIndex(df: DataFrame, keyCol: String, textCol: String,
      path: String, nPartBuckets: Int = 256): Unit =
    exactIndexRows(df, keyCol, textCol, nPartBuckets)
      .write.mode("overwrite").partitionBy("_pb").parquet(path)

  /** Fold an accepted batch INTO an existing [[exactWriteIndex]] — the
    * maintenance half of the daily-ingest loop (probe the batch, commit
    * the survivors, append them so tomorrow's probe sees today's docs).
    * Appends only the batch's rows into their fingerprint buckets; the
    * corpus is never re-read. `nPartBuckets` MUST match the value the
    * index was built with (bucket routing is `hash(fp) mod n` — a
    * mismatch silently splits a fingerprint across buckets and probes
    * miss it).
    */
  def exactAppendIndex(newBatch: DataFrame, keyCol: String, textCol: String,
      path: String, nPartBuckets: Int = 256): Unit =
    exactIndexRows(newBatch, keyCol, textCol, nPartBuckets)
      .write.mode("append").partitionBy("_pb").parquet(path)

  private def exactIndexRows(df: DataFrame, keyCol: String, textCol: String,
      nPartBuckets: Int): DataFrame =
    df.select(unhex(fingerprint(col(textCol))).as("fp"), col(keyCol).as("id"))
      .where(col("fp").isNotNull)
      .withColumn("_pb", pmod(xxhash64(col("fp")), lit(nPartBuckets.toLong)))

  /** Incremental exact dedup: drop-list rows of a NEW batch against the
    * existing corpus (via its [[exactWriteIndex]]) AND within the batch
    * — exactly [[exactDuplicates]] over old∪new restricted to new keys
    * (asserted by an OpsSpec differential and the `dedup_exact_incr`
    * oracle). `keep_id` is the group minimum over old∪new, so a new doc
    * that becomes the group survivor is (correctly) not listed.
    *
    * Scale shape: one scan of the BATCH text (fingerprints), a
    * partition-pruned index read (`_pb IN (batch's fingerprint
    * buckets)` — a driver-side list bounded by nPartBuckets), a LEFT
    * SEMI of index rows against the batch's distinct fingerprints
    * ([[probeIndex]]: broadcast while the batch is small, shuffle semi
    * beyond — the daily-ingest "increments are small" contract,
    * enforced), then one skew-safe batch-sized group attach over the
    * matched rows. Corpus text is never re-read, corpus fingerprints
    * never recomputed.
    */
  def exactIncrementalDuplicates(spark: SparkSession,
      indexPath: String, newBatch: DataFrame, keyCol: String, textCol: String,
      nPartBuckets: Int = 256): DataFrame =
    exactIncrementalDuplicatesAt(spark, indexPath, newBatch, keyCol, textCol,
      nPartBuckets, Tiers())

  private[ops] def exactIncrementalDuplicatesAt(spark: SparkSession,
      indexPath: String, newBatch: DataFrame, keyCol: String, textCol: String,
      nPartBuckets: Int, tiers: Tiers): DataFrame = {
    val newRows = exactIndexRows(newBatch, keyCol, textCol, nPartBuckets)
    val oldMatched = probeIndex(spark, indexPath, newRows.select("fp", "_pb"), tiers)._1
      .select(col("fp"), col("id"), lit(false).as("is_new"))
    val unioned = newRows.select(col("fp"), col("id"), lit(true).as("is_new"))
      .union(oldMatched)
    attachDupGroups(unioned, "fp", col("id"), Seq("id"), "inner")
      .where(col("is_new") && col("id") =!= col("_first").getField("id"))
      .select(col("id").as(keyCol), col("_first").getField("id").as("keep_id"))
  }

  /** Word 3-gram shingles over a PRE-PROJECTED words array column; docs
    * shorter than 3 words use the whole text as a single shingle (shared
    * convention with the oracle SQL).
    *
    * `w` must be a materialized attribute, not an inline `words(text)`
    * sub-expression: the lambda's three `element_at(w, …)` references
    * re-evaluate their argument per shingle position (HOFs get no CSE),
    * so an inline split() makes shingling O(words²) per doc — measured
    * ~10× on the sf0.1 jaccard/minhash paths.
    */
  def shinglesOfWords(text: Column, w: Column): Column =
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(0), size(w) - 3),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3)))))
      .otherwise(array(text))

  /** Codegen'd shingle set — see [[Shingles3]]. Same values and order as
    * [[shinglesOfWords]] (asserted by OpsSpec); use THIS on hot paths:
    * the HOF form drops its whole stage out of codegen.
    */
  def shingles(text: Column): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(Shingles3(EU.expression(text)))
  }

  /** Deterministic affine MinHash coefficients (shared with oracle SQL). */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 3L, 104729L * (i + 1) % HashPrime))

  /** MinHash signature as `k` columns `m0..m{k-1}`: per hash function i,
    * min over shingles of `(a_i * bucketHash(s) + b_i) mod p` — computed
    * by the fused codegen'd [[MinhashSig]] expression (shingle → hash →
    * all k running mins in one pass; no shuffle, no explode).
    * ≡ [[minhashSignatureRef]], asserted by OpsSpec.
    */
  def minhashSignature(df: DataFrame, keyCol: String, textCol: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    val (as, bs) = minhashCoeffs(k).unzip
    val sig = EU.column(MinhashSig(EU.expression(col(textCol)),
      as.toArray, bs.toArray, HashPrime))
    df.withColumn("_sig", sig)
      .select(col(keyCol) +:
        (0 until k).map(i => col("_sig").getItem(i).as(s"m$i")): _*)
  }

  /** The declarative HOF reference form of [[minhashSignature]] — kept
    * as the differential-test oracle for the fused expression (and as
    * documentation of the computation).
    */
  def minhashSignatureRef(df: DataFrame, keyCol: String, textCol: String, k: Int = 8): DataFrame = {
    val cols = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("_hs"), h => (h * a + b) % HashPrime)).as(s"m$i")
    }
    df.withColumn("_hs", transform(shingles(col(textCol)), s => bucketHash(s)))
      .select(col(keyCol) +: cols: _*)
  }

  /** Expand each bucket row's item array into its ordered (asc) pairs
    * `(l, r), l < r` — with O(|bucket|) peak memory per row, never the
    * O(|bucket|²) pair array in one value: posexplode the sorted array,
    * then explode each element's tail slice. A cap-sized bucket streams
    * cap·(cap−1)/2 output ROWS through the generator, but no single row
    * ever holds more than the cap-sized array itself (a previous design
    * built the full pair array per bucket row first, which at cap=100k
    * would be ~5×10⁹ structs in ONE row — an executor OOM by
    * construction, not a tuning problem).
    *
    * The sorted array is materialized as its own attribute first:
    * a non-cheap multi-referenced alias that CollapseProject keeps
    * split, so the sort runs once per bucket, not once per reference.
    */
  private def explodePairs(buckets: DataFrame, items: String): DataFrame =
    buckets
      .select(array_sort(col(items)).as("_s"))
      // posexplode_outer + generated-attribute null guard: the plain
      // posexplode's inferred filter re-ran the array_sort inside a
      // pushed-down Filter (see ngramJaccardPairs). Exact: buckets are
      // pre-filtered to size ≥ 2 with non-null elements.
      .select(posexplode_outer(col("_s")).as(Seq("_i", "l")), col("_s"))
      .where(col("l").isNotNull)
      .select(col("l"),
        explode(slice(col("_s"), col("_i") + 2, size(col("_s")) - col("_i") - 1)).as("r"))

  /** The banded view of a minhash signature row: one struct per band
    * (`idx`, `sig` = the band's `rowsPerBand` hash values). Shared by the
    * one-shot pair op and the materialized-index path so both bucket on
    * identical keys.
    */
  private def bandStructs(k: Int, rowsPerBand: Int): Column =
    array((0 until k / rowsPerBand).map { b =>
      struct(lit(b).as("idx"),
        struct((0 until rowsPerBand).map(r =>
          col(s"m${b * rowsPerBand + r}").as(s"s$r")): _*).as("sig"))
    }: _*)

  /** One row per (doc, band) with the storage bucket `_pb` =
    * `xxhash64(band_idx, band) mod nPartBuckets` — the partition key of
    * the materialized band index.
    */
  private def bandRows(sig: DataFrame, keyCol: String, k: Int,
      rowsPerBand: Int, nPartBuckets: Int): DataFrame =
    sig.select(col(keyCol).as("id"), explode(bandStructs(k, rowsPerBand)).as("bd"))
      .select(col("id"), col("bd.idx").as("band_idx"), col("bd.sig").as("band"),
        pmod(xxhash64(col("bd.idx"), col("bd.sig")), lit(nPartBuckets.toLong)).as("_pb"))

  /** LSH candidate pairs from minhash signatures: band the signature
    * (rows-per-band=2), group keys by (band index, banded values), emit
    * within-bucket pairs, dedup across bands.
    *
    * One pass over the signatures (the corpus-side md5 work runs ONCE —
    * no self-join, no persist) and one shuffle keyed by band value:
    * collision buckets only, never the corpus cross product. `maxBucket`
    * caps degenerate buckets (e.g. an all-identical boilerplate band at
    * corpus scale): buckets past the cap are dropped — at 10^12 docs a
    * bucket past the cap is boilerplate whose pairs belong to exact
    * dedup, not near-dup. The default cap (2,000) is sized so a
    * cap-sized bucket's pair OUTPUT (~2×10⁶ rows, streamed through
    * [[explodePairs]] at O(cap) memory per row) stays a trivial task,
    * not a memory event.
    */
  def minhashCandidatePairs(sig: DataFrame, keyCol: String, k: Int = 8,
      rowsPerBand: Int = 2, maxBucket: Int = 2000): DataFrame = {
    val buckets = observeCap(sig
      .select(col(keyCol).as("id"), explode(bandStructs(k, rowsPerBand)).as("bd"))
      .groupBy(col("bd.idx").as("band_idx"), col("bd.sig").as("band"))
      .agg(collect_list(col("id")).as("ids")),
      "minhash", size(col("ids")), maxBucket)
      .where(size(col("ids")).between(2, maxBucket))
    explodePairs(buckets, "ids")
      .select(col("l").as("a"), col("r").as("b"))
      .distinct()
  }

  /** Materialize the minhash band index of an EXISTING corpus — the
    * one-time indexing job behind incremental (daily-ingest) dedup, the
    * compile-once/run-many duality applied to data: the corpus-side
    * shingle+md5 work (the dominant cost) runs ONCE here, and every
    * subsequent increment probes the stored band rows instead of
    * re-scanning corpus text. Rows (id, band_idx, band) are written
    * PARTITIONED BY `_pb = xxhash64(band) mod nPartBuckets`, so a probe
    * touching `p` distinct band hashes reads `≤ min(p, nPartBuckets)`
    * directories via storage-level partition pruning (the
    * [[Similarity.ivfWriteIndex]] pattern applied to minhash bands).
    */
  def minhashWriteIndex(df: DataFrame, keyCol: String, textCol: String,
      path: String, k: Int = 8, rowsPerBand: Int = 2,
      nPartBuckets: Int = 256): Unit =
    bandRows(minhashSignature(df, keyCol, textCol, k), keyCol, k, rowsPerBand,
      nPartBuckets)
      .write.mode("overwrite").partitionBy("_pb").parquet(path)

  /** Fold an accepted batch INTO an existing [[minhashWriteIndex]] —
    * same maintenance contract as [[exactAppendIndex]]: appends the
    * batch's band rows into their buckets, corpus never re-read;
    * `k`/`rowsPerBand`/`nPartBuckets` MUST match the build values
    * (band hashing and bucket routing both depend on them).
    */
  def minhashAppendIndex(newBatch: DataFrame, keyCol: String, textCol: String,
      path: String, k: Int = 8, rowsPerBand: Int = 2,
      nPartBuckets: Int = 256): Unit =
    bandRows(minhashSignature(newBatch, keyCol, textCol, k), keyCol, k,
      rowsPerBand, nPartBuckets)
      .write.mode("append").partitionBy("_pb").parquet(path)

  /** Incremental dedup: candidate pairs of a NEW batch against the
    * existing corpus (via its [[minhashWriteIndex]]) AND within the
    * batch itself — exactly the full-corpus [[minhashCandidatePairs]]
    * restricted to pairs with at least one new endpoint (same banding,
    * same bucket-cap semantics over the full old∪new bucket; asserted
    * by an OpsSpec differential and the `dedup_incremental` oracle).
    *
    * Scale shape: one scan of the BATCH text (signatures), a
    * partition-pruned index read (`_pb IN (batch's band hashes)` — a
    * driver-side list bounded by nPartBuckets), a LEFT SEMI of the
    * index rows against the batch's distinct bands ([[probeIndex]]:
    * broadcast while the batch is small, shuffle semi beyond — for
    * corpus-sized "increments" the batch operator is still cheaper, but
    * the fallback stays correct instead of OOMing the driver), then the
    * same band-keyed bucket shuffle as the one-shot op, over matching
    * rows only. Corpus text is never re-read, corpus signatures never
    * recomputed.
    */
  def minhashIncrementalPairs(spark: SparkSession,
      indexPath: String, newBatch: DataFrame, keyCol: String, textCol: String,
      k: Int = 8, rowsPerBand: Int = 2, maxBucket: Int = 2000,
      nPartBuckets: Int = 256): DataFrame =
    minhashIncrementalPairsAt(spark, indexPath, newBatch, keyCol, textCol,
      k, rowsPerBand, maxBucket, nPartBuckets, Tiers())

  private[ops] def minhashIncrementalPairsAt(spark: SparkSession,
      indexPath: String, newBatch: DataFrame, keyCol: String, textCol: String,
      k: Int, rowsPerBand: Int, maxBucket: Int, nPartBuckets: Int,
      tiers: Tiers): DataFrame = {
    val newRows = bandRows(minhashSignature(newBatch, keyCol, textCol, k),
      keyCol, k, rowsPerBand, nPartBuckets)
    val oldMatched = probeIndex(spark, indexPath,
        newRows.select(col("band_idx"), col("band"), col("_pb")), tiers)._1
      .select(col("id"), col("band_idx"), col("band"), lit(false).as("is_new"))
    val buckets = observeCap(
      newRows.select(col("id"), col("band_idx"), col("band"), lit(true).as("is_new"))
        .union(oldMatched)
        .groupBy(col("band_idx"), col("band"))
        .agg(collect_list(struct(col("id"), col("is_new"))).as("docs")),
      "minhash_incr", size(col("docs")), maxBucket)
      .where(size(col("docs")).between(2, maxBucket))
    explodePairs(buckets, "docs")
      .where((col("l.is_new") || col("r.is_new")) && col("l.id") =!= col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** SimHash bits: per bit j, sum ±1 over the j-th bit of each word's
    * 60-bit [[portableHash]]; bit j of the result is the vote's sign.
    * 60 bits (the full md5-derived hash) keeps birthday collisions
    * negligible at 10^12 docs, where 16 bits would alias massively.
    */
  val SimhashBits = 60

  /** SimHash per row as ONE codegen'd expression — one md5 per word
    * feeding all bit counters in a single pass (see [[SimhashOfText]];
    * ≡ the [[simhashOfHashes]] HOF reference form, asserted by OpsSpec).
    */
  def simhashDf(df: DataFrame, keyCol: String, textCol: String,
      bits: Int = SimhashBits): DataFrame = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    df.select(col(keyCol),
      EU.column(SimhashOfText(EU.expression(col(textCol)), bits)).as("simhash"))
  }

  /** The per-bit vote fold over an array of word hashes. */
  def simhashOfHashes(hs: Column, bits: Int = SimhashBits): Column =
    (0 until bits).map { j =>
      val votes = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Single-column simhash (recomputes the word hashes per bit — only
    * for tests/small data; use [[simhashDf]] on the hot path).
    */
  def simhash(text: Column, bits: Int = SimhashBits): Column =
    simhashOfHashes(transform(words(text), w => portableHash(w)), bits)

  /** Hamming distance between two simhash values (bit-count of XOR). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: `hamming(simhash) <= maxDist` via
    * banded LSH over the signature bits. The B-bit signature splits into
    * `nBands` contiguous bands; by pigeonhole, two signatures within
    * hamming `d < nBands` agree EXACTLY on at least one band — so
    * band-equality bucketing has perfect recall for `maxDist < nBands`
    * (no approximation beyond simhash itself), and candidates verify
    * with one exact [[hammingDist]]. Same shuffle shape as
    * [[minhashCandidatePairs]]: one corpus pass (simhash computed once
    * by the codegen'd kernel), one band-keyed shuffle, bucketed — never
    * all-pairs — with `maxBucket` bounding degenerate buckets (an
    * identical-boilerplate band at corpus scale belongs to exact dedup)
    * and pair expansion streaming at O(bucket) memory per row.
    */
  def simhashNearDupPairs(df: DataFrame, keyCol: String, textCol: String,
      maxDist: Int = 3, bits: Int = SimhashBits, nBands: Int = 4,
      maxBucket: Int = 2000): DataFrame = {
    require(maxDist < nBands, s"pigeonhole recall needs maxDist < nBands")
    require(bits % nBands == 0, s"bits $bits not divisible by nBands $nBands")
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1
    val bandArr = array((0 until nBands).map { b =>
      struct(lit(b).as("idx"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("band"))
    }: _*)
    val buckets = observeCap(simhashDf(df, keyCol, textCol, bits)
      .select(col(keyCol).as("id"), col("simhash"), explode(bandArr).as("bd"))
      .groupBy(col("bd.idx").as("band_idx"), col("bd.band").as("band"))
      .agg(collect_list(struct(col("id"), col("simhash"))).as("docs")),
      "simhash", size(col("docs")), maxBucket)
      .where(size(col("docs")).between(2, maxBucket))
    explodePairs(buckets, "docs")
      .select(col("l.id").as("a"), col("r.id").as("b"),
        hammingDist(col("l.simhash"), col("r.simhash")).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** n-gram Jaccard similarity pairs ≥ `threshold`: explode distinct
    * shingles into an inverted index (ONE corpus pass — the md5 shingle
    * work is never recomputed), group doc ids per shingle, emit
    * within-bucket pairs, count intersections per pair, compute
    * |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxDf` caps the document frequency of a shingle: a boilerplate
    * shingle shared by millions of docs would otherwise create one
    * quadratic bucket — the scale-killer at 10^12 docs. Shingles past
    * the cap carry ~zero Jaccard signal (they are corpus-wide noise,
    * the IDF≈0 regime) and are excluded from intersection counts. As
    * with [[minhashCandidatePairs]], the default cap (2,000) is sized
    * so a cap-df shingle's pair output is streamed rows, not an in-row
    * array; pair expansion is O(df) memory per row via [[explodePairs]].
    * At scale this runs AFTER LSH candidate filtering; standalone it is
    * the exact verification step.
    */
  def ngramJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
      threshold: Double, maxDf: Int = 2000): DataFrame = {
    // bucket key = xxhash64(shingle), not the shingle string: the key
    // never reaches the output, and 8-byte long keys shrink the
    // corpus-sized inverted-index shuffle (~18-byte avg shingles) and
    // make the aggregation's key comparisons long-vs-long. A 64-bit
    // collision merges two buckets, inflating one pair's intersection
    // count by 1 — odds ~n_distinct²/2⁶⁵, immaterial beside the
    // shingling approximation itself.
    // explode_outer + post-filter, NOT explode: InferFiltersFromGenerate
    // derives `size(sh)>0 AND isnotnull(sh)` from a plain explode and
    // predicate pushdown substitutes the alias — re-running the shingle
    // KERNEL inside the Filter (2-3 evals/row, seen in the sf0.1 plan).
    // The outer generator gets no inferred filter, and the null guard
    // sits on the GENERATED attribute so it cannot be pushed below
    // (ValidationEngine's outer-path precedent). Exact: a non-null text
    // always yields ≥1 non-null shingle, so no null row ever appears.
    val inv = df
      .select(col(keyCol).as("id"), shingles(col(textCol)).as("sh"))
      .select(col("id"), size(col("sh")).as("n_sh"), explode_outer(col("sh")).as("s0"))
      .where(col("s0").isNotNull)
      .select(col("id"), col("n_sh"), xxhash64(col("s0")).as("s"))
    val buckets = observeCap(inv
      .groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("docs")),
      "jaccard", size(col("docs")), maxDf)
      .where(size(col("docs")).between(2, maxDf))
    explodePairs(buckets, "docs")
      .select(
        col("l.id").as("a"), col("r.id").as("b"),
        col("l.n_sh").as("na"), col("r.n_sh").as("nb"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** One row per (doc, position) segment, shared by [[segmentStats]] and
    * [[dropDuplicateSegments]]. A segment is a non-overlapping chunk of
    * `width` consecutive words (the corpus-agnostic analog of a "line":
    * CCNet/RefinedWeb-style line dedup splits on newlines, which this
    * corpus's single-space convention lacks; a fixed word window gives
    * the same cross-document granularity deterministically). The last
    * chunk may be shorter. Built scan-side from ONE tokenization — the
    * word array is materialized as its own non-cheap multi-referenced
    * alias so CollapseProject cannot inline a split() per reference —
    * then posexploded; no shuffle until the caller keys on content.
    *
    * Null keys/text are excluded (dedup_canonical convention: a null key
    * has no first-occurrence identity, and engines order SQL NULLs
    * differently, so keeping them would be oracle-fragile).
    */
  private def segmentRows(df: DataFrame, keyCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    df.where(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol).as("id"), words(col(textCol)).as("_w"))
      .select(col("id"), posexplode(transform(
        // Column `/` is double division; size >= 1 so the cast's
        // truncation IS floor division here
        sequence(lit(0), ((size(col("_w")) - 1) / width).cast("int")),
        i => array_join(slice(col("_w"), i * width + 1, lit(width)), " "))))
      .toDF("id", "pos", "seg")
  }

  /** Per-document segment-duplication profile: `n_segments` chunk count,
    * `n_dup_segments` chunks whose content occurs MORE THAN ONCE in the
    * whole corpus (within-doc repeats count), and their ratio. The
    * corpus-level companion of [[graft.ops.TextOps.repetitionFeatures]]
    * (which is intra-doc only) and the measurement half of
    * [[dropDuplicateSegments]] — run it first to decide whether segment
    * dedup is worth a rewrite pass.
    *
    * Scale shape: one corpus scan → segment explode (rows × ~words/width),
    * one salted shuffle on the 16-byte segment fingerprint for the
    * skew-safe occurrence attach ([[attachDupGroups]] — a boilerplate
    * segment with df 10⁸ must not become one window task), one hash
    * re-aggregation by doc key. The md5 fingerprint (not an 8-byte
    * hash) keys the shuffle: a collision here MISCOUNTS duplication,
    * and at 10^12 segments 64-bit birthday collisions are expected —
    * same argument as [[exactDuplicates]].
    */
  def segmentStats(df: DataFrame, keyCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    val rows = segmentRows(df, keyCol, textCol, width)
      .select(col("id"), md5(col("seg").cast("binary")).as("_h"))
    attachDupGroups(rows, "_h", col("id"), Nil, "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("_first").isNotNull, 1L).otherwise(0L)).as("n_dup_segments"))
      .withColumn("dup_seg_ratio",
        round(col("n_dup_segments").cast("double") / col("n_segments"), 6))
      .withColumnRenamed("id", keyCol)
  }

  /** Corpus-level segment dedup (the line-dedup pipeline stage): every
    * duplicated segment survives exactly ONCE, at its globally-first
    * occurrence (minimum `(key, position)` — deterministic and
    * partitioning-invariant), and each document's text is rebuilt from
    * its surviving segments in original order. A fully-deduplicated
    * document comes back with empty text and `n_kept = 0` (kept as a
    * row: dropping it is a downstream quality-filter decision, same as
    * CCNet's empty-after-line-dedup docs).
    *
    * Scale shape: one corpus scan → segment explode, ONE salted shuffle
    * on the segment md5 for the skew-safe first-occurrence attach
    * ([[attachDupGroups]]: `min(struct(key,pos))` is salt-decomposable
    * — min of per-salt mins; a unique segment has no attach row and is
    * trivially its own first occurrence), one re-aggregation by doc key
    * whose `collect_list` is bounded by the document's own segment
    * count (never corpus-sized). Output:
    * `(key, text, n_segments, n_kept)`.
    */
  def dropDuplicateSegments(df: DataFrame, keyCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    val occ = struct(col("id"), col("pos"))
    val rows = segmentRows(df, keyCol, textCol, width)
      .select(col("id"), col("pos"), col("seg"),
        md5(col("seg").cast("binary")).as("_h"))
    val keep = col("_first").isNull ||
      occ === struct(col("_first").getField("id"), col("_first").getField("pos"))
    attachDupGroups(rows, "_h", col("id"), Seq("id", "pos"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls the `when` leaves for dropped
        // occurrences; array_sort on (pos, seg) structs restores
        // document order (pos is unique per doc)
        array_join(transform(array_sort(collect_list(
            when(keep, struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("text"))
      .withColumnRenamed("id", keyCol)
      .select(col(keyCol), col("text"), col("n_segments"), col("n_kept"))
  }

  /** One row per ROLLING k-word gram (stride 1, vs [[segmentRows]]'
    * stride-width chunks): `(id, _n = doc word count, pos = gram start,
    * gram)`. Docs shorter than `k` contribute one whole-text gram
    * (slice clamps). Same null-exclusion contract and single-split
    * materialization as [[segmentRows]].
    */
  private def rollingGramRows(df: DataFrame, keyCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"gram width must be positive, got $k")
    df.where(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol).as("id"), words(col(textCol)).as("_w"))
      .select(col("id"), size(col("_w")).as("_n"),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("_w")) - k, lit(0))),
          i => array_join(slice(col("_w"), i + 1, lit(k)), " "))))
      .toDF("id", "_n", "pos", "gram")
  }

  /** Per-document ROLLING-gram duplication profile — the
    * boundary-insensitive companion of [[segmentStats]]: a copied
    * passage that is SHIFTED relative to another doc's word grid never
    * aligns with fixed-width chunks, but its interior k-grams collide
    * exactly (the distributed approximation of suffix-array substring
    * dedup: any shared span of ≥ k words shares ≥ 1 rolling k-gram,
    * and a span of length L shares L−k+1 of them). Output per doc:
    * `n_grams` (= max(words−k+1, 1)), `n_dup_grams` (grams whose
    * content occurs elsewhere in the corpus — or twice in this doc),
    * and their ratio.
    *
    * Scale shape: stride-1 explode is rows × ~words/1 — k× the segment
    * explode — then the same 16-byte-md5 window shuffle and per-doc
    * re-agg as [[segmentStats]]. Use for measurement and flagging;
    * removal policy belongs to [[duplicateSpans]] consumers.
    */
  def rollingGramStats(df: DataFrame, keyCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    // the codegen'd kernel hashes grams straight off one byte pass —
    // no gram strings materialize, and the shuffle key is 8 bytes
    // (collision odds ~2⁻⁶⁴ per gram pair miscount one gram — the
    // ngramJaccardPairs key argument; [[rollingGramStatsRef]] is the
    // string-keyed reference, count-equivalent by OpsSpec). The
    // occurrence attach is the skew-safe [[attachDupGroups]]: a
    // Zipf-head 8-gram (df 10⁸⁺ on a real corpus) was the worst case
    // of the old window form — head grams fully materialized in single
    // tasks BEFORE the `> 1` filter could drop anything.
    // explode_outer + generated-attribute null guard: the plain
    // explode's inferred filter re-ran the gram kernel inside a pushed-
    // down Filter (see ngramJaccardPairs). Exact: the kernel emits ≥1
    // gram for every non-null text, elements never null.
    val rows = df.where(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol).as("id"),
        EU.column(RollingHashes(EU.expression(col(textCol)), k)).as("_hs"))
      .select(col("id"), explode_outer(col("_hs")).as("_h"))
      .where(col("_h").isNotNull)
    attachDupGroups(rows, "_h", col("id"), Nil, "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_first").isNotNull, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_gram_ratio",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
      .withColumnRenamed("id", keyCol)
  }

  /** String-keyed reference form of [[rollingGramStats]] (the gram
    * CONTENT is the grouping key — collision-free, ~k× the
    * allocation); retained as the kernel's differential oracle.
    */
  private[ops] def rollingGramStatsRef(df: DataFrame, keyCol: String,
      textCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    rollingGramRows(df, keyCol, textCol, k)
      .select(col("id"), md5(col("gram").cast("binary")).as("_h"))
      .select(col("id"), count(lit(1)).over(w).as("_c"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_c") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_gram_ratio",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
      .withColumnRenamed("id", keyCol)
  }

  /** Merged duplicated SPANS per document: the word-index intervals
    * covered by corpus-duplicated rolling k-grams, overlapping-or-
    * adjacent intervals merged (classic island detection: a new island
    * starts when a gram begins past the running max end + 1). Output
    * `(key, span_start, span_end)` — inclusive word indices, one row
    * per maximal duplicated region; docs with no duplicated gram emit
    * nothing. This is the detection layer of suffix-array-style
    * substring dedup: what to DO with a span (drop it from all but one
    * occurrence, drop the doc, weight it down) is downstream policy.
    *
    * Scale shape: the same gram explode + skew-safe duplicate attach as
    * [[rollingGramStats]] (inner form — unique grams leave the frame at
    * the join), then one per-doc window ordered by gram start (bounded
    * by the doc's own gram count) for the island cumsum, and a
    * (doc, island) hash re-agg.
    */
  def duplicateSpans(df: DataFrame, keyCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    // kernel path (same keys as rollingGramStats); the struct variant
    // carries the word count the short-doc end clamp needs downstream
    // of the explode — `_s` is a non-cheap multi-referenced alias, so
    // the kernel runs once per row
    val spanRows = df
      .where(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol).as("id"),
        EU.column(RollingHashesWithCount(EU.expression(col(textCol)), k)).as("_s"))
      .select(col("id"), col("_s.n_words").as("_n"),
        posexplode(col("_s.hs")).as(Seq("pos", "_h")))
    duplicateSpansFrom(spanRows, keyCol, k)
  }

  /** Per-document duplicated-WORD fraction — the gate-able scalar on
    * top of [[duplicateSpans]]: `dup_words` = words covered by merged
    * duplicated spans (islands are disjoint by construction, so their
    * lengths sum exactly), `dup_word_ratio` = that over the doc's word
    * count. Docs with no duplicated gram report 0, not absence —
    * filterable like [[graft.ops.TextOps.repetitionFeatures]] but
    * CROSS-corpus. Same kernel scan + two windows as the spans op,
    * plus one per-doc re-agg.
    */
  def duplicateSpanFraction(df: DataFrame, keyCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    // one cheap split-size pass for the word counts (tokenCount ≡ the
    // kernel's n_words: both count separators + 1), one spans run for
    // the covered words — the gram KERNEL runs exactly once in this
    // plan (the counts side previously ran RollingHashesWithCount a
    // second time, hashing every word and folding every window just to
    // read n_words; plan-asserted single-kernel by OpsSpec). The spans
    // side is corpus-duplicated-only (small), so the left join back is
    // cheap relative to the gram shuffle.
    val counts = df
      .where(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol), tokenCount(col(textCol)).as("n_words"))
    val spans = duplicateSpans(df, keyCol, textCol, k)
      .groupBy(col(keyCol))
      .agg(sum(col("span_end") - col("span_start") + 1L).as("_dw"))
    counts.join(spans, Seq(keyCol), "left")
      .select(col(keyCol), col("n_words"),
        coalesce(col("_dw"), lit(0L)).as("dup_words"),
        round(coalesce(col("_dw"), lit(0L)).cast("double") /
          col("n_words"), 6).as("dup_word_ratio"))
  }

  /** String-keyed reference form of [[duplicateSpans]] (gram CONTENT as
    * the grouping key); the kernel's differential oracle.
    */
  private[ops] def duplicateSpansRef(df: DataFrame, keyCol: String,
      textCol: String, k: Int): DataFrame =
    duplicateSpansFrom(
      rollingGramRows(df, keyCol, textCol, k)
        .select(col("id"), col("_n"), col("pos"),
          md5(col("gram").cast("binary")).as("_h")),
      keyCol, k)

  /** Shared tail: skew-safe dup-row restriction ([[attachDupGroups]]
    * inner — the old `count OVER (PARTITION BY _h)` materialized every
    * Zipf-head gram's occurrences in one task BEFORE the `> 1` filter)
    * → short-doc end clamp → island merge. Input: `(id, _n, pos, _h)`.
    * The per-doc island window is bounded by the doc's own gram count.
    */
  private def duplicateSpansFrom(rows: DataFrame, keyCol: String,
      k: Int): DataFrame = {
    val dw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val prevMaxEnd = max(col("end")).over(
      dw.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    attachDupGroups(rows, "_h", col("id"), Nil, "inner")
      // semantically redundant after the inner join, but it keeps
      // `_first` (and with it the payload references on the aggregation
      // branch) alive through ColumnPruning — see [[attachDupGroups]]
      .where(col("_first").isNotNull)
      .withColumn("end", least(col("pos") + (k - 1), col("_n") - 1))
      .withColumn("_new",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd + 1, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_new")).over(
        dw.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("id"), col("_island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("end")).cast("long").as("span_end"))
      .withColumnRenamed("id", keyCol)
      .select(col(keyCol), col("span_start"), col("span_end"))
  }

  /** Materialized segment index: the corpus's DISTINCT segment
    * fingerprints (16-byte md5 of each width-word chunk), parquet-
    * partitioned by fingerprint hash — the segment-granularity sibling
    * of [[exactWriteIndex]], enabling incremental line dedup of a daily
    * batch without re-scanning the corpus (what cross-dump line dedup
    * does across crawl snapshots). The index is a content SET: appends
    * may re-add fingerprints already present (probes treat presence as
    * boolean, so duplicates cost index bytes, never correctness). Same
    * `nPartBuckets` sizing rule as [[exactWriteIndex]].
    */
  def segmentWriteIndex(df: DataFrame, keyCol: String, textCol: String,
      path: String, width: Int = 8, nPartBuckets: Int = 256,
      bid: Long = -1L): Unit =
    segmentIndexRows(df, keyCol, textCol, width, nPartBuckets, bid)
      .write.mode("overwrite").partitionBy("_pb").parquet(path)

  /** Fold a batch's segment vocabulary INTO an existing
    * [[segmentWriteIndex]] — the maintenance half of the ingest loop.
    * `width`/`nPartBuckets` MUST match the build values.
    *
    * `bid` stamps every appended fingerprint with the writer's batch id
    * (stored as the `bid` column; -1 for untracked batch builds). It
    * exists for AT-LEAST-ONCE writers — a replayed append is an inert
    * duplicate (the index is a set), and a probe reading with
    * `maxBid = Some(thisBatch)` cannot see the replaying batch's own
    * prior append. See [[segmentIncrementalRewrite]].
    */
  def segmentAppendIndex(newBatch: DataFrame, keyCol: String, textCol: String,
      path: String, width: Int = 8, nPartBuckets: Int = 256,
      bid: Long = -1L): Unit =
    segmentIndexRows(newBatch, keyCol, textCol, width, nPartBuckets, bid)
      .write.mode("append").partitionBy("_pb").parquet(path)

  private def segmentIndexRows(df: DataFrame, keyCol: String, textCol: String,
      width: Int, nPartBuckets: Int, bid: Long): DataFrame =
    segmentRows(df, keyCol, textCol, width)
      .select(unhex(md5(col("seg").cast("binary"))).as("fp"))
      .distinct()
      .withColumn("_pb", pmod(xxhash64(col("fp")), lit(nPartBuckets.toLong)))
      .withColumn("bid", lit(bid))

  /** Incremental segment dedup: rewrite a NEW batch's documents dropping
    * every segment already present in the corpus (via its
    * [[segmentWriteIndex]] — OLD WINS regardless of key order, because
    * the corpus is immutable) and, among the batch's own segments, every
    * occurrence after the batch-internal first (min `(key, pos)`, the
    * same rule as [[dropDuplicateSegments]]). Output schema ≡
    * [[dropDuplicateSegments]]: `(key, text, n_segments, n_kept)`.
    * When every old key precedes every batch key, this is EXACTLY the
    * full-corpus rewrite restricted to batch docs (asserted by an
    * OpsSpec differential and the `dedup_seg_incr` oracle).
    *
    * Scale shape: one scan of the BATCH text, a partition-pruned index
    * read (`_pb IN (batch's fingerprint buckets)`), a LEFT SEMI of
    * pruned index rows against the batch's distinct fingerprints
    * ([[probeIndex]]: broadcast while the batch's own segment
    * vocabulary is small by the daily-ingest contract, shuffle semi
    * beyond), then one batch-sized skew-safe group attach + re-agg.
    * Corpus text is never re-read.
    */
  def segmentIncrementalRewrite(spark: SparkSession,
      indexPath: String, newBatch: DataFrame, keyCol: String, textCol: String,
      width: Int = 8, nPartBuckets: Int = 256,
      maxBid: Option[Long] = None): DataFrame =
    segmentIncrementalRewriteAt(spark, indexPath, newBatch, keyCol, textCol,
      width, nPartBuckets, maxBid, Tiers())

  private[ops] def segmentIncrementalRewriteAt(spark: SparkSession,
      indexPath: String, newBatch: DataFrame, keyCol: String, textCol: String,
      width: Int, nPartBuckets: Int, maxBid: Option[Long],
      tiers: Tiers): DataFrame = {
    val segs = segmentRows(newBatch, keyCol, textCol, width)
      .withColumn("fp", unhex(md5(col("seg").cast("binary"))))
      .withColumn("_pb", pmod(xxhash64(col("fp")), lit(nPartBuckets.toLong)))
    // maxBid: replay safety for at-least-once writers (foreachBatch) —
    // "old" means appended by a STRICTLY EARLIER batch, so a replayed
    // batch whose own append already committed does not see its own
    // vocabulary and rewrite every doc to empty text. Requires the
    // index to carry [[segmentAppendIndex]]'s `bid` column.
    val (oldFps, nKeys) = probeIndex(spark, indexPath, segs.select("fp", "_pb"),
      tiers, maxBid.map(b => col("bid") < lit(b)))
    // oldHit ⊆ the batch fingerprints, so the probe's key count gates
    // its broadcast too
    val oldHit = oldFps
      .select(col("fp")).distinct()
      .withColumn("_old", lit(true))
    val occ = struct(col("id"), col("pos"))
    val keep = col("_old").isNull &&
      (col("_first").isNull ||
        occ === struct(col("_first").getField("id"), col("_first").getField("pos")))
    attachDupGroups(
      segs.drop("_pb").join(broadcastIfFew(oldHit, nKeys, tiers), Seq("fp"), "left"),
      "fp", col("id"), Seq("id", "pos"), "left",
      // oldHit attaches ONE distinct marker row per fingerprint, so the
      // attach input is exactly the batch's segment rows — bound the
      // probe-skip decision on the batch frame, not the index leaves
      sizeBoundOn = Some(newBatch))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(keep, struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("text"))
      .withColumnRenamed("id", keyCol)
      .select(col(keyCol), col("text"), col("n_segments"), col("n_kept"))
  }

  /** Resolve candidate pairs into duplicate clusters: connected
    * components over the pair graph, labeling every member with the
    * component's minimum key (`cluster_id`). This is the step after LSH /
    * Jaccard pairing in a real dedup pipeline — the keep-list is
    * `cluster_id` itself, the drop-list is `id =!= cluster_id`.
    *
    * Algorithm: iterative min-label propagation PLUS pointer jumping
    * (`lbl := lbl(lbl)`) per round. Propagation alone needs
    * O(graph diameter) rounds — a chain of near-dups at corpus scale
    * could be thousands of hops; the jumping step halves label-tree
    * depth each round, giving O(log d) rounds total (the same
    * convergence class as the alternating large-star/small-star
    * contraction of Kiveris et al., "Connected Components in MapReduce
    * and Beyond"). Each round is two key-shuffles (neighbor-min join +
    * jump self-join) and one count; NO per-row neighborhood arrays are
    * ever built (`collect_list` of a cluster would re-create the
    * in-one-row O(n) blowup [[explodePairs]] exists to avoid — a hub
    * node of a 10^8-doc cluster would hold the whole cluster in one
    * value).
    *
    * Labels only decrease, so convergence is exact: stop when a round
    * changes nothing. `localCheckpoint` truncates the growing lineage
    * each round (on a cluster with a reliable checkpoint dir you would
    * use `checkpoint` instead — same seam); edges are materialized once
    * and re-scanned per round.
    *
    * Output: `(id, cluster_id)` — one row per node that appears in at
    * least one pair (singletons are not duplicates and never enter the
    * graph). Long- and string-keyed pair graphs of at most
    * [[CcMaxLocalEdges]] pairs and [[CcMaxLocalBytes]] bytes of keys
    * skip the rounds: one aggregate job measures the pairs, one collect
    * brings them to the driver, and union-find labels them there. String
    * keys are ranked in Spark's binary UTF-8 order (`UTF8String`), so the
    * label is the same component minimum `min` gives in the rounds.
    * Other key types, null endpoints and larger graphs take the rounds.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponentsAt(pairs, aCol, bCol, Tiers())

  /** Driver-side union-find over collected pairs `(as(i), bs(i))`, with
    * the keys ranked by `sorted`: every key is labeled with the lowest
    * ranked key of its component — the same contract as the iterative
    * path when `sorted` is Spark's order, proven equal on random graphs
    * by OpsSpec.
    */
  private def localComponents[K: scala.reflect.ClassTag](as: Array[K], bs: Array[K],
      sorted: Array[K] => Array[K]): Seq[(K, K)] = {
    val keys = sorted((as ++ bs).distinct)
    val rank = new java.util.HashMap[K, Int](keys.length * 2)
    keys.indices.foreach(i => rank.put(keys(i), i))
    val parent = Array.range(0, keys.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    as.indices.foreach { i =>
      val (ra, rb) = (find(rank.get(as(i))), find(rank.get(bs(i))))
      // union by rank order: the lower-ranked (smaller) root stays a root
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    keys.indices.map(i => (keys(i), keys(find(i))))
  }

  /** Strings in Spark's binary UTF-8 order, the order `min` and `least`
    * use on a string column. It differs from `String.compareTo` (UTF-16
    * code units) for keys past U+FFFF: "😀" sorts after "｡" here.
    */
  private def utf8Sorted(keys: Array[String]): Array[String] =
    keys.map(k => (org.apache.spark.unsafe.types.UTF8String.fromString(k), k))
      .sortWith((x, y) => x._1.compareTo(y._1) < 0).map(_._2)

  /** True when a scan of `df` re-reads materialized rows: its optimized
    * plan is a checkpoint or local relation, under at most a projection.
    */
  private def isMaterialized(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    def leaf(p: LogicalPlan) = p.isInstanceOf[LogicalRDD] || p.isInstanceOf[LocalRelation]
    df.queryExecution.optimizedPlan match {
      case Project(_, child) => leaf(child)
      case p => leaf(p)
    }
  }

  private[ops] def connectedComponentsAt(pairs: DataFrame, aCol: String,
      bCol: String, tiers: Tiers): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{LongType, StringType}
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // localCheckpoint persists its RDD for the Dataset's lifetime; in an
    // iterative loop the PREVIOUS round's labels-copy must be freed
    // explicitly or block storage grows by one full labels-copy per
    // round (a real leak at 10^12 nodes). Track the RDD ids each
    // checkpoint adds and unpersist them when the round is superseded.
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def free(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

    val ab = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val keyType = ab.schema("a").dataType
    val localKeyed = ab.schema("b").dataType == keyType &&
      (keyType == LongType || keyType == StringType)
    // the pairs are scanned twice (the gate, then the collect or the edge
    // checkpoint): materialize them once unless they already are
    val (p, pIds) =
      if (!localKeyed || isMaterialized(ab)) (ab, Set.empty[Int]) else checkpointTracked(ab)

    // local fast path: one aggregate gives the exact pair count, the key
    // bytes and the null endpoints, and bounds the collect (see
    // [[CcMaxLocalEdges]], [[CcMaxLocalBytes]]). A null endpoint
    // (impossible for LSH pairs, representable in the general contract)
    // falls back to the iterative path, whose null-join semantics are the
    // documented behavior.
    if (localKeyed) {
      val bytes =
        if (keyType == StringType)
          coalesce(sum(octet_length(col("a")) + octet_length(col("b"))), lit(0L))
        else count(lit(1)) * 16L
      val gate = p.agg(count(lit(1)), bytes.cast("long"),
        count_if(col("a").isNull || col("b").isNull)).head()
      if (gate.getLong(0) <= tiers.ccLocalEdges && gate.getLong(1) <= tiers.ccLocalBytes &&
          gate.getLong(2) == 0) {
        val rows = p.collect()
        // LocalRelation (not parallelize): the result carries REAL size
        // stats, so a downstream join against the corpus (canonical
        // selection) can plan the broadcast this label frame merits
        val labeled =
          if (keyType == LongType)
            spark.createDataset(localComponents(rows.map(_.getLong(0)),
              rows.map(_.getLong(1)), (k: Array[Long]) => k.sorted))(
              Encoders.product[(Long, Long)])
          else
            spark.createDataset(localComponents(rows.map(_.getString(0)),
              rows.map(_.getString(1)), utf8Sorted))(
              Encoders.product[(String, String)])
        free(pIds)
        return labeled.toDF("id", "cluster_id")
      }
    }

    val (edges, edgeIds) = checkpointTracked(
      p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst"))))
    free(pIds)

    var (labels, labelIds) = checkpointTracked(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < CcMaxRounds) {
      // neighbor-min: for each node, the smallest label among neighbors
      val nbrMin = edges
        .join(labels.select(col("id").as("did"), col("lbl").as("dlbl")),
          col("dst") === col("did"))
        .groupBy(col("src")).agg(min(col("dlbl")).as("nmin"))
      // checkpoint prop: it feeds BOTH sides of the pointer-jump join
      // below, and an unmaterialized plan would re-run the neighbor-min
      // join+aggregation once per side — 2x the per-round work
      val (prop, propIds) = checkpointTracked(labels
        .join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl1")))
      // pointer jump: adopt the label of the current label's node
      val ptr = prop.select(col("id").as("pid"), col("lbl1").as("plbl"))
      val (next, nextIds) = checkpointTracked(prop
        .join(ptr, col("lbl1") === col("pid"), "left")
        .select(col("id"), col("prev"),
          least(col("lbl1"), coalesce(col("plbl"), col("lbl1"))).as("lbl")))
      changed = next.where(col("lbl") =!= col("prev")).count()
      free(propIds)  // prop was only needed to build this round's next
      free(labelIds) // previous round's labels-copy is now superseded
      labels = next.select(col("id"), col("lbl"))
      labelIds = nextIds
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $CcMaxRounds rounds")
    free(edgeIds) // the result no longer needs the edge blocks
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** The guarded eval-side attach shared by text and token decon: LEFT
    * SEMI of exploded corpus keys against the distinct eval key set —
    * direct broadcast for eval inputs estimated at most
    * [[DeconBenchMaxBytes]], else one count job into [[broadcastIfFew]].
    */
  private[ops] def deconSemiJoin(corpusKeys: DataFrame, benchKeys: DataFrame,
      benchInput: DataFrame, on: Seq[String], tiers: Tiers): DataFrame = {
    val side =
      if (leafInputBytes(benchInput) <= tiers.deconBenchBytes) broadcast(benchKeys)
      else broadcastIfFew(benchKeys, benchKeys.count(), tiers)
    corpusKeys.join(side, on, "left_semi")
  }

  /** Benchmark decontamination: per corpus doc sharing at least one word
    * 3-gram with the benchmark set, the count of overlapping distinct
    * shingles (`n_overlap`) and the contaminated fraction of the doc's
    * own shingle set (`contamination`). Docs with zero overlap produce
    * no row — at corpus scale the output is benchmark-adjacent, not
    * corpus-sized.
    *
    * Scale shape: the benchmark side (eval sets — thousands of docs by
    * contract, vs 10^12 corpus docs) collapses to its DISTINCT hashed
    * shingle set and is broadcast; the corpus side is ONE scan
    * (codegen'd [[shingles]] → explode → 8-byte `xxhash64` keys, same
    * collision argument as [[ngramJaccardPairs]]) into a broadcast
    * LEFT SEMI join — no shuffle of corpus data at all — followed by a
    * per-doc hash aggregation with map-side partial combine. Spark
    * plans the semi join as BroadcastHashJoin; nothing corpus-sized
    * ever crosses the wire.
    */
  def contaminationScores(corpus: DataFrame, keyCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String): DataFrame =
    contaminationScoresAt(corpus, keyCol, textCol, bench, benchTextCol, Tiers())

  private[ops] def contaminationScoresAt(corpus: DataFrame, keyCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String,
      tiers: Tiers): DataFrame = {
    // explode_outer + generated-attribute null guard on BOTH sides: the
    // plain explode's inferred filter re-ran the shingle kernel inside a
    // pushed-down Filter (see ngramJaccardPairs). Exact: non-null text
    // yields ≥1 non-null shingle, null-text rows surface as one null row
    // and are dropped by the un-pushable guard.
    val bsh = bench
      .select(shingles(col(benchTextCol)).as("sh"))
      .select(explode_outer(col("sh")).as("s0"))
      .where(col("s0").isNotNull)
      .select(xxhash64(col("s0")).as("s"))
      .distinct()
    deconSemiJoin(
      corpus
        .select(col(keyCol).as("id"), shingles(col(textCol)).as("sh"))
        .select(col("id"), size(col("sh")).as("n_sh"), explode_outer(col("sh")).as("s0"))
        .where(col("s0").isNotNull)
        .select(col("id"), col("n_sh"), xxhash64(col("s0")).as("s")),
      bsh, bench, Seq("s"), tiers)
      .groupBy(col("id"), col("n_sh"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap").cast("double") / col("n_sh"), 6))
      .select(col("id"), col("n_overlap"), col("contamination"))
  }

  /** Embedding cosine near-duplicate pairs within a blocking key (e.g. a
    * label or an LSH bucket): pairs with cosine ≥ threshold. The block
    * join keeps the pair space bounded; cosine is a fused zip_with +
    * aggregate in doubles.
    */
  def embeddingNearDupPairs(df: DataFrame, keyCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // precompute each row's norm BEFORE the block join: O(rows) norm
    // work instead of O(pairs) — inside the join each pair costs one
    // dot product, not three
    val l = df.select(col(blockCol).as("blk"), col(keyCol).as("a"), col(vecCol).as("va"),
      Similarity.norm(col(vecCol)).as("_na"))
    val r = df.select(col(blockCol).as("blk"), col(keyCol).as("b"), col(vecCol).as("vb"),
      Similarity.norm(col(vecCol)).as("_nb"))
    l.join(r, Seq("blk")).where(col("a") < col("b"))
      .withColumn("cos",
        round(Similarity.dot(col("va"), col("vb")) / (col("_na") * col("_nb")), 6))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
