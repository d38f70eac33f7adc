package graft

import graft.ops.{Dedup, Pipeline, SeqOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.lang.management.ManagementFactory

/** Scale soak: the dedup trio (MinHash-LSH pairs, n-gram Jaccard pairs,
  * SimHash groups) plus exact dedup over a synthetic text corpus of tens
  * of millions of documents at local[32], recording wall time AND peak
  * heap per operator — the memory cliffs sf0.1 cannot surface,
  * especially on the bounded pair-expansion path.
  *
  * Corpus (deterministic, parallelism-independent, no joins): `rows`
  * docs of 24 words drawn from the poolSize words `tok0`, `tok1`, … by
  * `hash(base, j)`; each word is built from its pool index, so no plan
  * carries the pool itself.
  * Duplicates are arithmetic, not lookups — a doc whose id hits the
  * duplicate lane simply evaluates its neighbor's word formula:
  *   - id % 16 == 0  → base = id+1: exact duplicate of doc id+1
  *   - id % 16 == 2  → base = id+1 with the last word re-salted:
  *                     near-duplicate of doc id+1 (23/24 words shared)
  *   - id % 10007 == 0 → one shared boilerplate text: a genuinely hot
  *     LSH/shingle bucket (~rows/10007 identical docs) that MUST be
  *     handled by the maxBucket/maxDf caps, not by luck
  * Everything is plain codegen'd arithmetic (hash + pmod + concat)
  * — no HOFs — so generation is scan-speed and the corpus is written to
  * parquet once, untimed.
  *
  * Output: one JSON line per op `{op, sec, rows, out_rows, peak_heap_mb}`
  * and a trailing `{"metric":"soak_total",...}` summary.
  */
object SoakBench {

  /** Word-pool size (prime). Controls the random shingle-collision
    * rate: 509 makes nearly every 3-gram shared by a handful of
    * unrelated docs (mean df ~3 at 20M rows — an adversarial flood of
    * candidate pairs, ~700M at 20M docs); 65521 makes non-duplicate
    * shingles effectively unique (the realistic regime, where inverted
    * index buckets below size 2 are dropped before pair expansion).
    */
  private val DefaultPool = 509

  def corpus(spark: SparkSession, rows: Long,
      poolSize: Int = DefaultPool): DataFrame = {
    val base = when(pmod(col("id"), lit(16)).isin(0, 2), col("id") + 1)
      .otherwise(col("id"))
    val words = (0 until 24).map { j =>
      val salt =
        if (j == 23)
          when(pmod(col("id"), lit(16)) === 2, lit(j + 1000)).otherwise(lit(j))
        else lit(j)
      concat(lit("tok"), pmod(hash(col("_base"), salt), lit(poolSize)).cast("string"))
    }
    val boiler = (0 until 24).map(j => s"tok${j * 7 % poolSize}").mkString(" ")
    spark.range(rows)
      .withColumn("_base", base)
      .select(
        concat(lit("d"), col("id").cast("string")).as("doc_id"),
        when(pmod(col("id"), lit(10007)) === 0, lit(boiler))
          .otherwise(concat_ws(" ", words: _*)).as("text"))
  }

  /** Mega-hot-key corpora for the skew lanes: ONE content fingerprint
    * carrying HALF the corpus — the Zipf-head regime the salted
    * occurrence attach exists for (a `PARTITION BY fingerprint` window
    * would route all ~rows/2 occurrences to one buffering task).
    * Deterministic and collision-free: non-hot words embed the doc id.
    *
    * `wholeDoc = true`: odd ids are ONE identical 24-word document
    * (exact-dedup hot group of rows/2). `wholeDoc = false`: odd ids
    * share their first 8 words (ONE hot width-8 segment and ONE hot
    * rolling 8-gram, each duplicated rows/2 times) with unique tails,
    * even ids fully unique — so Σ n_dup_segments = Σ n_dup_grams =
    * rows/2 EXACTLY.
    */
  def megahotCorpus(spark: SparkSession, rows: Long,
      wholeDoc: Boolean): DataFrame = {
    val hot = (0 until 8).map(j => s"hot$j").mkString(" ")
    def uniq(tag: String, j: Int) =
      concat(lit(s" $tag"), col("id").cast("string"), lit(s"_$j"))
    val oddText =
      if (wholeDoc) lit(((0 until 24).map(j => s"same$j")).mkString(" ")) +: Nil
      else lit(hot) +: (8 until 24).map(j => uniq("o", j))
    val evenText = lit("e0") +: (1 until 24).map(j => uniq("e", j))
    spark.range(rows).select(
      concat(lit("d"), col("id").cast("string")).as("doc_id"),
      when(pmod(col("id"), lit(2L)) === 1L, concat(oddText: _*))
        .otherwise(concat(evenText: _*)).as("text"))
  }

  /** Max single-task duration and the worst per-stage skew observed
    * while `f` runs — the straggler evidence for the mega-hot lanes: a
    * hot-key cliff shows up as ONE task of a stage running a large
    * multiple of its siblings (all the key's rows in one task), NOT as
    * a uniformly expensive stage (a big corpus legitimately has stages
    * whose every task is long). Returned skew = max over qualifying
    * stages (≥ 8 tasks, ≥ 10% of total task time) of
    * stage_max / stage_avg.
    */
  private def withMaxTask(spark: SparkSession)(f: => Long): (Long, Long, Double) = {
    val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null) {
          maxMs.accumulateAndGet(e.taskInfo.duration, Math.max)
          byStage.merge(e.stageId, (e.taskInfo.duration, 1L, e.taskInfo.duration),
            (a, b) => (Math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      Thread.sleep(1000) // listener delivery is async; drain the bus
      import scala.jdk.CollectionConverters._
      val stages = byStage.asScala.toSeq
      val totalMs = stages.map(_._2._3).sum.max(1L)
      val top = stages.sortBy(-_._2._1).take(5)
        .map { case (sid, (mx, n, sm)) =>
          f"stage $sid: max ${mx / 1e3}%.1f s over $n tasks (sum ${sm / 1e3}%.0f s)" }
      println(s"""{"top_stage_tasks":"${top.mkString("; ")}"}""")
      val worstSkew = stages.collect {
        case (_, (mx, n, sm)) if n >= 8 && sm * 10 >= totalMs =>
          mx.toDouble / (sm.toDouble / n)
      }.foldLeft(1.0)(Math.max)
      (out, maxMs.get(), worstSkew)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `f`, returning (seconds, output rows, peak heap-used MB during
    * the op). The peak is sampled at 50 ms from `MemoryMXBean` — the
    * whole-heap used figure at one instant. (Summing per-pool
    * `getPeakUsage` instead over-counts: G1 pool peaks occur at
    * different times, and the sum can exceed -Xmx.)
    */
  private def timed(f: => Long): (Double, Long, Long) = {
    val mem = ManagementFactory.getMemoryMXBean
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val poller = new Thread(() => {
      while (!stop) {
        peak.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, Math.max)
        Thread.sleep(50)
      }
    })
    poller.setDaemon(true)
    poller.start()
    val t0 = System.nanoTime()
    val out = f
    val sec = (System.nanoTime() - t0) / 1e9
    stop = true
    poller.join()
    (sec, out, peak.get() / (1024 * 1024))
  }

  /** The `sessions` stage materializes the event corpus here; the
    * `sessions_bucketed` stage re-reads it so both time the same input.
    */
  private def soakEventsPath(rows: Long): String =
    s"/tmp/graft_soak_events_$rows"

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SOAK_ROWS", "20000000").toLong
    val poolSize = sys.env.getOrElse("SPARK_GRAFT_SOAK_POOL", DefaultPool.toString).toInt
    val data = s"/tmp/graft_soak_corpus_${rows}_p$poolSize"

    val spark = Main.session("graft-soak", "WARN")
    val cpus = spark.sparkContext.defaultParallelism

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(data)))
      corpus(spark, rows, poolSize).write.mode("overwrite").parquet(data)
    val docs = spark.read.parquet(data)

    // untimed warmup on a small slice: JIT + codegen compilation, so the
    // first timed op measures the operator, not JVM warmup (measured
    // ~25 s of warmup folded into op 1 otherwise)
    locally {
      val w = docs.limit(100000)
      Dedup.exactDuplicates(w, "doc_id", "text").count()
      Dedup.minhashCandidatePairs(
        Dedup.minhashSignature(w, "doc_id", "text"), "doc_id").count()
      Dedup.ngramJaccardPairs(w, "doc_id", "text", threshold = 0.8).count()
      Dedup.simhashDf(w, "doc_id", "text").count()
    }

    // peak_heap_mb includes not-yet-collected garbage under the lazy
    // large heap — the soak's memory evidence is completion under the
    // bounded -Xmx; the peak column shows headroom
    val results = scala.collection.mutable.ArrayBuffer[(String, Double, Long, Long)]()
    // SPARK_GRAFT_SOAK_OPS=op1,op2 re-runs a subset against the cached
    // corpus (iterating on one op without paying for the full soak)
    val only = sys.env.get("SPARK_GRAFT_SOAK_OPS").map(_.split(",").toSet)
    def run(op: String)(f: => Long): Unit = if (only.forall(_.contains(op))) {
      val (sec, out, peak) = timed(f)
      results += ((op, sec, out, peak))
      println(f"""{"op":"$op","sec":$sec%.1f,"rows":$rows,"out_rows":$out,"peak_heap_mb":$peak}""")
    }

    run("exact_dup_groups") {
      Dedup.exactDuplicates(docs, "doc_id", "text").count()
    }
    run("minhash_lsh_pairs") {
      val sig = Dedup.minhashSignature(docs, "doc_id", "text")
      Dedup.minhashCandidatePairs(sig, "doc_id").count()
    }
    run("jaccard_pairs") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8).count()
    }
    run("simhash_groups") {
      Dedup.simhashDf(docs, "doc_id", "text")
        .groupBy("simhash").count().where(col("count") > 1).count()
    }
    run("segment_dedup") {
      // segment (line) dedup at width 8: every doc is exactly 3
      // segments (24 words), so Σ n_segments = 3·rows EXACTLY. The dup
      // lanes give the duplication arithmetic: each exact-dup pair
      // (rows/16) duplicates all 3 segments of both docs (6), each
      // near-dup pair (rows/16, last word differs → third segment
      // unique) duplicates 4, and the ~rows/10007 identical boilerplate
      // docs duplicate all 3·B — ≈ rows·10/16 + 3·rows/10007 total,
      // banded for lane interactions. out_rows = Σ n_dup_segments.
      val st = Dedup.segmentStats(docs, "doc_id", "text", width = 8)
        .agg(sum("n_segments"), sum("n_dup_segments")).collect()(0)
      require(st.getLong(0) == 3 * rows,
        s"segment count must be exact: ${st.getLong(0)} != ${3 * rows}")
      val dup = st.getLong(1)
      val want = rows * 10 / 16 + 3 * (rows / 10007)
      require(math.abs(dup - want) <= rows / 1000,
        s"dup segments $dup outside band around $want")
      dup
    }
    run("segment_rewrite") {
      // the rewrite half: per dup GROUP one occurrence survives, so
      // dropped = rows/16·3 (exact pairs) + rows/16·2 (near pairs)
      // + 3·(B−1) (boilerplate collapses to one doc's segments).
      // out_rows = Σ kept segments; Σ n_segments re-require'd exact.
      val rw = Dedup.dropDuplicateSegments(docs, "doc_id", "text", width = 8)
        .agg(sum("n_segments"), sum("n_kept")).collect()(0)
      require(rw.getLong(0) == 3 * rows,
        s"rewrite segment count must be exact: ${rw.getLong(0)} != ${3 * rows}")
      val dropped = rw.getLong(0) - rw.getLong(1)
      val want = rows * 5 / 16 + 3 * (rows / 10007 - 1)
      require(math.abs(dropped - want) <= rows / 1000,
        s"dropped segments $dropped outside band around $want")
      rw.getLong(1)
    }
    run("simhash_pairs") {
      // banded-hamming near-dup pairs; the boilerplate lane (~rows/10007
      // identical docs → one identical simhash in every band) is the
      // hot-bucket case the maxBucket cap must absorb, same as LSH
      Dedup.simhashNearDupPairs(docs, "doc_id", "text").count()
    }
    run("canonical_selection") {
      // full near-dup resolution: pairs → components → quality argmax
      // per cluster. out_rows = clusters + singletons = post-dedup corpus
      val sig = Dedup.minhashSignature(docs, "doc_id", "text")
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id")
      val labels = Dedup.connectedComponents(pairs, "a", "b")
      val scored = TextOps.qualityFeatures(docs, "text")
        .select(col("doc_id"), col("quality"))
      Pipeline.canonicalPerCluster(scored, "doc_id", "quality", labels).count()
    }
    run("seq_pack") {
      // cumsum-bin packing: one window shuffle keyed (stratum, shard);
      // sharding bounds the skewed-stratum partition sort. The action
      // must consume bin_id — a bare count() lets Catalyst prune the
      // Window operator and time only the scan. out_rows = bins.
      val strata = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(10))
      Pipeline.packSequences(
          docs.withColumn("n_tok", TextOps.tokenCount(col("text")))
            .withColumn("stratum", strata),
          "doc_id", "n_tok", "stratum", budget = 2048L)
        .select(col("stratum"), col("shard"), col("bin_id"))
        .distinct().count()
    }
    run("cluster_resolution") {
      // pairs → connected components at corpus scale: exercises the
      // iterative propagate+jump loop's shuffles and localCheckpoints
      // over millions of pairs (out_rows = nodes in ≥1 pair)
      val sig = Dedup.minhashSignature(docs, "doc_id", "text")
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id")
      Dedup.connectedComponents(pairs, "a", "b").count()
    }
    run("token_stats") {
      // fused TokenStats kernel over the PRIMARY pre-tokenized shape
      // (SequenceGen in place — no I/O, isolates the kernel). The timed
      // action must CONSUME the aggregated values — count() over the
      // groupBy lets ColumnPruning drop the sum aggregates and times
      // only source generation (measured: 1.2 s non-measurement vs the
      // real pass). out_rows = total OOV tokens, which the injection
      // arithmetic pins EXACTLY: the bad-token lane (id %% 1000 == 59)
      // injects one out-of-range token per row → rows/1000.
      val seqs = graft.gen.SequenceGen.generate(spark, rows)
      SeqOps.oovStats(seqs, "source", "tokens")
        .agg(sum(col("n_oov"))).collect()(0).getLong(0)
    }
    run("seq_repetition") {
      // duplicate-token-3-gram ratio per sequence; the dup_ratio filter
      // consumes the distinct-gram half of the kernel (~rows·E[n_tok]
      // set inserts under the bounded heap). out_rows = sequences with
      // non-null stats = rows exactly (arrays are never null here;
      // empty arrays report the one whole-sequence gram, ratio 0).
      val seqs = graft.gen.SequenceGen.generate(spark, rows)
      SeqOps.repetition(seqs, "doc_id", "tokens")
        .where(col("dup_ratio") >= 0).count()
    }
    run("rolling_dedup") {
      // boundary-insensitive rolling-gram duplication at k=8: every doc
      // is EXACTLY 17 grams (24 words, stride 1) → Σ n_grams = 17·rows.
      // Lane arithmetic: exact pairs duplicate all 17 grams of both
      // docs, near pairs 16 of each (only the gram touching the salted
      // last word is unique), boilerplate 17·B →
      // ≈ rows·66/16 + 17·rows/10007 dup grams. 340M gram rows through
      // the md5 window at 20M docs — the k× segment explode.
      val st = Dedup.rollingGramStats(docs, "doc_id", "text", k = 8)
        .agg(sum("n_grams"), sum("n_dup_grams")).collect()(0)
      require(st.getLong(0) == 17 * rows,
        s"rolling gram count must be exact: ${st.getLong(0)} != ${17 * rows}")
      val dup = st.getLong(1)
      val want = rows * 66 / 16 + 17 * (rows / 10007)
      require(math.abs(dup - want) <= rows / 1000,
        s"dup grams $dup outside band around $want")
      dup
    }
    run("dup_spans") {
      // merged duplicated spans: every dup-lane doc collapses to ONE
      // maximal span (exact docs words 0-23, near docs 0-22 — the dup
      // grams overlap chain-wise), boilerplate docs one span each →
      // ≈ rows·4/16 + rows/10007 span rows.
      val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
      val n = spans.count()
      val want = rows * 4 / 16 + rows / 10007
      require(math.abs(n - want) <= rows / 500,
        s"span count $n outside band around $want")
      n
    }
    run("span_fraction") {
      // the assembly gate's scalar (duplicateSpanFraction) end-to-end:
      // every doc reports a row (0 for clean docs — row conservation),
      // word counts are exact (24-word docs → Σ n_words = 24·rows), and
      // the duplicated lanes reproduce dup_spans' arithmetic per doc:
      // exact docs cover 24/24 words, near docs 23/24 (the salted-last-
      // word gram breaks the chain), boilerplate 24/24.
      val sf = Dedup.duplicateSpanFraction(docs, "doc_id", "text", k = 8)
      val agg = sf.agg(count(lit(1L)), sum("n_words"), sum("dup_words"),
        sum(when(col("dup_word_ratio") > 0, 1L).otherwise(0L))).collect()(0)
      require(agg.getLong(0) == rows,
        s"span_fraction row conservation broken: ${agg.getLong(0)} != $rows")
      require(agg.getLong(1) == 24 * rows,
        s"word-count sum must be exact: ${agg.getLong(1)} != ${24 * rows}")
      val dupDocs = agg.getLong(3)
      val wantDocs = rows * 4 / 16 + rows / 10007
      require(math.abs(dupDocs - wantDocs) <= rows / 500,
        s"dup-doc count $dupDocs outside band around $wantDocs")
      val dupWords = agg.getLong(2)
      val wantWords = rows / 16 * 2 * 24 + rows / 16 * 2 * 23 +
        24 * (rows / 10007)
      require(math.abs(dupWords - wantWords) <= rows / 20,
        s"dup-word sum $dupWords outside band around $wantWords")
      dupDocs
    }
    // ---- mega-hot-key lanes: ONE fingerprint = HALF the corpus ----
    // The round-4 finding: count/min OVER (PARTITION BY fingerprint)
    // had no hot-key defense — a Zipf-head gram or mega-duplicated
    // boilerplate doc materialized in ONE window task. These lanes
    // prove the salted attach holds at the adversarial extreme: a
    // 10M-times-duplicated doc / segment / 8-gram at 20M rows. Each
    // stage require's the EXACT injection arithmetic AND that no
    // single task dominates the op (straggler evidence via listener).
    val megaWhole = s"/tmp/graft_soak_megawhole_$rows"
    val megaSeg = s"/tmp/graft_soak_megaseg_$rows"
    if (only.forall(o => o.exists(_.endsWith("_megahot")))) {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(megaWhole)))
        megahotCorpus(spark, rows, wholeDoc = true)
          .write.mode("overwrite").parquet(megaWhole)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(megaSeg)))
        megahotCorpus(spark, rows, wholeDoc = false)
          .write.mode("overwrite").parquet(megaSeg)
    }
    def runMega(op: String)(f: => Long): Unit = run(op) {
      val (out, maxTaskMs, worstSkew) = withMaxTask(spark)(f)
      println(f"""{"op":"$op.max_task","max_task_sec":${maxTaskMs / 1e3}%.1f,"worst_stage_skew":$worstSkew%.2f}""")
      require(maxTaskMs > 0, "listener must observe tasks")
      // the straggler gate is PER-STAGE UNIFORMITY: under the old
      // window form the hot key's rows all land in one task, so that
      // task runs a large multiple of its stage siblings (17× on the
      // exact lane); salted, the hottest slice is ~rows/2/OccSalts rows
      // and every qualifying stage is near-uniform. (A plain
      // max-vs-wall bound is the WRONG gate: a uniformly expensive
      // stage — e.g. the 340M-gram window sort, every task ~49 s —
      // legitimately dominates wall time with zero skew.)
      require(worstSkew <= 2.0,
        f"straggler: a task ran $worstSkew%.2fx its stage average " +
          f"(max task ${maxTaskMs / 1e3}%.1f s) — hot-key concentration")
      out
    }
    runMega("exact_dup_megahot") {
      // rows/2 identical docs = one fp group; drop list = rows/2 - 1
      val n = Dedup.exactDuplicates(
        spark.read.parquet(megaWhole), "doc_id", "text").count()
      require(n == rows / 2 - 1, s"mega exact drop list $n != ${rows / 2 - 1}")
      n
    }
    runMega("segment_dedup_megahot") {
      // ONE segment fingerprint duplicated rows/2 times; tails unique
      val st = Dedup.segmentStats(
          spark.read.parquet(megaSeg), "doc_id", "text", width = 8)
        .agg(sum("n_segments"), sum("n_dup_segments")).collect()(0)
      require(st.getLong(0) == 3 * rows, s"mega segments ${st.getLong(0)}")
      require(st.getLong(1) == rows / 2, s"mega dup segments ${st.getLong(1)}")
      st.getLong(1)
    }
    runMega("rolling_dedup_megahot") {
      // ONE 8-gram (words 0-7 of odd docs) duplicated rows/2 times
      val st = Dedup.rollingGramStats(
          spark.read.parquet(megaSeg), "doc_id", "text", k = 8)
        .agg(sum("n_grams"), sum("n_dup_grams")).collect()(0)
      require(st.getLong(0) == 17 * rows, s"mega grams ${st.getLong(0)}")
      require(st.getLong(1) == rows / 2, s"mega dup grams ${st.getLong(1)}")
      st.getLong(1)
    }

    run("segment_index_build") {
      // one-time segment-vocabulary index over the rest-of-corpus
      // (everything outside the id%101==7 "daily" batch). out_rows =
      // indexed distinct fingerprints ≈ the corpus's distinct segment
      // count (the segment_rewrite stage's Σ n_kept) scaled by the
      // rest fraction — banded, since the %101 split also removes a
      // few dup-group members.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(101))
      Dedup.segmentWriteIndex(docs.where(idNum =!= 7), "doc_id", "text",
        s"$data-segidx")
      val n = spark.read.parquet(s"$data-segidx").count()
      val want = (3 * rows - (rows * 5 / 16 + 3 * (rows / 10007 - 1))) / 101 * 100
      require(math.abs(n - want) <= rows / 20,
        s"index rows $n outside band around $want")
      n
    }
    run("segment_incr_probe") {
      // the per-batch cost: the ~rows/101 daily batch rewritten against
      // the index. Σ n_segments = 3·batch EXACT; dropped segments follow
      // the lane arithmetic relative to the OUTSIDE corpus — batch docs
      // in the exact lanes (ids ≡0,1 mod 16, partner almost surely
      // outside the batch) lose all 3, near-lane docs (≡2,3) lose 2:
      // ≈ batch·10/16, banded for boilerplate and intra-batch pairs.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(101))
      val rw = Dedup.segmentIncrementalRewrite(spark, s"$data-segidx",
          docs.where(idNum === 7), "doc_id", "text")
        .agg(sum("n_segments"), sum("n_kept")).collect()(0)
      require(rw.getLong(0) % 3 == 0, "every doc is exactly 3 segments")
      val batch = rw.getLong(0) / 3
      val dropped = rw.getLong(0) - rw.getLong(1)
      val want = batch * 10 / 16
      require(math.abs(dropped - want) <= batch / 100,
        s"probe dropped $dropped outside band around $want (batch $batch)")
      rw.getLong(1)
    }
    run("decontamination") {
      // benchmark = an "eval set" sampled from the corpus distribution
      // (id % 1009 == 5, ~rows/1009 docs) against the rest — the
      // production shape: corpus-side shingle scan into a broadcast
      // semi join. out_rows = contaminated corpus docs; at pool 65521
      // (unique random shingles) contamination comes from the dup lanes
      // — corpus docs sharing text with an eval-set doc via either
      // direction of either dup lane (≈ 4·rows/16/1009) plus every
      // corpus boilerplate doc once a boilerplate doc lands in the eval
      // set (≈ rows/10007): 6,952 at 20M rows, matching the arithmetic.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
      val bench = docs.where(idNum === 5)
      val corpus = docs.where(idNum =!= 5)
      Dedup.contaminationScores(corpus, "doc_id", "text", bench, "text").count()
    }
    run("token_decon") {
      // token-SPACE decon over the SAME corpus/eval split as the text
      // stage above, tokens derived per word (one md5 each, the
      // tokenize bridge). Every injection lane that shares a text
      // 3-shingle also shares a token 8-gram (exact dups: all; near-dup
      // lane: 16/17 grams; boilerplate: all; 24-word docs clear both
      // minimums), and pool 65521 keeps random gram collisions
      // negligible — so out_rows must EQUAL the text stage's
      // (6,952 at 20M): a cross-OPERATOR invariant, not just arithmetic.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
      val toks = docs.select(col("doc_id"), idNum.as("_i"),
        SeqOps.tokenize(col("text"), 49152).as("toks"))
      SeqOps.tokenContaminationScores(
        toks.where(col("_i") =!= 5), "doc_id", "toks",
        toks.where(col("_i") === 5), "toks", n = 8).count()
    }
    run("exact_incr_index") {
      // one-time corpus fingerprint index build (the amortized cost of
      // the incremental path); out_rows = indexed corpus docs
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(101))
      Dedup.exactWriteIndex(docs.where(idNum =!= 7), "doc_id", "text",
        s"$data-fpidx")
      spark.read.parquet(s"$data-fpidx").count()
    }
    run("exact_incr_probe") {
      // the per-batch cost: a ~rows/101 "daily" batch probes the index.
      // out_rows = batch drop-list rows: the dup-lane partner lands in
      // the batch at id%16==1 ∧ id%101==7 (≈ rows/1616) plus batch
      // boilerplate docs (≈ rows/10007/101, all non-survivors since the
      // group min id 0 stays old): ≈ 12,395 at 20M.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(101))
      Dedup.exactIncrementalDuplicates(spark, s"$data-fpidx",
        docs.where(idNum === 7), "doc_id", "text").count()
    }
    run("minhash_incr_index") {
      // one-time corpus band-index build for NEAR-dup incremental
      // (the minhash sibling of exact_incr_index); out_rows = band
      // rows = 4 bands × rest-corpus docs exactly.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(101))
      val rest = docs.where(idNum =!= 7)
      Dedup.minhashWriteIndex(rest, "doc_id", "text", s"$data-mhidx")
      val n = spark.read.parquet(s"$data-mhidx").count()
      require(n == 4 * rest.count(), s"band rows must be 4 x rest docs: $n")
      n
    }
    run("minhash_incr_probe") {
      // the per-batch near-dup cost: the ~rows/101 daily batch probes
      // the band index. The exact-dup lane is a hard FLOOR (identical
      // text → identical signature → every band matches: >= batch·2/16
      // pairs, modulo the ~1/101 partners landing inside the batch);
      // near-lane and pool-collision pairs add a data-dependent tail
      // (the full-corpus run found ~0.24 pairs/doc at this pool), so
      // the ceiling is loose. The scale claim is the SHAPE: batch-only
      // signatures, corpus text never re-read. At the test-scale
      // default of 256 partition buckets a ~790k-band batch hits EVERY
      // bucket (pruning is a documented no-op here — it bites when
      // nPartBuckets ≫ batch bands, the minhashWriteIndex sizing
      // rule), so the measured win at 20M is the ~2× of skipping
      // corpus signature recomputation, not the 10-100× a
      // production-sized bucket count delivers by reading only the
      // batch's buckets.
      val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(101))
      val batch = docs.where(idNum === 7)
      val nBatch = batch.count()
      val pairs = Dedup.minhashIncrementalPairs(spark, s"$data-mhidx",
        batch, "doc_id", "text").count()
      require(pairs >= nBatch * 2 / 16 * 97 / 100,
        s"probe pairs $pairs below the exact-lane floor (${nBatch * 2 / 16})")
      require(pairs <= nBatch, s"probe pairs $pairs above the loose ceiling $nBatch")
      pairs
    }
    run("profile_batches_merge") {
      // mergeable artifacts over the pre-tokenized shape: 64 per-batch
      // profile rows (counts, min/max, HLL incl. ~20M-distinct doc_id,
      // token-length histogram) then artifact-only merge + estimates.
      // out_rows = profiled columns.
      val seqs = graft.gen.SequenceGen.generate(spark, rows)
      val cols = Seq("doc_id", "source", "n_tok")
      val b = graft.engine.MergeableProfile.batchProfile(
        seqs.withColumn("_b", pmod(xxhash64(col("doc_id")), lit(64L))),
        "_b", cols, "n_tok", 32.0, 16)
      val est = graft.engine.MergeableProfile.estimates(
        graft.engine.MergeableProfile.merge(b, cols, 16), cols)
      // collect() the full long rows — a count() lets ColumnPruning drop
      // every sketch/min/max aggregate and time only a key-count scan
      // (measured: 1.1 s vs the real pass). out_rows = the sketch's
      // doc_id distinct estimate (~rows; HLL ±2% at lgK 12, spot-checked
      // against the dup-lane arithmetic rows·(1 - 1/1000)).
      est.collect().find(_.getString(0) == "doc_id").get.getLong(6)
    }
    run("sessions") {
      // gap sessionization at event-stream scale, with an adversarially
      // HOT entity: odd event ids all belong to user 0 (rows/2 events in
      // ONE window partition — the documented machine-hot-key worst case
      // for the per-entity sort), even ids round-robin over `users`
      // entities. Event k of any user fires at k*1200 s plus an extra
      // 3600 s pause before every third event, so gaps are 1200 s (same
      // session) except every third (4800 s > 1800 → new session):
      // sessions per user = ceil(K/3) EXACTLY. At 20M rows / 100k users:
      // user 0 has 10M events → 3,333,334 sessions; each round-robin
      // user has 100 → 34; out_rows = 3,333,334 + 3,400,000 = 6,733,334.
      // Event-count conservation (Σ n_events = rows) is require'd.
      val users = 100000L
      val half = shiftright(col("id"), 1)
      val k = when(pmod(col("id"), lit(2L)) === 1L, half)
        .otherwise(floor(half / lit(users.toDouble)).cast("long"))
      val ev = spark.range(rows).select(
        col("id").as("event_id"),
        when(pmod(col("id"), lit(2L)) === 1L, lit(0L))
          .otherwise(lit(1L) + pmod(half, lit(users))).as("user_id"),
        timestamp_seconds(lit(1700000000L) + k * 1200L +
          floor(k / lit(3.0)).cast("long") * 3600L).as("ts"),
        (pmod(col("id"), lit(100L)).cast("double") / 10.0).as("value"))
      val path = soakEventsPath(rows)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        ev.write.mode("overwrite").parquet(path)
      val sess = graft.ops.Sessions.sessionStats(
        spark.read.parquet(path), "user_id", "ts", "event_id", "value")
      val agg = sess.agg(count(lit(1L)), sum(col("n_events"))).collect()(0)
      require(agg.getLong(1) == rows,
        s"session event conservation broken: ${agg.getLong(1)} != $rows")
      agg.getLong(0)
    }
    run("sessions_bucketed") {
      // the two-level hot-key path over the SAME cached event corpus and
      // the same exact-arithmetic expectations as `sessions`: user 0's
      // 10M-event sort is now split across day buckets (~60 events each
      // at 1200-4800 s spacing), and the per-entity level-2 sort sees
      // ~3.47M narrow session stubs (sessions + a stub per straddled
      // bucket boundary) instead of 10M raw events.
      val path = soakEventsPath(rows)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
        s"run the `sessions` stage first to materialize $path")
      val sess = graft.ops.Sessions.sessionStatsBucketed(
        spark.read.parquet(path), "user_id", "ts", "event_id", "value",
        gapSeconds = 1800L, bucketSeconds = 86400L)
      val agg = sess.agg(count(lit(1L)), sum(col("n_events"))).collect()(0)
      require(agg.getLong(1) == rows,
        s"bucketed session event conservation broken: ${agg.getLong(1)} != $rows")
      agg.getLong(0)
    }

    val total = results.map(_._2).sum
    val peak = results.map(_._4).max
    println(f"""{"metric":"soak_total","value":$total%.1f,"unit":"sec","rows":$rows,"pool":$poolSize,"cpus":$cpus,"peak_heap_mb":$peak}""")
    spark.stop()
  }
}
