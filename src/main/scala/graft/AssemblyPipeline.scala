package graft

import graft.engine.ValidationEngine
import graft.ops.{Dedup, Pipeline, TextOps}
import graft.spec.SchemaParser
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The integration shape a corpus user actually runs — one end-to-end
  * assembly pass: validate → exact dedup → near-dup pairs → clusters →
  * canonical selection → decontaminate → stratified sample → pack.
  * Every stage records its row count, and the cross-stage invariants
  * (partitions of the input, keep+drop conservation, cluster coverage)
  * are ASSERTED, not just printed — a pipeline that silently loses or
  * duplicates docs between stages is wrong even when each operator is
  * individually correct.
  *
  * `run` is the library-shaped composition (used by PipelineSpec
  * end-to-end at small scale); `main` drives it over the deterministic
  * 1M-doc SoakBench corpus and prints one JSON line per stage.
  */
object AssemblyPipeline {

  final case class StageCounts(
      nInput: Long, nValid: Long,
      nExactDropped: Long, nAfterExact: Long,
      nPairs: Long, nLabeled: Long, nCanonical: Long, nAfterNear: Long,
      nQualityDropped: Long, nAfterQuality: Long,
      nBench: Long, nContaminated: Long, nAfterDecon: Long,
      nSampled: Long, nPacked: Long, nBins: Long)

  // doc_id is a union type: the synthetic corpora carry "d<N>" strings,
  // real documents tables (e.g. the testdata parquet) carry integers —
  // the assembly contract only needs presence and non-null, not a shape
  private val specJson =
    """{
      "type": "object",
      "properties": {
        "doc_id": {"type": ["string", "integer"], "required": true},
        "text":   {"type": "string", "required": true, "minLength": 1},
        "source": {"type": "string", "required": true}
      }
    }"""
  private lazy val spec = SchemaParser.parse(specJson)

  /** Materialize a stage boundary. Each assembly stage's plan embeds the
    * previous stage on BOTH sides of a join (survivor semi/anti joins), so
    * composing seven stages lazily grows the logical plan multiplicatively
    * — Catalyst analysis alone becomes the bottleneck long before any task
    * runs. A production run writes parquet between stages;
    * `localCheckpoint` is the in-memory analog: compute once, truncate
    * lineage, later stages plan against a leaf.
    */
  private def stage(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** `df` with `metrics` observed on whichever job first materializes
    * it (a stage write or a `stage` checkpoint), and their values, read
    * after that job. Stage scalars ride the jobs that already run, so no
    * count re-scans a stage.
    */
  private def observed(df: DataFrame, metrics: Column*): (DataFrame, () => Map[String, Long]) = {
    val obs = new Observation()
    (df.observe(obs, metrics.head, metrics.tail: _*),
      () => obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
  }

  private val nRows = count(lit(1))

  /** One assembly pass over `docs` (doc_id, text, source). `benchPred`
    * marks the held-out eval slice used for decontamination;
    * `contaminationThreshold` drops corpus docs whose shingle overlap
    * fraction with the eval slice reaches it.
    *
    * `checkpoint` switches stage boundaries from in-memory
    * `localCheckpoint` to the durable [[graft.engine.StageIO]] seam:
    * each stage's output is written as one commit unit with its scalar
    * metrics committed last, and a resumed run SKIPS every committed
    * stage (reading its output and replaying its recorded scalars, so
    * the cross-stage `require`s still hold) — an interrupted assembly
    * resumes at stage granularity, the production parquet-between-stages
    * run. Stages are only comparable under the same configuration, so a
    * run descriptor is committed first and checked on resume (the
    * [[graft.engine.CheckpointRunner]] split-descriptor discipline).
    * `onStageComputed` fires once per stage actually computed (not
    * resumed) — observability for tests and drivers.
    */
  def run(spark: SparkSession, docs: DataFrame,
      benchPred: org.apache.spark.sql.Column,
      contaminationThreshold: Double = 0.5,
      sampleRates: Map[String, Double] = Map("src0" -> 0.5),
      defaultRate: Double = 0.25,
      packBudget: Long = 2048L,
      mixShares: Option[Map[String, Double]] = None,
      mixTokenBudget: Long = 0L,
      minQuality: Double = 0.0,
      maxRepetition: Double = 1.0,
      maxDupSpanFraction: Double = 1.0,
      mixMaxEpochs: Double = 1.0,
      minClassifierScore: Double = 0.0,
      outDir: Option[String] = None,
      checkpoint: Option[graft.engine.StageIO] = None,
      onStageComputed: String => Unit = _ => ()): StageCounts = {
    checkpoint.foreach { io =>
      val desc = Seq(benchPred.toString, contaminationThreshold,
        sampleRates.toSeq.sorted.mkString(","), defaultRate, packBudget,
        mixShares.map(_.toSeq.sorted.mkString(",")).getOrElse("-"),
        mixTokenBudget, minQuality, maxRepetition, maxDupSpanFraction,
        mixMaxEpochs, minClassifierScore).mkString("")
      io.runDescriptor() match {
        case Some(prev) => require(prev == desc,
          "checkpoint dir was started with a different assembly " +
            "configuration; resume with the original one or use a fresh dir")
        case None => io.writeRunDescriptor(desc)
      }
    }

    /** One committed stage: `compute` builds the stage's output frame
      * with its scalars observed on it (or on intra-stage frames that a
      * `stage` checkpoint already materialized), plus a thunk that reads
      * them. The one job that materializes the output — the `stage`
      * checkpoint without `checkpoint`, the [[graft.engine.StageIO]]
      * write with it — fires the observations, so a stage is write →
      * scalars → commit → read and nothing re-scans it. With
      * `checkpoint`, committed stages are skipped wholesale.
      */
    def step(name: String)(
        compute: => (DataFrame, () => Map[String, Long]))
        : (DataFrame, Map[String, Long]) =
      checkpoint match {
        case None =>
          val (df0, scalars) = compute
          val df = stage(df0)
          (df, scalars())
        case Some(io) =>
          if (io.completedStages()(name)) (io.readStage(name), io.stageScalars(name))
          else {
            val (df0, scalars) = compute
            io.writeStage(name, df0)
            val m = scalars()
            io.commitStage(name, m)
            onStageComputed(name)
            (io.readStage(name), m)
          }
      }

    // 1) validate; only passing rows continue (violations go to the
    //    checkpointed violations sink in the production run — here the
    //    count is the invariant)
    val (valid, mValid) = step("validate") {
      val (cols, pass) = (docs.columns.toSeq.map(col), col(ValidationEngine.PassCol))
      val (annotated, scalars) = observed(
        ValidationEngine.annotate(docs, spec).select(cols :+ pass: _*),
        nRows.as("n_input"), count_if(pass).as("n_valid"))
      (annotated.where(pass).select(cols: _*), scalars)
    }
    val nInput = mValid("n_input")
    val nValid = mValid("n_valid")

    // 2) exact dedup: remove every non-survivor of an exact group
    val (afterExact, mExact) = step("exact_dedup") {
      val (drops, dropped) = observed(Dedup.exactDuplicates(valid, "doc_id", "text")
        .select(col("doc_id")), nRows.as("dropped"))
      val dropList = stage(drops)
      val (df, kept) = observed(valid.join(dropList, Seq("doc_id"), "left_anti"),
        nRows.as("kept"))
      (df, () => dropped() ++ kept())
    }
    val nExactDropped = mExact("dropped")
    val nAfterExact = mExact("kept")
    require(nAfterExact == nValid - nExactDropped,
      s"exact dedup must conserve rows: $nValid - $nExactDropped != $nAfterExact")

    // 3) near-dup: LSH pairs → connected components → canonical per
    //    cluster (quality argmax); keep canonical docs only
    val (afterNear, mNear) = step("near_dedup") {
      val (pairs0, pairCount) = observed(Dedup.minhashCandidatePairs(
        Dedup.minhashSignature(afterExact, "doc_id", "text"), "doc_id"), nRows.as("pairs"))
      val pairs = stage(pairs0)
      val labels = Dedup.connectedComponents(pairs, "a", "b")
      val labeled = labels.count()
      val scored = TextOps.qualityFeatures(afterExact, "text")
        .select(col("doc_id"), col("quality"))
      val (canonical0, clusters) = observed(
        Pipeline.canonicalPerCluster(scored, "doc_id", "quality", labels),
        nRows.as("clusters"),
        coalesce(sum(col("n_docs")).cast("long"), lit(0L)).as("cluster_docs"))
      val canonical = stage(canonical0)
      val (df, kept) = observed(afterExact.join(
        canonical.select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi"),
        nRows.as("kept"))
      (df, () => pairCount() ++ clusters() ++ kept() + ("labeled" -> labeled))
    }
    val nPairs = mNear("pairs")
    val nLabeled = mNear("labeled")
    val nCanonical = mNear("clusters")
    val nAfterNear = mNear("kept")
    require(mNear("cluster_docs") == nAfterExact,
      "every post-exact doc must be counted in exactly one cluster")
    require(nAfterNear == nCanonical,
      s"one survivor per cluster: $nAfterNear != $nCanonical")

    // 3.5) quality gate (Gopher-style filtering after dedup): drop
    //    survivors below the quality floor, above the intra-doc
    //    repetition ceiling, or above the CROSS-corpus duplicated-span
    //    ceiling (partial copies near-dedup's whole-doc similarity
    //    misses — a C4-style filter: BOTH members of a partial-copy
    //    pair drop, this is filtering, not survivor selection). The
    //    quality/repetition scores are shuffle-free scan passes; the
    //    span fraction adds the rolling-gram shuffle only when its
    //    threshold is active. No-op thresholds skip everything.
    // each lane runs only when its own threshold can drop anything —
    // a vacuous predicate (quality < 0.0, dup_ratio > 1.0) would still
    // cost a full-corpus scan pass just to select zero rows
    def gateLanes(in: DataFrame) = Seq(
      Option.when(minQuality > 0.0)(
        TextOps.qualityFeatures(in, "text")
          .where(col("quality") < minQuality).select("doc_id")),
      Option.when(maxRepetition < 1.0)(
        TextOps.repetitionFeatures(in, "doc_id", "text")
          .where(col("dup_ratio") > maxRepetition).select("doc_id")),
      Option.when(maxDupSpanFraction < 1.0)(
        Dedup.duplicateSpanFraction(in, "doc_id", "text")
          .where(col("dup_word_ratio") > maxDupSpanFraction)
          .select("doc_id")),
      // learned gate: a plan-constant linear model scored in one
      // codegen'd scan pass (no shuffle), thresholded on the sigmoid
      Option.when(minClassifierScore > 0.0)(
        in.where(TextOps.classifierScore(col("text")) < minClassifierScore)
          .select("doc_id"))
    ).flatten
    val gateActive = minQuality > 0.0 || maxRepetition < 1.0 ||
      maxDupSpanFraction < 1.0 || minClassifierScore > 0.0
    // all-thresholds-vacuous: the gate is an identity — no stage to
    // commit (and no full corpus copy to write), skip it entirely
    val (afterQuality, mGate) =
      if (!gateActive) (afterNear, Map("dropped" -> 0L, "kept" -> nAfterNear))
      else step("quality_gate") {
        val (drops0, dropped) = observed(
          gateLanes(afterNear).reduce(_ union _).distinct(), nRows.as("dropped"))
        val drops = stage(drops0)
        val (df, kept) = observed(afterNear.join(drops, Seq("doc_id"), "left_anti"),
          nRows.as("kept"))
        (df, () => dropped() ++ kept())
      }
    val nQualityDropped = mGate("dropped")
    val nAfterQuality = mGate("kept")
    require(nAfterQuality == nAfterNear - nQualityDropped,
      s"quality gate must conserve rows: $nAfterNear - $nQualityDropped != $nAfterQuality")

    // 4) decontamination: the held-out eval slice leaves the corpus, and
    //    corpus docs sharing >= threshold of their shingles with it drop
    val (afterDecon, mDecon) = step("decontaminate") {
      val (contaminated0, contaminatedCount) = observed(Dedup.contaminationScores(
          afterQuality.where(!benchPred), "doc_id", "text",
          afterQuality.where(benchPred), "text")
        .where(col("contamination") >= contaminationThreshold)
        .select(col("id").as("doc_id")), nRows.as("contaminated"))
      val contaminated = stage(contaminated0)
      // the eval slice is counted on the write's own scan of its input
      val (in, evalSlice) = observed(afterQuality, count_if(benchPred).as("eval_slice"))
      val (df, kept) = observed(
        in.where(!benchPred).join(contaminated, Seq("doc_id"), "left_anti"),
        nRows.as("kept"))
      (df, () => evalSlice() ++ contaminatedCount() ++ kept())
    }
    val nBench = mDecon("eval_slice")
    val nContaminated = mDecon("contaminated")
    val nAfterDecon = mDecon("kept")
    require(nAfterDecon == nAfterQuality - nBench - nContaminated,
      "decon must conserve rows: corpus minus eval slice minus contaminated")

    // 5) deterministic sample. With `mixShares` set, the rates are not
    //    caller constants but COMPUTED from the post-decon corpus by
    //    mixture weighting (target share of `mixTokenBudget` per
    //    source) — the production flow, where the mixture spec is
    //    policy and the rates follow the data. `mixMaxEpochs` ≤ 1 caps
    //    rates at one epoch (a Bernoulli sample cannot repeat docs);
    //    above 1 the epoch sampler below materializes the repetition.
    // with mixMaxEpochs > 1 the computed rates may EXCEED 1 — scarce
    // strata repeat (upsampling): epochSample materializes floor(rate)
    // full epochs plus a hash-gated fractional one, and the pack key
    // becomes (doc_id, epoch) so repeated docs pack as distinct
    // sequences; otherwise a plain Bernoulli stratified sample. The
    // pack key is config-derived, so a resumed run re-derives it.
    val upsampling = mixShares.isDefined && mixMaxEpochs > 1.0
    val packKey = if (upsampling) "samp_key" else "doc_id"
    val (withTok, mSample) = step("sample") {
      val withTok0 =
        if (mixShares.isDefined)
          stage(afterDecon.withColumn("n_tok", TextOps.tokenCount(col("text"))))
        else afterDecon
      val rates = mixShares match {
        case Some(shares) =>
          require(mixTokenBudget > 0, "mixShares needs a positive mixTokenBudget")
          val computed = Pipeline.mixtureWeights(withTok0, "source", "n_tok",
              shares, mixTokenBudget, maxEpochs = mixMaxEpochs)
            .select(col("source"), col("rate")).collect()
            .map(r => r.getString(0) -> r.getDouble(1)).toMap
          // a share key with no corpus rows yields no rate row, and its
          // budget slice would silently go unspent — a policy typo, not a
          // sampling decision, so fail loudly
          val missing = shares.keySet -- computed.keySet
          require(missing.isEmpty,
            s"mixShares name strata absent from the corpus: ${missing.mkString(", ")}")
          computed
        case None => sampleRates
      }
      val sampled =
        if (upsampling)
          Pipeline.epochSample(withTok0, "doc_id", "source", rates)
            .withColumn("samp_key",
              concat(col("doc_id").cast("string"), lit(":"), col("epoch")))
        else
          Pipeline.stratifiedSample(withTok0, "doc_id", "source",
            rates, if (mixShares.isDefined) 0.0 else defaultRate)
      // normalize the stage output: n_tok rides along either way (in the
      // non-mix flow it is counted only on the sampled survivors)
      observed(
        if (mixShares.isDefined) sampled
        else sampled.withColumn("n_tok", TextOps.tokenCount(col("text"))),
        nRows.as("kept"))
    }
    val nSampled = mSample("kept")

    // 6) sequence packing over the sample; the stage output IS the
    //    assembled corpus — doc rows with their pack assignment
    val (assembled, mPack) = step("pack") {
      val (packed0, packedCount) = observed(Pipeline.packSequences(withTok, packKey, "n_tok",
        "source", budget = packBudget, nShards = 8), nRows.as("docs"))
      val packed = stage(packed0)
      // an observed metric cannot hold a distinct count: bins is one job
      val bins = packed.select("source", "shard", "bin_id").distinct().count()
      val df = withTok.join(
        packed.select(packKey, "shard", "bin_id"), Seq(packKey))
      (df, () => packedCount() + ("bins" -> bins))
    }
    val nPacked = mPack("docs")
    require(nPacked == nSampled, "packing assigns every sampled doc to a bin")
    val nBins = mPack("bins")

    // materialize the assembled corpus partitioned by stratum (the
    // layout a trainer's data loader reads bin-by-bin within a source)
    outDir.foreach { d =>
      assembled.write.mode("overwrite").partitionBy("source").parquet(d)
    }

    StageCounts(nInput, nValid, nExactDropped, nAfterExact,
      nPairs, nLabeled, nCanonical, nAfterNear,
      nQualityDropped, nAfterQuality,
      nBench, nContaminated, nAfterDecon, nSampled, nPacked, nBins)
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_ASSEMBLY_ROWS", "1000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-assembly")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic corpus with arithmetic dup lanes (SoakBench) plus a
    // 10-stratum source column and a JUNK lane for the quality gate:
    // every id ≡ 3 (mod 4001) gets its own word repeated 24 times —
    // unique text (so no dedup lane touches it), dup-3-gram ratio
    // 21/22 ≈ 0.955, dropped exactly by the repetition ceiling
    val junkMod = 4001L
    val data = s"/tmp/graft_assembly_corpus2_$rows"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(data))) {
      val num = substring(col("doc_id"), 2, 100).cast("long")
      SoakBench.corpus(spark, rows, poolSize = 65521)
        .withColumn("source", concat(lit("src"), pmod(num, lit(10))))
        .withColumn("text",
          when(pmod(num, lit(junkMod)) === 3,
            array_join(array_repeat(concat(lit("j"), num), 24), " "))
          .otherwise(col("text")))
        .write.mode("overwrite").parquet(data)
    }
    val docs = spark.read.parquet(data)

    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
    val t0 = System.nanoTime()
    val c = run(spark, docs, benchPred = idNum === 5, maxRepetition = 0.5)
    val sec = (System.nanoTime() - t0) / 1e9

    // arithmetic expectations of the generator (loose bands — the exact
    // interplay of the dup lanes is what the per-op soaks pin down)
    require(c.nValid == c.nInput, "generator emits only valid docs")
    require(c.nExactDropped >= rows / 16 - rows / 1000 &&
      c.nExactDropped <= rows / 16 + rows / 10007 + rows / 1000,
      s"exact-dup lane is ~rows/16: ${c.nExactDropped}")
    require(c.nPairs >= rows / 16 - rows / 500, s"near-dup lane is ~rows/16: ${c.nPairs}")
    // junk-lane arithmetic is EXACT: unique texts survive both dedups,
    // so the gate sees (and drops) every id ≡ 3 (mod junkMod)
    val junkCount = if (rows > 3) (rows - 4) / junkMod + 1 else 0L
    require(c.nQualityDropped == junkCount,
      s"quality gate must drop exactly the junk lane: ${c.nQualityDropped} != $junkCount")
    println(f"""{"metric":"assembly_total","value":$sec%.1f,"unit":"sec","rows":$rows,"cpus":$cpus}""")
    report(c)
    spark.stop()
  }

  /** One JSON line per stage (shared by `main` and `Main assemble`). */
  def report(c: StageCounts): Unit = {
    println(s"""{"stage":"validate","in":${c.nInput},"valid":${c.nValid}}""")
    println(s"""{"stage":"exact_dedup","dropped":${c.nExactDropped},"kept":${c.nAfterExact}}""")
    println(s"""{"stage":"near_dedup","pairs":${c.nPairs},"labeled":${c.nLabeled},"clusters+singletons":${c.nCanonical},"kept":${c.nAfterNear}}""")
    println(s"""{"stage":"quality_gate","dropped":${c.nQualityDropped},"kept":${c.nAfterQuality}}""")
    println(s"""{"stage":"decontaminate","eval_slice":${c.nBench},"contaminated":${c.nContaminated},"kept":${c.nAfterDecon}}""")
    println(s"""{"stage":"sample","kept":${c.nSampled}}""")
    println(s"""{"stage":"pack","docs":${c.nPacked},"bins":${c.nBins}}""")
  }
}
