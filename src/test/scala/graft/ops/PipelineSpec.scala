package graft.ops

import graft.SparkSessionTestWrapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  // === canonicalPerCluster ===

  private lazy val scored = Seq(
    (10L, 0.9), (11L, 0.7), (12L, 0.9),  // cluster 10: tie 10 vs 12 on score
    (20L, 0.5), (21L, 0.8),              // cluster 20: 21 wins on score
    (30L, 0.3)                           // unlabeled singleton
  ).toDF("doc_id", "quality")
  private lazy val labels = Seq(
    (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)
  ).toDF("id", "cluster_id")

  test("canonicalPerCluster: argmax by score, tie-break by largest key (native type)") {
    val out = Pipeline.canonicalPerCluster(scored, "doc_id", "quality", labels)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (10L, 12L, 0.9, 3L), // 0.9 tie between 10 and 12 → 12 (max key)
      (20L, 21L, 0.8, 2L),
      (30L, 30L, 0.3, 1L)  // absent from labels → own-key singleton cluster
    ))
  }

  test("canonicalPerCluster: numeric keys tie-break numerically, not lexicographically") {
    // as strings '9' > '10'; the native long tie-break must pick 10
    val s2 = Seq((9L, 0.5), (10L, 0.5)).toDF("doc_id", "quality")
    val l2 = Seq((9L, 9L), (10L, 9L)).toDF("id", "cluster_id")
    val out = Pipeline.canonicalPerCluster(s2, "doc_id", "quality", l2)
      .as[(Long, Long, Double, Long)].collect()
    assert(out.toSeq == Seq((9L, 10L, 0.5, 2L)))
    // string keys keep string ordering and a string canonical_id
    val s3 = Seq(("9", 0.5), ("10", 0.5)).toDF("doc_id", "quality")
    val l3 = Seq(("9", "10"), ("10", "10")).toDF("id", "cluster_id")
    val out3 = Pipeline.canonicalPerCluster(s3, "doc_id", "quality", l3)
      .as[(String, String, Double, Long)].collect()
    assert(out3.toSeq == Seq(("10", "9", 0.5, 2L)))
  }

  test("canonicalPerCluster: one row per cluster, every doc counted once") {
    val out = Pipeline.canonicalPerCluster(scored, "doc_id", "quality", labels)
    assert(out.count() == out.select("cluster_id").distinct().count())
    assert(out.agg(sum("n_docs")).as[Long].head() == scored.count())
  }

  // === stratifiedSample ===

  private lazy val corpus = spark.range(2000)
    .select(col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 4).cast("string")).as("source"))

  test("stratifiedSample: deterministic, rate-monotone (nested samples), exact bounds") {
    val lo = Pipeline.stratifiedSample(corpus, "doc_id", "source",
      Map("src0" -> 0.125), defaultRate = 0.25)
    val hi = Pipeline.stratifiedSample(corpus, "doc_id", "source",
      Map("src0" -> 0.5), defaultRate = 0.25)
    val loIds = lo.select("doc_id").as[Long].collect().toSet
    val hiIds = hi.select("doc_id").as[Long].collect().toSet
    // same keys every run (determinism) …
    assert(loIds == Pipeline.stratifiedSample(corpus, "doc_id", "source",
      Map("src0" -> 0.125), 0.25).select("doc_id").as[Long].collect().toSet)
    // … and raising one stratum's rate only ADDS members of that stratum
    assert(loIds.subsetOf(hiIds))
    // rate 0 drops the stratum entirely; rate 1 keeps it entirely
    val zero = Pipeline.stratifiedSample(corpus, "doc_id", "source", Map("src1" -> 0.0), 1.0)
    assert(zero.where("source = 'src1'").count() == 0)
    assert(zero.where("source <> 'src1'").count() == corpus.where("source <> 'src1'").count())
  }

  test("stratifiedSample: per-stratum rates land near expectation, default applies") {
    val s = Pipeline.stratifiedSample(corpus, "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.125), defaultRate = 0.25)
    val bySrc = s.groupBy("source").count().as[(String, Long)].collect().toMap
    // 500 docs per stratum; md5 is uniform → binomial(500, r), ±5σ
    def within(n: Long, r: Double): Boolean =
      math.abs(n - 500 * r) <= 5 * math.sqrt(500 * r * (1 - r))
    assert(within(bySrc.getOrElse("src0", 0L), 0.5), s"src0=${bySrc.get("src0")}")
    assert(within(bySrc.getOrElse("src1", 0L), 0.125), s"src1=${bySrc.get("src1")}")
    assert(within(bySrc.getOrElse("src2", 0L), 0.25), s"src2=${bySrc.get("src2")}")
    assert(within(bySrc.getOrElse("src3", 0L), 0.25), s"src3=${bySrc.get("src3")}")
  }

  test("stratifiedSample: non-dyadic rates use a rounded threshold (0.3 → 300000 granules)") {
    // 0.3 * 1e6 = 299999.9999… in binary; a truncating cast keeps one
    // granule too few. The kept set must be exactly {hash mod 1e6 < 300000}.
    val got = Pipeline.stratifiedSample(corpus, "doc_id", "source",
      Map.empty, defaultRate = 0.3).select("doc_id").as[Long].collect().toSet
    val want = corpus.select(col("doc_id"),
        pmod(TextOps.portableHash(col("doc_id").cast("string")), lit(1000000L)).as("b"))
      .where(col("b") < 300000L).select("doc_id").as[Long].collect().toSet
    assert(got == want)
  }

  test("stratifiedSample rejects out-of-range rates") {
    intercept[IllegalArgumentException] {
      Pipeline.stratifiedSample(corpus, "doc_id", "source", Map("src0" -> 1.5))
    }
  }

  // === end-to-end corpus assembly (validate → dedup → clusters →
  //     canonical → decontaminate → sample → pack) ===

  test("assembly pipeline end-to-end: stage invariants hold on the dup-lane corpus") {
    val rows = 20000L
    val docs = graft.SoakBench.corpus(spark, rows, poolSize = 65521)
      .withColumn("source",
        concat(lit("src"),
          pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(10))))
    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
    val c = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5)

    // partitions and conservation (the hard invariants are require()d
    // inside run; re-assert the load-bearing ones here)
    assert(c.nInput == rows && c.nValid == rows)
    assert(c.nAfterExact == c.nValid - c.nExactDropped)
    assert(c.nAfterNear == c.nCanonical)
    assert(c.nAfterDecon == c.nAfterNear - c.nBench - c.nContaminated)
    assert(c.nPacked == c.nSampled)
    // generator arithmetic: exact-dup lane ~rows/16, near-dup lane
    // ~rows/16 (each pair collapses to one survivor)
    assert(math.abs(c.nExactDropped - rows / 16) <= rows / 100,
      s"exact dropped ${c.nExactDropped}")
    assert(c.nPairs >= rows / 16 - rows / 100, s"pairs ${c.nPairs}")
    // monotone shrinkage through the funnel
    assert(c.nAfterExact >= c.nAfterNear && c.nAfterNear >= c.nAfterDecon &&
      c.nAfterDecon >= c.nSampled)
    // sample rate band: strata are ~uniform, one of ten at 0.5, rest 0.25
    val expect = c.nAfterDecon * (0.5 + 9 * 0.25) / 10
    assert(math.abs(c.nSampled - expect) < c.nAfterDecon * 0.05,
      s"sampled ${c.nSampled} vs expected ~$expect")
    // packing bins: each bin holds ~budget tokens (24-word docs)
    assert(c.nBins > 0 && c.nBins < c.nPacked)
  }

  test("assembly quality gate: repetition ceiling drops exactly the junk lane") {
    val rows = 20000L
    val junkMod = 971L
    val num = substring(col("doc_id"), 2, 100).cast("long")
    val docs = graft.SoakBench.corpus(spark, rows, poolSize = 65521)
      .withColumn("source", concat(lit("src"), pmod(num, lit(10))))
      // per-doc-unique repeated word: no dedup lane touches it, the
      // repetition ceiling is its only exit (dup_ratio = 21/22)
      .withColumn("text",
        when(pmod(num, lit(junkMod)) === 3,
          array_join(array_repeat(concat(lit("j"), num), 24), " "))
        .otherwise(col("text")))
    val idNum = pmod(num, lit(1009))
    val c = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
      maxRepetition = 0.5)
    val junkCount = (rows - 4) / junkMod + 1 // ids ≡ 3 (mod junkMod) in [0, rows)
    assert(c.nQualityDropped == junkCount, s"dropped ${c.nQualityDropped}")
    assert(c.nAfterQuality == c.nAfterNear - junkCount)
    assert(c.nAfterDecon == c.nAfterQuality - c.nBench - c.nContaminated)
  }

  test("assembly pipeline with mixture weighting: sampled tokens track the target shares") {
    val rows = 20000L
    val docs = graft.SoakBench.corpus(spark, rows, poolSize = 65521)
      .withColumn("source",
        concat(lit("src"),
          pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(10))))
    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
    // ~17.5k docs survive to sampling, 24 words each → ~42k tokens/source;
    // budget 60k over three named sources: rates land inside (0,1) for
    // all three (src3's 30k target < its ~42k available), so no cap
    // binds and the sample should hit the BUDGET itself
    val shares = Map("src1" -> 0.25, "src2" -> 0.25, "src3" -> 0.5)
    val budget = 60000L
    val c = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
      mixShares = Some(shares), mixTokenBudget = budget)
    assert(c.nPacked == c.nSampled)
    // unnamed sources get share 0 → rate 0: the sample holds only the
    // three named strata, and Σ sampled tokens ≈ budget (hash-gate
    // variance at ~1.7k docs/stratum stays well inside 10%)
    val sampledTokens = c.nSampled * 24.0
    assert(math.abs(sampledTokens - budget) < budget * 0.10,
      s"sampled tokens $sampledTokens vs budget $budget")
  }

  test("assembly cross-corpus span gate drops partial copies near-dedup missed") {
    // 20 pairs sharing a 12-of-60-word span at DIFFERENT offsets: too
    // little whole-doc similarity for minhash (j ≈ 0.09) and shifted
    // past any chunk grid, but 5 shared rolling 8-grams → span
    // fraction 12/60 = 0.2. A C4-style filter drops BOTH members of
    // every pair that near-dedup did not already collapse — exact
    // arithmetic via the observed collapse count.
    val nPairs = 20
    val uniq = (0 until 100).map(i =>
      (i.toLong, (0 until 60).map(j => s"u${i}w$j").mkString(" ")))
    val pairs = (0 until nPairs).flatMap { i =>
      val shared = (0 until 12).map(j => s"s${i}w$j").mkString(" ")
      val even = (0 until 10).map(j => s"a${i}w$j").mkString(" ") +
        s" $shared " + (0 until 38).map(j => s"b${i}w$j").mkString(" ")
      val odd = (0 until 30).map(j => s"c${i}w$j").mkString(" ") +
        s" $shared " + (0 until 18).map(j => s"d${i}w$j").mkString(" ")
      Seq((1000L + 2 * i, even), (1001L + 2 * i, odd))
    }
    val docs = (uniq ++ pairs).toDF("doc_id", "text")
      .withColumn("source", lit("src0"))
    val c = graft.AssemblyPipeline.run(spark, docs, benchPred = lit(false),
      maxDupSpanFraction = 0.1)
    assert(c.nExactDropped == 0)
    // a pair near-dedup collapsed has its span de-duplicated (the
    // surviving member's grams are unique again) → gate-exempt
    val collapsedPairs = c.nAfterExact - c.nAfterNear
    assert(c.nQualityDropped == 2L * (nPairs - collapsedPairs),
      s"gate must drop both members of each surviving pair: " +
        s"${c.nQualityDropped} != 2*($nPairs - $collapsedPairs)")
    assert(c.nQualityDropped > 0,
      "some pairs must survive near-dedup for the gate to be exercised")
    assert(c.nAfterDecon == c.nAfterQuality, "empty bench slice")
  }

  test("assembly with upsampling mixture: a scarce stratum repeats to hit its share") {
    val rows = 20000L
    val docs = graft.SoakBench.corpus(spark, rows, poolSize = 65521)
      .withColumn("source",
        concat(lit("src"),
          pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(10))))
    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
    // src3 alone carries the whole budget: ~1.75k surviving docs × 24
    // words ≈ 42k available tokens, budget 100k → rate ≈ 2.4 — only
    // reachable by repetition (epoch cap 4 does not bind)
    val budget = 100000L
    val c = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
      mixShares = Some(Map("src3" -> 1.0)), mixTokenBudget = budget,
      mixMaxEpochs = 4.0)
    assert(c.nPacked == c.nSampled)
    val sampledTokens = c.nSampled * 24.0
    assert(math.abs(sampledTokens - budget) < budget * 0.10,
      s"upsampled tokens $sampledTokens vs budget $budget")
    // repetition really happened: more sampled rows than distinct docs
    // can supply at one epoch
    assert(c.nSampled > c.nAfterDecon / 10 * 1.5,
      s"nSampled ${c.nSampled} should exceed one epoch of the ~1/10 stratum")
  }

  test("assembly resumes at stage granularity after an interrupt") {
    import graft.engine.{ParquetStageIO, StageIO}
    val rows = 8000L
    val docs = graft.SoakBench.corpus(spark, rows, poolSize = 65521)
      .withColumn("source",
        concat(lit("src"),
          pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(10))))
    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))

    // reference: the uninterrupted in-memory run
    val want = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5)

    val dir = java.nio.file.Files.createTempDirectory("graft-stageio").toString
    // interrupt BEFORE the third stage's commit point: its output may be
    // written but uncommitted → re-run wholesale on resume (the TableIO
    // commit discipline)
    final class FailAt(inner: StageIO, failOnCommit: Int) extends StageIO {
      var commits = 0
      def completedStages() = inner.completedStages()
      def runDescriptor() = inner.runDescriptor()
      def writeRunDescriptor(d: String) = inner.writeRunDescriptor(d)
      def writeStage(n: String, df: org.apache.spark.sql.DataFrame) =
        inner.writeStage(n, df)
      def readStage(n: String) = inner.readStage(n)
      def commitStage(n: String, s: Map[String, Long]) = {
        commits += 1
        if (commits == failOnCommit)
          throw new RuntimeException("simulated interrupt")
        inner.commitStage(n, s)
      }
      def stageScalars(n: String) = inner.stageScalars(n)
    }
    val interrupted = intercept[RuntimeException] {
      graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
        checkpoint = Some(new FailAt(new ParquetStageIO(spark, dir), 3)))
    }
    assert(interrupted.getMessage == "simulated interrupt")
    val committedAtInterrupt = new ParquetStageIO(spark, dir).completedStages()
    assert(committedAtInterrupt == Set("validate", "exact_dedup"))

    // resume: committed stages are SKIPPED (stage-granularity), the rest
    // compute, and the counts equal the uninterrupted run's
    val computed = scala.collection.mutable.ArrayBuffer[String]()
    val got = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
      checkpoint = Some(new ParquetStageIO(spark, dir)),
      onStageComputed = computed += _)
    assert(computed.toSeq ==
      Seq("near_dedup", "decontaminate", "sample", "pack"),
      s"resume must compute only uncommitted stages: $computed")
    assert(got == want, s"resumed counts differ: $got vs $want")

    // a second resume is a full skip
    val computed2 = scala.collection.mutable.ArrayBuffer[String]()
    val again = graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
      checkpoint = Some(new ParquetStageIO(spark, dir)),
      onStageComputed = computed2 += _)
    assert(computed2.isEmpty && again == want)

    // resuming under a different configuration must fail loudly
    intercept[IllegalArgumentException] {
      graft.AssemblyPipeline.run(spark, docs, benchPred = idNum === 5,
        contaminationThreshold = 0.9,
        checkpoint = Some(new ParquetStageIO(spark, dir)))
    }
  }

  test("assembly stage scalars are the committed rows; committed stages read back with no job") {
    import graft.engine.ParquetStageIO
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse}
    val rows = 4000L
    val num = substring(col("doc_id"), 2, 100).cast("long")
    val docs = graft.SoakBench.corpus(spark, rows, poolSize = 65521)
      .withColumn("source", concat(lit("src"), pmod(num, lit(10))))
    val dir = java.nio.file.Files.createTempDirectory("graft-stage-rows").toString
    graft.AssemblyPipeline.run(spark, docs, benchPred = pmod(num, lit(1009)) === 5,
      maxRepetition = 0.5, checkpoint = Some(new ParquetStageIO(spark, dir)))

    // a fresh instance knows only what the commit entries hold
    val io = new ParquetStageIO(spark, dir)
    val stages = Seq("validate", "exact_dedup", "near_dedup", "quality_gate",
      "decontaminate", "sample", "pack")
    assert(io.completedStages() == stages.toSet)
    stages.foreach { name =>
      val durable = spark.read.parquet(s"$dir/stage=$name")
      val key = name match { case "validate" => "n_valid"; case "pack" => "docs"; case _ => "kept" }
      assert(io.stageScalars(name)(key) == durable.count(),
        s"$name: committed $key must be the committed stage's row count")
      val (read, jobs) = jobsDuring(io.readStage(name))
      assert(jobs == 0, s"$name: readStage started $jobs jobs")
      assert(read.schema == durable.schema, s"$name: recorded schema != inferred")
      assert(read.count() == durable.count())
    }

    // an entry without a schema (an earlier version's) reads by inference
    val entry = java.nio.file.Paths.get(dir, "_stages", "commit-pack.json")
    val body = parse(java.nio.file.Files.readString(entry))
    assert(body \ "schema" != JNothing)
    java.nio.file.Files.writeString(entry, compact(body.removeField(_._1 == "schema")))
    java.nio.file.Files.deleteIfExists(entry.resolveSibling(".commit-pack.json.crc"))
    val noSchema = new ParquetStageIO(spark, dir).readStage("pack")
    val durable = spark.read.parquet(s"$dir/stage=pack")
    assert(noSchema.schema == durable.schema && noSchema.count() == durable.count())
    assert(io.stageScalars("pack")("docs") == durable.count())
  }

  // === packSequences ===

  private lazy val seqs = spark.range(300)
    .select(col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("source"),
      (col("id") % 7 * 100 + 50).cast("long").as("n_tok"))

  test("packSequences: bins are contiguous runs of the key order, start under budget") {
    val out = Pipeline.packSequences(seqs, "doc_id", "n_tok", "source",
      budget = 1000L, nShards = 4)
    val rows = out.join(seqs, Seq("doc_id", "source"))
      .select("source", "shard", "doc_id", "n_tok", "bin_id")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
    rows.foreach { case ((src, shard), grp) =>
      val sorted = grp.sortBy(_._3)
      // replay the exclusive-cumsum chunking definition
      var cum = 0L
      sorted.foreach { case (_, _, id, n, bin) =>
        assert(bin == cum / 1000L, s"doc $id in ($src,$shard)")
        cum += n
      }
      // bin ids are non-decreasing along the key order (contiguity)
      assert(sorted.map(_._5).sameElements(sorted.map(_._5).sorted))
    }
  }

  test("packSequences: assignment is partitioning-invariant") {
    val a = Pipeline.packSequences(seqs, "doc_id", "n_tok", "source", 1000L, 4)
      .as[(Long, String, Long, Long)].collect().toSet
    val b = Pipeline.packSequences(seqs.repartition(13), "doc_id", "n_tok", "source", 1000L, 4)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("packSequences: every bin except the last per shard reaches its budget") {
    // constant n_tok=250 divides budget 1000 → bins of exactly 4 docs
    val uniform = spark.range(100).select(col("id").as("doc_id"),
      lit("s").as("source"), lit(250L).as("n_tok"))
    val out = Pipeline.packSequences(uniform, "doc_id", "n_tok", "source", 1000L, 1)
    val sizes = out.groupBy("bin_id").count().as[(Long, Long)].collect().sortBy(_._1)
    assert(sizes.forall(_._2 == 4L))
    assert(sizes.map(_._1).toSeq == (0L until 25L))
  }

  // === mixtureWeights ===

  test("mixtureWeights: rate hits the target share unless the epoch cap binds") {
    // srcA: 1000 tokens, share 0.5 of 10k budget → needs rate 5 → capped 2
    // srcB: 8000 tokens, share 0.25 → rate 10000*0.25/8000 = 0.3125
    // srcC: absent from shares → rate 0
    val df = Seq(("a1", "srcA", 600L), ("a2", "srcA", 400L),
      ("b1", "srcB", 8000L), ("c1", "srcC", 123L))
      .toDF("doc_id", "source", "n_tok")
    val out = Pipeline.mixtureWeights(df, "source", "n_tok",
        Map("srcA" -> 0.5, "srcB" -> 0.25), budget = 10000L, maxEpochs = 2.0)
      .as[(String, Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("srcA", 1000L, 0.5, 2.0, 2000L),    // cap binds: 2 epochs, not 5
      ("srcB", 8000L, 0.25, 0.3125, 2500L), // exact: expected = budget*share
      ("srcC", 123L, 0.0, 0.0, 0L)))
  }

  test("mixtureWeights: a stratum with no countable tokens gets rate 0, not the cap") {
    val df = Seq(("a", "sNull", None: Option[Long]), ("b", "sZero", Some(0L)),
      ("c", "sOk", Some(100L)))
      .toDF("doc_id", "source", "n_tok")
    val out = Pipeline.mixtureWeights(df, "source", "n_tok",
        Map("sNull" -> 0.5, "sZero" -> 0.3, "sOk" -> 0.2), budget = 100L)
      .as[(String, Option[Long], Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    // unguarded, least() would skip the null / clamp the Inf to maxEpochs
    assert(out("sNull")._4 == 0.0 && out("sNull")._5 == 0L)
    assert(out("sZero")._4 == 0.0 && out("sZero")._5 == 0L)
    assert(out("sOk")._4 == 0.2 && out("sOk")._5 == 20L)
  }

  // === epochSample ===

  test("epochSample: multiplicity is floor(rate) plus the hash-gated fraction") {
    val df = spark.range(4000).select(col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("source"))
    // s0 upsampled 2.5×, s1 absent → rate 0
    val out = Pipeline.epochSample(df, "doc_id", "source", Map("s0" -> 2.5))
    val byDoc = out.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    // only s0 docs appear; each 2 or 3 times
    assert(byDoc.keys.forall(_ % 2 == 0))
    assert(byDoc.values.forall(c => c == 2L || c == 3L))
    // expected multiplicity 2.5 → total within hash-gate variance
    val total = byDoc.values.sum.toDouble
    assert(math.abs(total - 2000 * 2.5) < 2000 * 2.5 * 0.05, s"total $total")
    // epochs are 1..k per doc
    val eps = out.where(col("doc_id") === byDoc.keys.head)
      .select("epoch").as[Long].collect().sorted.toSeq
    assert(eps == (1L to eps.length))
  }

  test("epochSample: fractional part nests with stratifiedSample's gate") {
    val df = spark.range(1000).select(col("id").as("doc_id"), lit("s").as("source"))
    // rate 1.25: every doc once, plus the SAME quarter stratifiedSample
    // at 0.25 keeps gets a second epoch
    val out = Pipeline.epochSample(df, "doc_id", "source", Map("s" -> 1.25))
    val twice = out.groupBy("doc_id").count().where(col("count") === 2)
      .select("doc_id").as[Long].collect().toSet
    val gate = Pipeline.stratifiedSample(df, "doc_id", "source", Map("s" -> 0.25))
      .select("doc_id").as[Long].collect().toSet
    assert(twice == gate)
  }

  test("mixtureWeights: expected tokens sum to the budget when no cap binds") {
    val df = Seq(("a", "s0", 40000L), ("b", "s1", 60000L), ("c", "s2", 50000L))
      .toDF("doc_id", "source", "n_tok")
    val out = Pipeline.mixtureWeights(df, "source", "n_tok",
        Map("s0" -> 0.2, "s1" -> 0.3, "s2" -> 0.5), budget = 30000L)
      .as[(String, Long, Double, Double, Long)].collect()
    assert(out.map(_._5).sum == 30000L)
    // rates feed stratifiedSample: all within [0, 1] here
    assert(out.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
  }

  // === capPerGroup ===

  test("capPerGroup: bounded per group, small groups intact, equals the window form") {
    // 4 groups of 500 + one 3-row group (below the cap)
    val df = corpus.union(Seq((9001L, "tiny"), (9002L, "tiny"), (9003L, "tiny"))
      .toDF("doc_id", "source"))
    val out = Pipeline.capPerGroup(df, "doc_id", "source", 10)
    val sizes = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(sizes.filterKeys(_ != "tiny").values.forall(_ == 10L))
    assert(sizes("tiny") == 3L)
    // declarative differential: the row_number window over the same
    // priority must select the identical key set
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(shiftright(TextOps.portableHash(col("doc_id").cast("string")), 7),
        col("doc_id"))
    val ref = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet == ref)
    // all original columns survive the semi join
    assert(out.columns.toSeq == df.columns.toSeq)
  }

  test("capPerGroup: monotone in the cap (cap-5 selection nested in cap-10)") {
    val five = Pipeline.capPerGroup(corpus, "doc_id", "source", 5)
      .select("doc_id").as[Long].collect().toSet
    val ten = Pipeline.capPerGroup(corpus, "doc_id", "source", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(five.subsetOf(ten) && five.size == 20 && ten.size == 40)
  }

  // === assignSplit ===

  test("assignSplit: disjoint partition of the keyspace, deterministic, near-proportional") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.05)
    val out = Pipeline.assignSplit(corpus, "doc_id", splits)
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    // every row gets exactly one label (or null for the residual 5%)
    assert(counts.values.sum == 2000L)
    assert(counts.keySet == Set("train", "val", "test", null))
    // near-proportional: 2000 keys, hash-uniform → binomial tolerance
    assert(math.abs(counts("train") - 1600L) < 80)
    assert(math.abs(counts("val") - 200L) < 60)
    // stable under repartitioning (membership is key-only)
    val re = Pipeline.assignSplit(corpus.repartition(17), "doc_id", splits)
      .where(col("split") === "val").select("doc_id").as[Long].collect().toSet
    val first = out.where(col("split") === "val")
      .select("doc_id").as[Long].collect().toSet
    assert(re == first)
  }

  test("assignSplit: composes with stratifiedSample on the shared granule space") {
    // sampling at 0.8 keeps exactly the train split of an 0.8/0.2 split:
    // both tests of the same granule < 800000 cut
    val split = Pipeline.assignSplit(corpus, "doc_id",
        Seq("train" -> 0.8, "test" -> 0.2))
      .where(col("split") === "train").select("doc_id").as[Long].collect().toSet
    val samp = Pipeline.stratifiedSample(corpus, "doc_id", "source",
        Map.empty, defaultRate = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(split == samp)
  }

  test("assignSplit rejects over-unity and negative fractions") {
    intercept[IllegalArgumentException] {
      Pipeline.assignSplit(corpus, "doc_id", Seq("a" -> 0.9, "b" -> 0.2))
    }
    intercept[IllegalArgumentException] {
      Pipeline.assignSplit(corpus, "doc_id", Seq("a" -> -0.1))
    }
  }
}
