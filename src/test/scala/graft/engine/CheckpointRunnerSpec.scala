package graft.engine

import graft.SparkSessionTestWrapper
import graft.gen.SequenceGen
import graft.spec.SchemaParser
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Partition-granularity checkpoint/resume — the north-rule requirement:
  * a simulated interrupt (`limit`) commits a prefix of partitions;
  * resume processes ONLY the remainder; a third run processes nothing;
  * outputs are idempotent and, unioned across partitions, identical to
  * a single global validation pass.
  */
class CheckpointRunnerSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val spec = SchemaParser.parse(graft.Main.builtinSpec)

  private def violationSet(dir: String): Set[(String, String)] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Set.empty
    else spark.read.option("basePath", dir).parquet(dir)
      .select("doc_id", "constraint_id").collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getString(1))).toSet
  }

  test("interrupt after 3 partitions, resume runs only the rest, third run is a no-op") {
    val out = Files.createTempDirectory("graft_ckpt").toString
    val df = SequenceGen.generate(spark, 5000)
    val runner = new CheckpointRunner(spark, out)

    val first = runner.run(df, spec, "doc_id", "source", limit = Some(3))
    assert(first.size == 3)
    assert(runner.completedPartitions() == first.map(_.partition).toSet)

    val second = runner.run(df, spec, "doc_id", "source")
    assert(second.map(_.partition).toSet.intersect(first.map(_.partition).toSet).isEmpty,
      "resume must not re-run committed partitions")
    val allParts = (first ++ second).map(_.partition).toSet
    assert(runner.completedPartitions() == allParts)

    val third = runner.run(df, spec, "doc_id", "source")
    assert(third.isEmpty, "fully-committed run must process zero partitions")

    // the union of per-partition outputs equals one global pass
    val global = ValidationEngine.violations(df, spec, Seq("doc_id"))
      .select("doc_id", "constraint_id").collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getString(1))).toSet
    assert(violationSet(s"$out/violations") == global)

    // metrics cover every row exactly once
    assert((first ++ second).map(_.nRows).sum == 5000L)
  }

  test("emitValid writes the defaults-applied passing rows; defaults can repair a row into validity") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft_ckpt_valid").toString
    // spec with a default: a null `a` is repaired to 5 (which passes the
    // minimum), so the row is VALID in the emitValid semantics even
    // though raw validation would fail it on required
    val dSpec = SchemaParser.parse(
      """{
        "type": "object",
        "properties": {
          "k": {"type": "string", "required": true},
          "a": {"type": "integer", "required": true, "default": 5, "minimum": 3},
          "src": {"type": "string", "required": true}
        }
      }""")
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("a", LongType, nullable = true),
      StructField("src", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("k1", 10L, "s0"),   // valid as-is
        Row("k2", null, "s0"),  // valid ONLY via the default (5 >= 3)
        Row("k3", 1L, "s0"),    // invalid: 1 < minimum 3 (no default applies)
        Row("k4", 7L, "s1")), 2), schema)

    val runner = new CheckpointRunner(spark, out)
    val res = runner.run(df, dSpec, "k", "src", emitValid = true)
    assert(res.map(_.nRows).sum == 4L)
    assert(res.map(_.nFailed).sum == 1L, "only k3 fails once defaults apply")

    val valid = spark.read.option("basePath", s"$out/valid").parquet(s"$out/valid")
    val rows = valid.select("k", "a").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("k1" -> 10L, "k2" -> 5L, "k4" -> 7L),
      "k2 carries the APPLIED default; k3 is quarantined")
    // the emitted frame carries the data columns only, no verdict columns
    assert(valid.columns.sorted.toSeq == Seq("a", "k", "part", "src"))
    // violations hold exactly the quarantined row
    assert(violationSet(s"$out/valid_viol_never") == Set.empty)
    val viol = spark.read.option("basePath", s"$out/violations")
      .parquet(s"$out/violations").select("k").collect().map(_.getString(0)).toSet
    assert(viol == Set("k3"))

    // resume: a second run processes nothing and leaves outputs intact
    assert(runner.run(df, dSpec, "k", "src", emitValid = true).isEmpty)
    assert(spark.read.option("basePath", s"$out/valid").parquet(s"$out/valid").count() == 3L)
  }

  test("legacy flat manifest layout is rejected with a clear message, not misread") {
    val out = Files.createTempDirectory("graft_ckpt_legacy").toString
    // simulate a pre-partitioned-layout outDir: manifest rows appended as
    // flat parquet files directly under _manifest/
    import spark.implicits._
    Seq(("src0", 10L, 0L, 0L, "t"))
      .toDF("partition", "n_rows", "n_failed", "n_violations", "committed_at")
      .write.mode("append").parquet(s"$out/_manifest")
    val runner = new CheckpointRunner(spark, out)
    val ex = intercept[IllegalArgumentException] { runner.completedPartitions() }
    assert(ex.getMessage.contains("fresh outDir"), ex.getMessage)
  }

  test("bucket sub-split: finer commit units, resume mid-source, totals match unsplit run") {
    val out = Files.createTempDirectory("graft_ckpt_sub").toString
    val df = SequenceGen.generate(spark, 5000)
    val runner = new CheckpointRunner(spark, out)
    val nSources = df.select("source").distinct().count().toInt

    // interrupt INSIDE a source: 5 units with 3 buckets/source stops
    // mid-way through the second source's buckets
    val first = runner.run(df, spec, "doc_id", "source",
      limit = Some(5), split = SubSplit.Bucket(3))
    assert(first.size == 5)
    assert(first.map(_.partition).forall(_.matches(".*~b[0-2]$")))

    val second = runner.run(df, spec, "doc_id", "source", split = SubSplit.Bucket(3))
    assert(second.size == nSources * 3 - 5, "resume runs exactly the remaining units")
    assert((first ++ second).map(_.nRows).sum == 5000L,
      "every row validated exactly once across sub-units")

    // union across sub-units equals one global pass
    val global = ValidationEngine.violations(df, spec, Seq("doc_id"))
      .select("doc_id", "constraint_id").collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getString(1))).toSet
    assert(violationSet(s"$out/violations") == global)

    assert(runner.run(df, spec, "doc_id", "source", split = SubSplit.Bucket(3)).isEmpty,
      "fully-committed sub-split run must process zero units")
  }

  test("resuming with a different split granularity is rejected (stale outputs would double-count)") {
    val out = Files.createTempDirectory("graft_ckpt_mix").toString
    val df = SequenceGen.generate(spark, 2000)
    val runner = new CheckpointRunner(spark, out)
    runner.run(df, spec, "doc_id", "source", limit = Some(1))
    val e = intercept[IllegalArgumentException] {
      runner.run(df, spec, "doc_id", "source", split = SubSplit.Bucket(3))
    }
    assert(e.getMessage.contains("split"))
    // same split still resumes fine
    runner.run(df, spec, "doc_id", "source")
  }

  test("range sub-split: unit membership respects cut points; null keys land in unit 0") {
    val out = Files.createTempDirectory("graft_ckpt_rng").toString
    val df = SequenceGen.generate(spark, 4000)
    // cuts inside the generated doc_id domain d0000000000..d0000003999
    val cuts = Seq(SequenceGen.docIdOf(1000), SequenceGen.docIdOf(3000))
    val res = new CheckpointRunner(spark, out)
      .run(df, spec, "doc_id", "source", split = SubSplit.Ranges(cuts))
    assert(res.map(_.nRows).sum == 4000L)

    // every committed unit's violation rows satisfy that unit's range
    // (doc_ids outside the canonical format — injected nulls and BAD~ids —
    // sort below/above the cuts deterministically, same rule both sides)
    val byUnit = spark.read.option("basePath", s"$out/violations")
      .parquet(s"$out/violations")
      .select("part", "doc_id").collect()
    byUnit.foreach { r =>
      val unit = r.getString(0); val id = Option(r.getString(1))
      val idx = unit.substring(unit.indexOf("~r") + 2).toInt
      val expected = id.fold(0)(s => cuts.count(s >= _))
      assert(idx == expected, s"doc_id $id in wrong range unit $unit")
    }
  }

  test("concurrent commit units (bounded pool) produce the same results and manifest as serial") {
    val df = SequenceGen.generate(spark, 5000)
    val outS = Files.createTempDirectory("graft_ckpt_ser").toString
    val outC = Files.createTempDirectory("graft_ckpt_con").toString
    val serial = new CheckpointRunner(spark, outS)
      .run(df, spec, "doc_id", "source", split = SubSplit.Bucket(2))
    val concurrent = new CheckpointRunner(spark, outC)
      .run(df, spec, "doc_id", "source", split = SubSplit.Bucket(2), concurrency = 4)
    assert(concurrent == serial, "unit order and metrics must be deterministic")
    assert(new CheckpointRunner(spark, outC).completedPartitions() ==
      serial.map(_.partition).toSet)
    assert(violationSet(s"$outC/violations") == violationSet(s"$outS/violations"))
    // a concurrent run resumes cleanly too
    assert(new CheckpointRunner(spark, outC)
      .run(df, spec, "doc_id", "source", split = SubSplit.Bucket(2), concurrency = 4).isEmpty)
  }

  test("concurrent pool: the first failed unit cancels its siblings and reports every failure") {
    val df = SequenceGen.generate(spark, 2000)
      .where(org.apache.spark.sql.functions.col("source").isin("src0", "src1"))
    val out = Files.createTempDirectory("graft_ckpt_cancel").toString
    CheckpointRunnerSpec.blockedTask = new java.util.concurrent.CountDownLatch(1)
    // src1 runs a job that blocks until it is cancelled; src0 fails once
    // that job's task is running
    final class FailOneIO(inner: TableIO) extends TableIO {
      override def completedUnits(): Set[String] = inner.completedUnits()
      override def splitDescriptor(): Option[String] = inner.splitDescriptor()
      override def writeSplitDescriptor(desc: String): Unit = inner.writeSplitDescriptor(desc)
      override def writeViolations(unitId: String, v: org.apache.spark.sql.DataFrame): Unit =
        if (unitId == "src0") {
          assert(CheckpointRunnerSpec.blockedTask.await(60, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("unit src0 failed")
        } else {
          spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
            CheckpointRunnerSpec.blockedTask.countDown()
            val ctx = org.apache.spark.TaskContext.get()
            val deadline = System.nanoTime() + 120L * 1000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
          }
          inner.writeViolations(unitId, v)
        }
      override def commit(res: PartitionResult, at: java.time.Instant): Unit = inner.commit(res, at)
    }
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      new CheckpointRunner(spark, new FailOneIO(new ParquetManifestIO(spark, out)))
        .run(df, spec, "doc_id", "source", concurrency = 2)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage == "unit src0 failed")
    assert(err.getSuppressed.toSeq.map(_.getClass) == Seq(classOf[org.apache.spark.SparkException]),
      s"the cancelled sibling's failure rides along: ${err.getSuppressed.toSeq}")
    assert(secs < 60, s"the blocked sibling was not cancelled (${secs}s)")
    assert(new ParquetManifestIO(spark, out).completedUnits().isEmpty,
      "neither the failed nor the cancelled unit may commit")
  }

  test("TableIO seam: the runner drives any implementation (in-memory), commit strictly after output") {
    final class MemoryIO extends TableIO {
      val violations = scala.collection.mutable.Map[String, Long]()
      val committed = scala.collection.mutable.LinkedHashSet[String]()
      var split: Option[String] = None
      val log = scala.collection.mutable.ArrayBuffer[String]()
      override def completedUnits(): Set[String] = committed.toSet
      override def splitDescriptor(): Option[String] = split
      override def writeSplitDescriptor(desc: String): Unit = split = Some(desc)
      override def writeViolations(unitId: String, v: org.apache.spark.sql.DataFrame): Unit =
        synchronized { violations(unitId) = v.count(); log += s"write:$unitId" }
      override def commit(res: PartitionResult, at: java.time.Instant): Unit =
        synchronized { committed += res.partition; log += s"commit:${res.partition}" }
    }
    val df = SequenceGen.generate(spark, 2000)
    val io = new MemoryIO
    val runner = new CheckpointRunner(spark, io)
    val first = runner.run(df, spec, "doc_id", "source", limit = Some(2))
    assert(io.committed.toSet == first.map(_.partition).toSet)
    // commit is strictly after that unit's violations write
    first.foreach { r =>
      assert(io.log.indexOf(s"write:${r.partition}") < io.log.indexOf(s"commit:${r.partition}"))
    }
    // resume consults the SAME trait: only the rest runs
    val second = runner.run(df, spec, "doc_id", "source")
    assert(second.map(_.partition).toSet.intersect(first.map(_.partition).toSet).isEmpty)
    assert(io.violations.keySet == (first ++ second).map(_.partition).toSet)
    assert(io.split.contains("none"))
  }

  test("re-running a committed partition is idempotent (same violations, same metrics)") {
    val df = SequenceGen.generate(spark, 3000)
    val outA = Files.createTempDirectory("graft_ckpt_a").toString
    val outB = Files.createTempDirectory("graft_ckpt_b").toString
    val a = new CheckpointRunner(spark, outA).run(df, spec, "doc_id", "source", limit = Some(1))
    val b = new CheckpointRunner(spark, outB).run(df, spec, "doc_id", "source", limit = Some(1))
    assert(a == b, "same input partition must commit identical metrics")
    val p = a.head.partition
    assert(violationSet(s"$outA/violations/part=$p") == violationSet(s"$outB/violations/part=$p"))

    // overwrite semantics: wiping the manifest and re-running the same
    // partition into the SAME directory leaves identical outputs
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$outA/_manifest")).deleteRecursively()
    val before = violationSet(s"$outA/violations/part=$p")
    val again = new CheckpointRunner(spark, outA).run(df, spec, "doc_id", "source", limit = Some(1))
    assert(again == a)
    assert(violationSet(s"$outA/violations/part=$p") == before)
  }

  test("capViolations bounds written exemplars; observed metrics stay exact") {
    val df = SequenceGen.generate(spark, 5000)
    val nParts = df.rdd.getNumPartitions
    val outFull = Files.createTempDirectory("graft_ckpt_full").toString
    val outCap = Files.createTempDirectory("graft_ckpt_cap").toString
    val full = new CheckpointRunner(spark, outFull).run(df, spec, "doc_id", "source")
    val capped = new CheckpointRunner(spark, outCap)
      .run(df, spec, "doc_id", "source", capViolations = Some(2))

    // metrics are computed below the cap: identical to the uncapped run
    assert(capped == full, "cap must not change observed counts")

    // written rows: per (unit, constraint) at most cap × input partitions
    // (the cap is per task partition), and never more than the full set
    val fullV = spark.read.option("basePath", s"$outFull/violations")
      .parquet(s"$outFull/violations")
      .groupBy("part", "constraint_id").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val capV = spark.read.option("basePath", s"$outCap/violations")
      .parquet(s"$outCap/violations")
      .groupBy("part", "constraint_id").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capV.nonEmpty)
    capV.foreach { case (k, n) =>
      assert(n <= math.min(2L * nParts, fullV(k)), s"$k: $n exemplars")
    }
    // every constraint that fails somewhere still has at least one exemplar
    assert(capV.keySet == fullV.keySet)
  }
}

object CheckpointRunnerSpec {
  /** Counted down by the blocking task (local mode: same JVM); a fresh
    * latch per run of the test that uses it.
    */
  @volatile var blockedTask = new java.util.concurrent.CountDownLatch(1)
}
