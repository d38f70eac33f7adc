package graft.engine

import graft.SparkSessionTestWrapper
import graft.gen.SequenceGen
import graft.spec.SchemaParser
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The driver-side commit files behind [[ParquetManifestIO]] and
  * [[ParquetStageIO]] ([[CommitFiles]]), and the unit list
  * [[CheckpointRunner]] takes from a file relation's index.
  */
class CommitManifestSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val spec = SchemaParser.parse(graft.Main.builtinSpec)

  test("an outDir in the older _manifest/part=<id>/ Parquet layout is rejected") {
    val out = Files.createTempDirectory("graft_manifest_old").toString
    import spark.implicits._
    Seq(("src0", 10L, 0L, 0L, "t"))
      .toDF("partition", "n_rows", "n_failed", "n_violations", "committed_at")
      .write.parquet(s"$out/_manifest/part=src0")
    val ex = intercept[IllegalArgumentException] {
      new CheckpointRunner(spark, out).completedPartitions()
    }
    assert(ex.getMessage.contains("fresh outDir"), ex.getMessage)

    val stages = Files.createTempDirectory("graft_stages_old").toString
    Seq(("validate", "n_input", 1L)).toDF("stage", "key", "value")
      .write.parquet(s"$stages/_stages/part=validate")
    val ex2 = intercept[IllegalArgumentException] {
      new ParquetStageIO(spark, stages).completedStages()
    }
    assert(ex2.getMessage.contains("fresh outDir"), ex2.getMessage)
  }

  test("a tmp file left by a crash before the rename leaves its unit uncommitted; it re-runs") {
    val out = Files.createTempDirectory("graft_manifest_crash").toString
    val df = SequenceGen.generate(spark, 2000)
    val runner = new CheckpointRunner(spark, out)
    val first = runner.run(df, spec, "doc_id", "source", limit = Some(2))
    val next = (df.select("source").distinct().collect().map(_.getString(0)).toSet --
      first.map(_.partition)).min
    // the crashed commit: its tmp file is written, the rename never ran
    Files.writeString(Paths.get(s"$out/_manifest/.commit-$next.json.crashed.tmp"),
      s"""{"partition":"$next","n_rows":1}""")
    assert(runner.completedPartitions() == first.map(_.partition).toSet)
    val second = runner.run(df, spec, "doc_id", "source")
    assert(second.map(_.partition).contains(next))
    assert((first ++ second).map(_.nRows).sum == 2000L)

    // the committed entry reads back as one JSON line per unit
    val manifest = spark.read.json(s"$out/_manifest")
    assert(manifest.count() == (first ++ second).size)
    val row = manifest.where(col("partition") === next).head()
    assert(row.getAs[Long]("n_rows") == second.find(_.partition == next).get.nRows)

    // the same holds for a stage commit
    val dir = Files.createTempDirectory("graft_stage_crash").toString
    val io = new ParquetStageIO(spark, dir)
    io.commitStage("validate", Map("n_input" -> 7L, "n_valid" -> 6L))
    Files.writeString(Paths.get(s"$dir/_stages/.commit-exact_dedup.json.crashed.tmp"), "{}")
    assert(io.completedStages() == Set("validate"))
    assert(io.stageScalars("validate") == Map("n_input" -> 7L, "n_valid" -> 6L))
  }

  test("listing units and stages, descriptors and stage scalars start no Spark job") {
    val out = Files.createTempDirectory("graft_manifest_jobs").toString
    val df = SequenceGen.generate(spark, 2000)
    val committed = new CheckpointRunner(spark, out)
      .run(df, spec, "doc_id", "source", limit = Some(3)).map(_.partition).toSet
    val io = new ParquetManifestIO(spark, out)
    val ((units, split), jobs) = jobsDuring((io.completedUnits(), io.splitDescriptor()))
    assert(units == committed && split.contains("none"))
    assert(jobs == 0, s"$jobs jobs")

    val dir = Files.createTempDirectory("graft_stage_jobs").toString
    val sio = new ParquetStageIO(spark, dir)
    val ((), commitJobs) = jobsDuring {
      sio.writeRunDescriptor("desc")
      sio.commitStage("validate", Map("n_input" -> 3L))
      sio.commitStage("exact_dedup", Map("dropped" -> 1L, "kept" -> 2L))
    }
    assert(commitJobs == 0, s"$commitJobs jobs")
    val ((stages, scalars, desc), readJobs) = jobsDuring(
      (sio.completedStages(), sio.stageScalars("exact_dedup"), sio.runDescriptor()))
    assert(stages == Set("validate", "exact_dedup"))
    assert(scalars == Map("dropped" -> 1L, "kept" -> 2L) && desc.contains("desc"))
    assert(readJobs == 0, s"$readJobs jobs")
  }

  test("units from the file index equal the distinct job's, including the null partition") {
    val dir = Files.createTempDirectory("graft_fileindex").toString
    SequenceGen.generate(spark, 4000)
      .withColumn("source", when(col("doc_id").endsWith("7"), lit(null)).otherwise(col("source")))
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    assert(Files.exists(Paths.get(s"$dir/source=__HIVE_DEFAULT_PARTITION__")))
    val df = spark.read.parquet(dir)
    val distinct = df.select("source").distinct().collect()
      .map(r => Option(r.getString(0)).getOrElse(CheckpointRunner.NullUnit)).toSeq.sorted
    val (listed, jobs) = jobsDuring(CheckpointRunner.fileIndexPartitions(df, "source"))
    assert(listed.map(_.sorted).contains(distinct))
    assert(distinct.contains(CheckpointRunner.NullUnit))
    assert(jobs == 0, s"$jobs jobs")

    val out = Files.createTempDirectory("graft_fileindex_run").toString
    val res = new CheckpointRunner(spark, out).run(df, spec, "doc_id", "source")
    assert(res.map(_.partition) == distinct)
    assert(res.map(_.nRows).sum == 4000L)
  }

  test("a partition directory whose files hold zero rows is a unit that commits n_rows = 0") {
    val dir = Files.createTempDirectory("graft_fileindex_empty").toString
    val gen = SequenceGen.generate(spark, 2000)
    gen.write.mode("overwrite").partitionBy("source").parquet(dir)
    gen.limit(0).drop("source").coalesce(1).write.parquet(s"$dir/source=src_empty")
    val df = spark.read.parquet(dir)
    assert(df.where(col("source") === "src_empty").count() == 0L)
    assert(CheckpointRunner.fileIndexPartitions(df, "source").exists(_.contains("src_empty")))
    val out = Files.createTempDirectory("graft_fileindex_empty_run").toString
    val res = new CheckpointRunner(spark, out).run(df, spec, "doc_id", "source")
    assert(res.find(_.partition == "src_empty").map(_.nRows).contains(0L))
    assert(res.map(_.nRows).sum == 2000L)
  }

  test("generated, JSONL, filtered and projected frames fall back to the distinct job") {
    val dir = Files.createTempDirectory("graft_fileindex_fallback").toString
    val gen = SequenceGen.generate(spark, 2000)
    gen.write.mode("overwrite").partitionBy("source").parquet(dir)
    val pq = spark.read.parquet(dir)
    assert(CheckpointRunner.fileIndexPartitions(gen, "source").isEmpty)
    assert(CheckpointRunner.fileIndexPartitions(pq.where(col("n_tok") > 3), "source").isEmpty)
    assert(CheckpointRunner.fileIndexPartitions(pq.select("doc_id", "source"), "source").isEmpty)
    // a file relation not partitioned by partCol
    assert(CheckpointRunner.fileIndexPartitions(pq, "doc_id").isEmpty)

    val jsonl = Files.createTempFile("graft_fallback", ".jsonl")
    Files.writeString(jsonl,
      """{"doc_id":"d0000000001","tokens":[1,2],"n_tok":2,"source":"src0"}
        |{"doc_id":"d0000000002","tokens":[3],"n_tok":1,"source":"src1"}
        |""".stripMargin)
    val js = graft.sources.JsonlSource.read(spark, jsonl.toString, spec)
    assert(CheckpointRunner.fileIndexPartitions(js, "source").isEmpty)
    val out = Files.createTempDirectory("graft_fileindex_fallback_run").toString
    val res = new CheckpointRunner(spark, out).run(
      js.drop(graft.sources.JsonlSource.CorruptCol), spec, "doc_id", "source")
    assert(res.map(_.partition) == Seq("src0", "src1"))
  }
}
