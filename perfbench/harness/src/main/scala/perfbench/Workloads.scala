package perfbench

import graft.{AssemblyPipeline, SparkEntry}
import graft.compile.SpecCompiler
import graft.engine.{Checks, CheckpointRunner, ParquetManifestIO, ParquetStageIO}
import graft.gen.SequenceGen
import graft.spec.SchemaParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Correctness of one pass: operations attempted and failed, with reasons. */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String])

/** One benchmark workload: a timed pass over seeded inputs, the check of
  * its outputs, and how its spans map onto the program's layers.
  */
trait Workload {
  type Result
  def name: String
  /** Rows of input one pass consumes (the `rows_per_s` numerator). */
  def inputRows: Long
  /** Operations one pass attempts (a query, a commit unit or check, an assembly stage). */
  def opsPerPass: Int
  /** Write the seeded input (timed apart from the passes). Every run
    * writes it, so every timed pass follows the same warm-up.
    */
  def prepare(): Unit = ()
  /** One pass; `i` numbers the pass so each gets fresh output state. */
  def run(tr: Tracer, i: Int): Result
  /** Check a pass's outputs (untimed) and release its on-disk state. */
  def check(r: Result, i: Int): Outcome
  /** Spans derived from the seam spans, and seam spans moved under them. */
  def derive(rec: PassRecord, firstId: Int): (Seq[Span], Map[Int, Int]) = (Nil, Map.empty)
  /** Per-layer metrics measured apart from the timed passes (traced runs only). */
  def outOfBand(): Map[String, Double] = Map.empty
  /** The span whose jobs define `scan.rows_read_per_input_row`. */
  def scanRoot(rec: PassRecord): Int = rec.root.id
}

object Workload {
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** `graft.Main validate`'s flow: CheckpointRunner over the Parquet table
  * partitioned by `source`, then the four cross-row checks.
  */
final class ValidateSeq(spark: SparkSession, input: String, rows: Long, seed: Long,
    work: String) extends Workload {
  require(rows % 2000 == 0, "the injection arithmetic needs rows divisible by 2000")
  type Result = ValidateSeq.Result
  val name = "validate_seq"
  val inputRows: Long = rows
  private val units = (SequenceGen.Sources :+ "src_unknown").toSet
  val opsPerPass: Int = units.size + 4

  override def prepare(): Unit = {
    Workload.rm(input)
    SequenceGen.generate(spark, rows, seed).write.partitionBy("source").parquet(input)
  }

  def run(tr: Tracer, i: Int): Result = {
    val out = s"$work/validate-$i"
    val spec = tr.span("spec.parse", "spec")(SchemaParser.parse(graft.Main.builtinSpec))
    val df = tr.span("source.read", "source")(spark.read.parquet(input))
    val runner = new CheckpointRunner(spark, new TimedTableIO(new ParquetManifestIO(spark, out), tr))
    val results = Try(tr.span("checkpoint.run", "checkpoint")(
      runner.run(df, spec, "doc_id", "source")))
    def check[T](n: String)(body: => T): Try[T] = Try(tr.span(s"checks.$n", "checks")(body))
    val uniq = check("uniqueness")(Checks.uniquenessViolations(df, "doc_id").count())
    val refi = check("referential")(Checks.referentialViolations(
      df, "source", SequenceGen.sourcesDim(spark), "source").count())
    val cons = check("consistency")(Checks.consistencyViolations(df, "doc_id",
      "$.n_tok.consistent", col("n_tok") === size(col("tokens")), col("n_tok")).count())
    val drift = check("drift") {
      val hist = Checks.histogram(df.where(col("source").isin(SequenceGen.Sources: _*)),
        "n_tok", 32.0, Seq("source"))
      Checks.driftByGroup(hist, Seq("source"), SequenceGen.baselineProfile(spark, 32))
        .orderBy(desc("psi")).collect().toSeq.map(r => r.getString(0) -> r.getDouble(2))
    }
    ValidateSeq.Result(results, uniq, refi, cons, drift)
  }

  def check(r: Result, i: Int): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0
    r.units match {
      case Failure(e) =>
        failed += units.size; problems += s"CheckpointRunner.run threw: $e"
      case Success(res) =>
        // run() returns the units it computed: all 11, once each, none resumed
        val got = res.map(_.partition)
        val bad = (units -- got) ++ got.diff(units.toSeq)
        val (nRows, nFailed) = (res.map(_.nRows).sum, res.map(_.nFailed).sum)
        if (bad.nonEmpty) {
          failed += bad.size; problems += s"units not computed exactly once: ${bad.mkString(",")}"
        } else if (nRows != rows || nFailed != 5 * rows / 2000) {
          failed += units.size; problems += s"unit totals rows=$nRows failed=$nFailed"
        }
    }
    def exact(n: String, t: Try[Long], want: Long): Unit = t match {
      case Success(v) if v == want =>
      case other => failed += 1; problems += s"$n: got $other, want $want"
    }
    exact("uniqueness", r.uniq, rows / 1000 - 1)
    exact("referential", r.refi, rows / 2000)
    exact("consistency", r.cons, rows / 1000)
    r.drift match {
      case Success(top) if top.headOption.exists(_._1 == "src3") && top.head._2 > 1.0 &&
        top.tail.forall(_._2 < 0.1) =>
      case other => failed += 1; problems += s"drift: src3 must lead alone, got $other"
    }
    Workload.rm(s"$work/validate-$i")
    Outcome(opsPerPass, failed, problems.toSeq)
  }

  /** A commit unit spans its writeViolations call through its commit. */
  override def derive(rec: PassRecord, firstId: Int): (Seq[Span], Map[Int, Int]) = {
    val w = rec.seams.filter(_.name == "tableio.write_violations")
    val c = rec.seams.filter(_.name == "tableio.commit")
    val made = w.zip(c).zipWithIndex.map { case ((a, b), k) =>
      Span(firstId + k, "checkpoint.unit", "checkpoint.unit", a.start, b.end, a.parent)
    }
    (made, w.zip(c).zip(made).flatMap { case ((a, b), u) => Seq(a.id -> u.id, b.id -> u.id) }.toMap)
  }

  /** CheckpointRunner compiles the spec inside each unit, where no public
    * seam separates it from the unit's write; so compile.spec_s is one
    * compile of the builtin spec against the input's schema, timed after
    * the passes (warm, as for every unit after the first).
    */
  override def outOfBand(): Map[String, Double] = {
    val spec = SchemaParser.parse(graft.Main.builtinSpec)
    val schema = spark.read.parquet(input).schema
    val t0 = System.nanoTime()
    SpecCompiler.compileTable(spec, schema)
    Map("compile.spec_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def scanRoot(rec: PassRecord): Int =
    rec.seams.find(_.name == "checkpoint.run").map(_.id).getOrElse(rec.root.id)
}

/** `AssemblyPipeline.run` with a durable ParquetStageIO checkpoint and an
  * output directory, over the seeded document corpus ([[DocCorpus]]).
  */
final class AssembleDocs(spark: SparkSession, input: String, rows: Long, seed: Long,
    work: String) extends Workload {
  type Result = AssembleDocs.Result
  val name = "assemble_docs"
  val inputRows: Long = rows
  val stages = Seq("validate", "exact_dedup", "near_dedup", "quality_gate",
    "decontaminate", "sample", "pack")
  val opsPerPass: Int = stages.size
  private var first: Option[AssemblyPipeline.StageCounts] = None
  private val countsFile = s"$work/assemble_docs-s$seed-n$rows.stage_counts"

  override def prepare(): Unit = {
    Workload.rm(input)
    DocCorpus.generate(spark, rows, seed).write.parquet(input)
  }

  def run(tr: Tracer, i: Int): Result = {
    val dir = s"$work/assemble-$i"
    val docs = tr.span("source.read", "source")(spark.read.parquet(input))
    val io = new TimedStageIO(new ParquetStageIO(spark, s"$dir/checkpoint"), tr)
    val computed = mutable.ArrayBuffer.empty[String]
    val idNum = pmod(substring(col("doc_id"), 2, 100).cast("long"), lit(1009))
    val counts = Try(tr.span("assemble.run", "assemble")(AssemblyPipeline.run(spark, docs,
      benchPred = idNum === 5, maxRepetition = 0.5, outDir = Some(s"$dir/out"),
      checkpoint = Some(io), onStageComputed = s => { computed += s; tr.mark(s) })))
    AssembleDocs.Result(counts, computed.toSeq)
  }

  /** Field of StageCounts → the stage that produced it. */
  private def byStage(c: AssemblyPipeline.StageCounts): Seq[(String, Long)] = Seq(
    "validate" -> c.nInput, "validate" -> c.nValid,
    "exact_dedup" -> c.nExactDropped, "exact_dedup" -> c.nAfterExact,
    "near_dedup" -> c.nPairs, "near_dedup" -> c.nLabeled,
    "near_dedup" -> c.nCanonical, "near_dedup" -> c.nAfterNear,
    "quality_gate" -> c.nQualityDropped, "quality_gate" -> c.nAfterQuality,
    "decontaminate" -> c.nBench, "decontaminate" -> c.nContaminated,
    "decontaminate" -> c.nAfterDecon, "sample" -> c.nSampled,
    "pack" -> c.nPacked, "pack" -> c.nBins)

  def check(r: Result, i: Int): Outcome = {
    val dir = s"$work/assemble-$i"
    val bad = mutable.Set.empty[String]
    val problems = mutable.ArrayBuffer.empty[String]
    r.counts match {
      case Failure(e) => bad ++= stages; problems += s"AssemblyPipeline.run threw: $e"
      case Success(c) =>
        val missing = stages.filterNot(r.computed.contains)
        if (missing.nonEmpty || r.computed.size != stages.size) {
          bad ++= missing; problems += s"stages not computed fresh: ${r.computed.mkString(",")}"
        }
        if (c.nInput != rows || c.nValid != rows) { bad += "validate"; problems += s"validate $c" }
        val junk = DocCorpus.junkCount(rows)
        if (c.nQualityDropped != junk) {
          bad += "quality_gate"; problems += s"quality gate dropped ${c.nQualityDropped}, junk lane is $junk"
        }
        val written = Try(spark.read.parquet(s"$dir/out").count())
        if (written != Success(c.nPacked)) {
          bad += "pack"; problems += s"output rows $written != ${c.nPacked}"
        }
        // the first pass of a seed fixes its counts; every later pass and run must repeat them
        val want = first.orElse(readCounts()).getOrElse { writeCounts(c); c }
        first = Some(want)
        byStage(c).zip(byStage(want)).foreach { case ((s, got), (_, exp)) =>
          if (got != exp) { bad += s; problems += s"$s count $got != $exp from an earlier pass" }
        }
    }
    Workload.rm(dir)
    Outcome(opsPerPass, bad.size, problems.toSeq)
  }

  private def readCounts(): Option[AssemblyPipeline.StageCounts] = {
    val p = java.nio.file.Paths.get(countsFile)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val v = java.nio.file.Files.readString(p).trim.split(",").map(_.toLong)
      Some(AssemblyPipeline.StageCounts.tupled(
        (v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11),
          v(12), v(13), v(14), v(15))))
    }
  }
  private def writeCounts(c: AssemblyPipeline.StageCounts): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(countsFile),
      c.productIterator.mkString(","))

  /** Stage k runs from the previous stage's completion (the run's start
    * for the first) to its own; the output write follows the last stage.
    */
  override def derive(rec: PassRecord, firstId: Int): (Seq[Span], Map[Int, Int]) =
    rec.seams.find(_.name == "assemble.run") match {
      case None => (Nil, Map.empty)
      case Some(run) =>
        val bounds = run.start +: rec.marks.map(_._2) :+ run.end
        val names = rec.marks.map(m => s"assemble.${m._1}") :+ "assemble.output"
        val made = names.zip(bounds.zip(bounds.tail)).zipWithIndex.map {
          case ((n, (a, b)), k) => Span(firstId + k, n, "assemble.stage", a, b, run.id)
        }
        val moved = rec.seams.filter(_.parent == run.id).flatMap { s =>
          made.find(d => d.start <= s.start && s.start <= d.end).map(d => s.id -> d.id)
        }.toMap
        (made, moved)
    }
}

/** The first half (rounded up) of every `SparkEntry.queries` family in
  * name order — 42 of the 77 queries, every family kept — in a
  * seed-shuffled order, each forced with the `noop` sink as `graft.Bench`
  * does. Each query's row count — the rows its noop write committed, read
  * by a listener from the executed write plan — must equal the
  * count of the same query's result that `tools/check_oracle.py` verified
  * against DuckDB; that verification covers all 77 queries and runs once
  * per checkout, after the timed pass.
  */
final class QuerySuite(spark: SparkSession, dir: String, seed: Long, val inputRows: Long,
    verifiedFile: String, oracleScript: String, work: String) extends Workload {
  type Result = Seq[(String, Try[Unit])]
  val name = "query_suite"
  val order: Seq[String] = new scala.util.Random(seed).shuffle(QuerySuite.timed)
  val opsPerPass: Int = order.size
  private val sc = spark.sparkContext

  /** Rows each `<Tag>/<pass>/<query>` job tag's noop write committed,
    * filled in asynchronously from the SQL execution events.
    */
  private val written = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private val execTag = new java.util.concurrent.ConcurrentHashMap[Long, String]
  @volatile private var lastEventNs = System.nanoTime()
  sc.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.find(_.startsWith(QuerySuite.Tag)).foreach(execTag.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        Option(execTag.remove(end.executionId)).foreach { t =>
          SqlEvents.queryExecution(end)
            .flatMap(_.executedPlan.collectFirst { case w: V2TableWriteExec => w })
            .flatMap(_.commitProgress).foreach(p => written.put(t, p.numOutputRows))
          lastEventNs = System.nanoTime()
        }
      case _ =>
    }
  })

  def run(tr: Tracer, i: Int): Result = order.map { q =>
    q -> Try(tr.span(q, "queries") {
      val tag = s"${QuerySuite.Tag}/$i/$q"
      sc.addJobTag(tag)
      try SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      finally sc.removeJobTag(tag)
    })
  }

  /** Oracle-verified row count per query (queries the oracle failed are absent). */
  private lazy val expected: Map[String, Long] = {
    val f = java.nio.file.Paths.get(verifiedFile)
    if (!java.nio.file.Files.exists(f)) {
      val out = s"$work/verify"
      Workload.rm(out)
      // graft.Verify's layout: one parquet result per query plus oracle_sql.json
      val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
        q -> Try {
          fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
          spark.read.parquet(s"$out/$q").count()
        }
      }
      Json.write(s"$out/oracle_sql.json", SparkEntry.oracleSql)
      val p = new ProcessBuilder("python3", oracleScript, out, dir).redirectErrorStream(true).start()
      val report = scala.io.Source.fromInputStream(p.getInputStream).mkString
      p.waitFor()
      System.err.print(report)
      val passed = report.linesIterator.filter(_.startsWith("PASS ")).map(_.split(" ")(1)).toSet
      Json.write(verifiedFile, counts.collect { case (q, Success(n)) if passed(q) => q -> n }.toMap)
      Workload.rm(out)
    }
    Json.readLongs(verifiedFile)
  }

  def check(r: Result, i: Int): Outcome = {
    def rows(q: String): Option[Long] =
      Option(written.get(s"${QuerySuite.Tag}/$i/$q")).map(_.longValue)
    def mismatched = r.collect { case (q, Success(_)) if rows(q) != expected.get(q) => q }
    // listener delivery is asynchronous: a count can arrive after its query
    // returned, so wait for 2 s without events before calling a mismatch a failure
    while (mismatched.nonEmpty && System.nanoTime() - lastEventNs < 2_000_000_000L)
      Thread.sleep(100)
    val bad = r.collect {
      case (q, Success(_)) if rows(q) != expected.get(q) =>
        s"$q: ${rows(q)} rows written, oracle-verified ${expected.get(q)}"
      case (q, Failure(e)) => s"$q threw: $e"
    }
    Outcome(order.size, bad.size, bad)
  }
}

object ValidateSeq {
  final case class Result(units: Try[Seq[graft.engine.PartitionResult]], uniq: Try[Long],
      refi: Try[Long], cons: Try[Long], drift: Try[Seq[(String, Double)]])
}

object AssembleDocs {
  final case class Result(counts: Try[AssemblyPipeline.StageCounts], computed: Seq[String])
}

object QuerySuite {
  /** Prefix of the job tag naming the pass and query a SQL execution belongs to. */
  val Tag = "perfbench"

  /** Family of a query: its name up to the first `_`, digits dropped (q1_pricing → q). */
  def family(q: String): String = q.takeWhile(_ != '_').filterNot(_.isDigit)

  /** The timed queries; a full cold pass of all 77 does not fit the
    * benchmark's time budget next to the other two workloads.
    */
  val timed: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.groupBy(family).values
    .flatMap(qs => qs.take((qs.size + 1) / 2)).toSeq.sorted
}
