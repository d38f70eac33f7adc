package graft

import graft.engine._
import graft.gen.SequenceGen
import graft.spec.{PatternDialect, SchemaParser}
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point: checkpointed validation of a sequences table.
  *
  * Usage:
  *   graft.Main validate <inputParquetDir|gen:N|jsonl:path> <specJsonFile|builtin> <outDir> [--maxPartitions K] [--subBuckets N] [--concurrency C] [--capViolations K]
  *
  * Runs the full pipeline — row-level constraint validation (fused
  * Catalyst pass), per-partition verdicts, uniqueness / referential /
  * consistency / drift checks — committing per partition to `outDir` so
  * an interrupted run resumes where it stopped.
  */
object Main {

  /** The built-in spec for the (doc_id, tokens, n_tok, source) shape. */
  def builtinSpec: String =
    s"""{
      "type": "object",
      "properties": {
        "doc_id": {"type": "string", "required": true,
                   "pattern": "^d[0-9]{10}$$", "minLength": 11, "maxLength": 11},
        "tokens": {"type": "array", "required": true, "minItems": 1,
                   "items": {"type": "integer", "minimum": 0,
                             "maximum": ${SequenceGen.Vocab - 1}}},
        "n_tok":  {"type": "integer", "required": true, "minimum": 1},
        "source": {"type": "string", "required": true}
      }
    }"""

  /** The session every subcommand runs in. Each value is only a default:
    * a key the launcher already set (spark-submit's `--master`/`--conf`,
    * or a `-D` system property) is left alone, because builder values
    * override the launcher's.
    */
  private[graft] def sessionConf(launcher: Map[String, String],
      env: Map[String, String]): Map[String, String] =
    Map(
      "spark.master" -> env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"),
      "spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"),
      "spark.sql.adaptive.enabled" -> "true",
      // arrays (tokens) decode row-by-row without this — measured 2.7×
      // slower scans and a 0.38 (vs 0.79) N→4N scan scaling ratio
      "spark.sql.parquet.enableNestedColumnVectorizedReader" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"
    ) -- launcher.keySet

  private def session(appName: String, logLevel: String): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(sessionConf(new SparkConf().getAll.toMap, sys.env))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def main(args: Array[String]): Unit = {
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    // `--dialect posix` parses the spec's patterns as POSIX ERE
    // (reference regex-tdfa's dialect, translated at parse time —
    // spec.PosixRegex); default is Java regex, Spark `rlike`'s native
    // dialect.
    def readSpec(specArg: String) = SchemaParser.parse(
      if (specArg == "builtin") builtinSpec
      else new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(specArg))),
      if (opt("--dialect").contains("posix")) PatternDialect.Posix else PatternDialect.Java)
    def genOrParquet(spark: SparkSession, input: String) =
      if (input.startsWith("gen:")) SequenceGen.generate(spark, input.drop(4).toLong)
      else spark.read.parquet(input)

    args.headOption match {
      // emitsql: print the compiled spec as a standalone SQL artifact
      // (engine.SqlGen — the reference's generateModule analog); the input
      // is read only for its SCHEMA — or pass `spec` to derive the schema
      // from the spec itself (JsonlSource.schemaFor, the reference's
      // spec→record-type mapping): no data touched at all
      case Some("emitsql") if args.length >= 3 =>
        val spark = session("graft-emitsql", "ERROR")
        val spec = readSpec(args(2))
        val schema =
          if (args(1) == "spec") graft.sources.JsonlSource.schemaFor(spec)
          else genOrParquet(spark, args(1)).schema
        val positional = args.drop(3).filterNot(_.startsWith("--"))
          .filterNot(a => Seq("posix", "java").contains(a))
        val table = positional.headOption.getOrElse("sequences")
        val keys = positional.lift(1).map(_.split(",").toSeq).getOrElse(Seq("doc_id"))
        println(graft.engine.SqlGen.validationSql(spark, spec, schema, table, keys))
        spark.stop()
      // infer: profile the input and print a SUGGESTED draft-3 spec (the
      // observed invariants: presence, type, bounds, low-cardinality enums
      // — engine.SpecInfer). The loop a new table onboards through:
      // `infer > spec.json`, hand-edit, `validate ... spec.json`.
      case Some("infer") if args.length >= 2 =>
        val spark = session("graft-infer", "ERROR")
        val enumMax = args.lift(2).flatMap(a => scala.util.Try(a.toInt).toOption)
          .getOrElse(SpecInfer.DefaultEnumMax)
        println(graft.spec.SchemaRender.pretty(
          SpecInfer.infer(genOrParquet(spark, args(1)), enumMax)))
        spark.stop()
      // profile: one mergeable artifact row per batch APPENDED to an
      // artifact table, then the merged estimates of EVERYTHING appended
      // so far — the incremental-profiling loop (engine.MergeableProfile):
      // each ingest run pays one scan of ITS batch; history is artifacts.
      case Some("profile") if args.length >= 3 =>
        val spark = session("graft-profile", "ERROR")
        val artifactDir = args(2)
        val cols = opt("--cols").getOrElse("doc_id,n_tok,source").split(",").toSeq
        val nBuckets = opt("--nBuckets").fold(16)(_.toInt)
        // tag this run so appended artifact batches stay distinguishable
        val runId = System.currentTimeMillis()
        MergeableProfile.batchProfile(genOrParquet(spark, args(1)),
            opt("--batchCol").getOrElse("source"), cols,
            opt("--histCol").getOrElse("n_tok"),
            opt("--bucketWidth").fold(32.0)(_.toDouble), nBuckets)
          .withColumn("batch", concat(lit(s"$runId/"), col("batch").cast("string")))
          .write.mode("append").parquet(artifactDir)
        val all = spark.read.parquet(artifactDir)
        println(s"[graft] artifact rows: ${all.count()} (this run appended its batches under $runId/)")
        MergeableProfile.estimates(
            MergeableProfile.merge(all, cols, nBuckets), cols)
          .collect().foreach { r =>
            println(f"[graft] column=${r.getString(0)}%-8s n=${r.getLong(1)}%10d null_rate=${r.getDouble(3)}%.6f min=${r.getString(4)} max=${r.getString(5)} ~distinct=${r.getLong(6)}%d")
          }
        spark.stop()
      // assemble: the full corpus-assembly pass (validate → exact dedup →
      // near-dedup/canonical → quality gate → decontaminate → sample →
      // pack) over a (doc_id, text, source) documents table, writing the
      // packed corpus partitioned by source and printing one JSON line per
      // stage with its require'd invariants (AssemblyPipeline).
      case Some("assemble") if args.length >= 3 =>
        val spark = session("graft-assemble", "WARN")
        val docs = spark.read.parquet(args(1))
        def rateMap(flag: String): Map[String, Double] =
          opt(flag).getOrElse("").split(",").filter(_.nonEmpty).map { kv =>
            kv.split("=") match {
              case Array(k, v) => k -> v.toDouble
              case _ => sys.error(
                s"malformed rate entry '$kv' — expected key=value (e.g. web=0.5,code=1.0)")
            }
          }.toMap
        // held-out eval slice by key hash: stable under any partitioning
        val benchMod = opt("--benchMod").fold(1000L)(_.toLong)
        val t0 = System.nanoTime()
        val c = AssemblyPipeline.run(spark, docs,
          benchPred = pmod(xxhash64(col("doc_id")), lit(benchMod)) === 0L,
          contaminationThreshold = opt("--contamThreshold").fold(0.5)(_.toDouble),
          sampleRates = rateMap("--rates"),
          defaultRate = opt("--defaultRate").fold(1.0)(_.toDouble),
          packBudget = opt("--packBudget").fold(2048L)(_.toLong),
          mixShares = Some(rateMap("--mixShares")).filter(_.nonEmpty),
          mixTokenBudget = opt("--mixTokenBudget").fold(0L)(_.toLong),
          minQuality = opt("--minQuality").fold(0.0)(_.toDouble),
          maxRepetition = opt("--maxRepetition").fold(1.0)(_.toDouble),
          maxDupSpanFraction = opt("--maxDupSpanFraction").fold(1.0)(_.toDouble),
          mixMaxEpochs = opt("--mixMaxEpochs").fold(1.0)(_.toDouble),
          minClassifierScore = opt("--minClassifierScore").fold(0.0)(_.toDouble),
          outDir = Some(args(2)),
          // --checkpoint <dir>: durable stage commits; an interrupted run
          // re-invoked with the same dir resumes at stage granularity
          checkpoint = opt("--checkpoint").filter(_.nonEmpty)
            .map(d => new graft.engine.ParquetStageIO(spark, d)),
          onStageComputed = s => println(s"""{"stage_computed":"$s"}"""))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"assemble_total","value":$sec%.1f,"unit":"sec","in_rows":${c.nInput},"out_rows":${c.nPacked}}""")
        AssemblyPipeline.report(c)
        spark.stop()
      case Some("validate") if args.length >= 4 =>
        val (input, specArg, outDir) = (args(1), args(2), args(3))
        // commit-unit granularity below the source partition: Iceberg-style
        // bucket(N, doc_id) (north star: "partition by source, range on doc_id")
        val split = opt("--subBuckets").map(_.toInt) match {
          case Some(k) if k > 1 => SubSplit.Bucket(k)
          case _ => SubSplit.None // 1 = one unit per partition
        }
        val spark = session("graft-validate", "WARN")
        val spec = readSpec(specArg)
        val df =
          if (input.startsWith("jsonl:"))
            // raw JSONL through the spec-derived schema (JsonlSource.schemaFor);
            // malformed lines are NOT dropped — they parse to all-null rows
            // and surface as required violations under the __null__ partition
            graft.sources.JsonlSource.read(spark, input.drop(6), spec)
              .drop(graft.sources.JsonlSource.CorruptCol)
          else genOrParquet(spark, input)

        val runner = new CheckpointRunner(spark, outDir)
        val done = runner.completedPartitions()
        if (done.nonEmpty)
          println(s"[graft] resuming: ${done.size} partitions already committed: ${done.toSeq.sorted.mkString(",")}")

        val results = runner.run(df, spec, "doc_id", "source",
          limit = opt("--maxPartitions").map(_.toInt), split = split,
          // commit units submitted from a bounded driver pool (default serial)
          concurrency = opt("--concurrency").fold(1)(_.toInt),
          // bound the written exemplar rows per (constraint, task partition);
          // counts stay exact (systemic-defect protection — see
          // ValidationEngine.violationsCappedWith)
          capViolations = opt("--capViolations").map(_.toInt),
          // also write each unit's VALID rows (defaults applied, then
          // validated — the reference parser's success output) to
          // outDir/valid/part=<unit>
          emitValid = args.contains("--emitValid"))
        results.foreach { r =>
          println(f"[graft] partition=${r.partition}%-12s rows=${r.nRows}%8d failed=${r.nFailed}%6d violations=${r.nViolations}%6d pass=${r.pass}")
        }

        // cross-row checks over the whole table (not per-partition)
        val uniq = Checks.uniquenessViolations(df, "doc_id")
        val refi = Checks.referentialViolations(df, "source", SequenceGen.sourcesDim(spark), "source")
        val cons = Checks.consistencyViolations(df, "doc_id", "$.n_tok.consistent",
          col("n_tok") === size(col("tokens")), col("n_tok"))
        println(s"[graft] uniqueness violations: ${uniq.count()}")
        println(s"[graft] referential violations: ${refi.count()}")
        println(s"[graft] consistency violations: ${cons.count()}")

        val hist = Checks.histogram(df.where(col("source").isin(SequenceGen.Sources: _*)),
          "n_tok", 32.0, Seq("source"))
        val drift = Checks.driftByGroup(hist, Seq("source"), SequenceGen.baselineProfile(spark, 32))
        drift.orderBy(desc("psi")).collect().take(3).foreach { r =>
          println(f"[graft] drift source=${r.getString(0)} kl=${r.getDouble(1)}%.4f psi=${r.getDouble(2)}%.4f")
        }
        spark.stop()
      case _ =>
        System.err.println(
          "usage: graft.Main validate <inputParquetDir|gen:N|jsonl:path> <specJsonFile|builtin> <outDir> [--maxPartitions K] [--subBuckets N] [--concurrency C] [--capViolations K] [--emitValid] [--dialect posix|java]\n" +
          "       graft.Main emitsql <inputParquetDir|gen:N|spec> <specJsonFile|builtin> [tableName] [keyCols] [--dialect posix|java]\n" +
          "       graft.Main infer <inputParquetDir|gen:N> [enumMax]\n" +
          "       graft.Main profile <inputParquetDir|gen:N> <artifactDir> [--batchCol c] [--cols c1,c2] [--histCol c] [--bucketWidth w] [--nBuckets n]\n" +
          "       graft.Main assemble <documentsParquetDir> <outDir> [--benchMod M] [--contamThreshold t] [--rates s=r,...] [--defaultRate r] [--packBudget B] [--mixShares s=w,...] [--mixTokenBudget T] [--mixMaxEpochs e] [--minQuality q] [--maxRepetition r] [--maxDupSpanFraction f] [--minClassifierScore s] [--checkpoint dir]")
        sys.exit(2)
    }
  }
}
