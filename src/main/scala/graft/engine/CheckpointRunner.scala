package graft.engine

import graft.spec.SchemaSpec
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** How a logical partition (= one `partCol` value) is further split into
  * commit units — the "range on doc_id" axis of the north star's
  * two-level layout (partition by source, split by doc_id). At 10^12
  * rows a single source holds ~10^11 rows (the generator's src0 skew
  * slice models this), far too coarse as a resume unit.
  *
  * - [[SubSplit.None]]: one commit unit per partition value.
  * - [[SubSplit.Bucket]]: Iceberg's `bucket(N, doc_id)` partition
  *   transform (`pmod(xxhash64(key), n)`). Resume-stable by
  *   construction — no data-dependent boundary metadata to persist —
  *   and balanced under monotonically growing ids.
  * - [[SubSplit.Ranges]]: explicit ascending cut points over the key
  *   (unit i = keys in [cut(i-1), cut(i))), the literal range-on-doc_id
  *   form; in production the cuts come from the table's sort-order file
  *   metadata (Iceberg min/max per file), so each unit prunes to its
  *   own files. Null keys land in unit 0.
  *
  * Scale precondition (same as the partition-pruning one below): sub-unit
  * slices only avoid re-scanning the whole source when the layout
  * supports it — `PARTITIONED BY (source, bucket(N, doc_id))` for
  * [[SubSplit.Bucket]], or a doc_id sort order within source partitions
  * (file-level min/max skipping) for [[SubSplit.Ranges]].
  */
sealed trait SubSplit
object SubSplit {
  case object None extends SubSplit
  final case class Bucket(n: Int) extends SubSplit { require(n >= 2) }
  final case class Ranges(cuts: Seq[String]) extends SubSplit {
    require(cuts.nonEmpty && cuts == cuts.sorted, "cuts must be ascending")
  }
}

/** Checkpoint-table I/O seam (SURVEY.md §7.1's `SequenceTable` promise):
  * everything the runner needs from storage — completed-unit listing,
  * durable per-unit output, and the commit point — behind one trait, so
  * a real Iceberg implementation (checkpoint table + snapshot commits)
  * drops in without touching the driver loop. Implementations must make
  * [[writeViolations]] an IDEMPOTENT overwrite (a unit interrupted
  * between output and commit is re-run wholesale on resume) and
  * [[commit]] durable-last (a unit is complete iff its manifest row
  * exists). Both must be safe to call for DIFFERENT units from
  * concurrent driver threads (the runner's `concurrency` option).
  */
trait TableIO {
  /** Units whose outputs are durably committed. */
  def completedUnits(): Set[String]
  /** The split descriptor a previous run recorded, if any. */
  def splitDescriptor(): Option[String]
  /** Record the split descriptor before the first unit runs. */
  def writeSplitDescriptor(desc: String): Unit
  /** Durably write one unit's violations (idempotent overwrite). MUST
    * execute an eager action on the frame: the runner observes the
    * unit's metrics (CollectMetrics) on that very job.
    */
  def writeViolations(unitId: String, violations: DataFrame): Unit
  /** Commit point: mark the unit complete. MUST be the last write. */
  def commit(result: PartitionResult, committedAt: java.time.Instant): Unit
  /** Durably write one unit's VALID rows (defaults-applied, passing) —
    * the reference parser's SUCCESS output (its generated parsers return
    * the typed value; verdicts/violations are the failure side). Same
    * contract as [[writeViolations]]: idempotent overwrite, safe across
    * units from concurrent threads. Only called when the runner's
    * `emitValid` is set; the default keeps verdict-only implementations
    * source-compatible.
    */
  def writeValid(unitId: String, rows: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} does not implement writeValid; run without emitValid")
}

/** Parquet-output + driver-side-manifest [[TableIO]]: the in-sandbox
  * stand-in for an Iceberg checkpoint table (no Iceberg runtime jar
  * exists here, BASELINE.md). Violations (and valid rows) land under
  * `violations/part=<unitId>` with Spark's overwrite semantics; per-unit
  * directories make concurrent writes of different units safe (no two
  * Spark write jobs ever share an output directory or its `_temporary`
  * staging). The commit point is one `_manifest/commit-<unitId>.json`
  * file published atomically by [[CommitFiles]]: no Spark job, and a
  * unit is complete iff its file exists. The split descriptor is the
  * `_manifest_split` file, published the same way.
  */
final class ParquetManifestIO(spark: SparkSession, outDir: String) extends TableIO {
  private val files = new CommitFiles(spark, outDir)

  override def completedUnits(): Set[String] = files.committed("_manifest")

  override def splitDescriptor(): Option[String] = files.get("_manifest_split")

  override def writeSplitDescriptor(desc: String): Unit = files.put("_manifest_split", desc)

  override def writeViolations(unitId: String, violations: DataFrame): Unit =
    violations.write.mode(SaveMode.Overwrite).parquet(s"$outDir/violations/part=$unitId")

  override def writeValid(unitId: String, rows: DataFrame): Unit =
    rows.write.mode(SaveMode.Overwrite).parquet(s"$outDir/valid/part=$unitId")

  override def commit(res: PartitionResult, at: java.time.Instant): Unit = {
    import org.json4s.JsonDSL._
    files.commit("_manifest", res.partition, org.json4s.jackson.JsonMethods.compact(
      ("partition" -> res.partition) ~ ("n_rows" -> res.nRows) ~
        ("n_failed" -> res.nFailed) ~ ("n_violations" -> res.nViolations) ~
        ("committed_at" -> at.toString)))
  }
}

/** Partition-granularity checkpointed validation runs — the Iceberg-style
  * commit/resume seam (SURVEY.md §7.1).
  *
  * The input is processed one logical partition at a time (partition key =
  * the table's `source`-style column, matching "partition by source" in
  * the north star). Each partition's outputs (violations, verdict,
  * metrics) land under `outDir/<kind>/part=<value>` with an idempotent
  * overwrite, and a manifest row is committed LAST — a partition
  * without a manifest row is re-run wholesale on resume, so interrupted
  * runs resume at partition granularity with no partial-state repair.
  */
final class CheckpointRunner(spark: SparkSession, io: TableIO) {

  def this(spark: SparkSession, outDir: String) =
    this(spark, new ParquetManifestIO(spark, outDir))

  def completedPartitions(): Set[String] = io.completedUnits()

  /** Stable text form of a split, persisted next to the manifest. */
  private def splitDescriptor(split: SubSplit): String = split match {
    case SubSplit.None         => "none"
    case SubSplit.Bucket(n)    => s"bucket:$n"
    case SubSplit.Ranges(cuts) => s"ranges:${cuts.mkString("\u001f")}"
  }

  /** Validate every not-yet-committed commit unit. Returns per-unit
    * metrics of THIS run (resumed units are skipped).
    *
    * PRECONDITION at scale: the storage layout must be partitioned by
    * `partCol` (Iceberg/Hive `PARTITIONED BY`), so each `where(partCol
    * === p)` slice is satisfied by partition PRUNING — a metadata
    * operation. On an unpartitioned layout this loop degrades to one
    * full scan per partition value, which is pathological at 10^12
    * rows; commit-per-partition is only meaningful when the table
    * layout gives each partition its own files.
    *
    * `concurrency` > 1 submits that many commit units as Spark jobs at
    * once from a bounded driver pool. At 10^12 rows a serial
    * one-job-per-unit loop leaves the cluster idle between small units
    * (job setup + commit latency); units are independent by construction
    * (disjoint slices, per-unit output paths), so overlapping them keeps
    * executors saturated. Results return in deterministic unit order
    * regardless of completion order.
    *
    * `emitValid = true` additionally writes each unit's VALID rows —
    * the reference's compiled-parser semantics end-to-end: defaults are
    * substituted FIRST (CodeGen.hs:342-350; `ValidationEngine
    * .applyDefaults`), then the defaulted rows are validated, so a row
    * whose only defect a default repairs is VALID and lands in the
    * clean output (and verdicts/violations/metrics are derived from the
    * same defaulted rows — one coherent semantic, not two). Cost note
    * at scale: the valid output is a SECOND action over the unit's
    * slice (Spark writes one sink per job), so an emitValid unit scans
    * its slice twice; production Iceberg would fan both out of one
    * pass with a branched write.
    */
  def run(df: DataFrame, spec: SchemaSpec, keyCol: String, partCol: String,
      limit: Option[Int] = None, split: SubSplit = SubSplit.None,
      concurrency: Int = 1, capViolations: Option[Int] = None,
      emitValid: Boolean = false): Seq[PartitionResult] = {
    require(concurrency >= 1, "concurrency must be >= 1")
    // commit units are only comparable across runs under the SAME split:
    // resuming with a different granularity would leave the old
    // granularity's outputs on disk and double-count violations. The
    // split descriptor is committed with the first run and must match.
    io.splitDescriptor() match {
      case Some(prev) =>
        require(prev == splitDescriptor(split),
          s"outDir was started with split '$prev' but this run uses " +
            s"'${splitDescriptor(split)}'; resume with the original split " +
            "or use a fresh outDir")
      case None => io.writeSplitDescriptor(splitDescriptor(split))
    }
    val done = io.completedUnits()
    // partition listing: from the file index when it holds the values,
    // else a distinct job over the (tiny) partition-key domain
    val parts = CheckpointRunner.fileIndexPartitions(df, partCol).getOrElse(
      df.select(partCol).distinct().collect()
        .map(r => Option(r.getString(0)).getOrElse(CheckpointRunner.NullUnit)).toSeq)
      .sorted

    /** Sub-unit ids and their key-slice predicates for one partition. */
    def subUnits: Seq[(String, Option[org.apache.spark.sql.Column])] = split match {
      case SubSplit.None => Seq(("", scala.None))
      case SubSplit.Bucket(n) =>
        // xxhash64(NULL) = the seed constant, so null keys land in a
        // deterministic bucket rather than a dropped null-predicate row
        (0 until n).map(i =>
          (s"~b$i", Some(pmod(xxhash64(col(keyCol)), lit(n.toLong)) === i)))
      case SubSplit.Ranges(cuts) =>
        // unit index = #cuts <= key, as a codegen-friendly comparison sum
        // (null key: every when() yields 0 → unit 0)
        val idx = cuts.foldLeft(lit(0)) { (acc, cut) =>
          acc + when(col(keyCol) >= lit(cut), 1).otherwise(0)
        }
        (0 to cuts.size).map(i => (s"~r$i", Some(idx === i)))
    }

    val units = parts.toSeq.flatMap(p => subUnits.map { case (suffix, pred) =>
      (s"$p$suffix", p, pred)
    })
    val todo0 = units.filterNot { case (id, _, _) => done(id) }
    val todo = limit.fold(todo0)(todo0.take) // simulated interrupt

    /** `proceed` runs before each step after the violations write and
      * throws once the unit is cancelled.
      */
    def runUnit(unitId: String, p: String,
        pred: Option[org.apache.spark.sql.Column], proceed: () => Unit): PartitionResult = {
      val partSlice =
        if (p == CheckpointRunner.NullUnit) df.where(col(partCol).isNull)
        else df.where(col(partCol) === p) // partition pruning when the
                                          // source layout is partitioned
      val slice0 = pred.fold(partSlice)(partSlice.where)
      // emitValid runs the WHOLE unit over the defaults-applied rows
      // (parse-with-defaults then validate — the reference's order)
      val slice =
        if (emitValid) ValidationEngine.applyDefaults(slice0, spec) else slice0
      val ann = ValidationEngine.annotate(slice, spec)
      // One pass per unit: the per-unit metrics are observed on the SAME
      // job that writes the violations output (a CollectMetrics node over
      // the annotated rows — every annotated row flows through it:
      // CollectMetrics is a predicate-pushdown barrier, so the
      // `where(!valid)` of violationsWith's fast path stays ABOVE it,
      // asserted by this class's spec), instead of a second full
      // validate-and-aggregate scan; the separate agg doubled every
      // unit's scan work, the dominant cost at 10^12 rows. Unit ids are
      // unique per run, so concurrent units observe independently.
      val obs = new org.apache.spark.sql.Observation(s"graft-metrics-$unitId")
      val annObs = ann.observe(obs,
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col(ValidationEngine.PassCol), 0L).otherwise(1L)),
          lit(0L)).as("n_failed"),
        coalesce(sum(size(col(ValidationEngine.ViolationsCol)).cast("long")),
          lit(0L)).as("n_violations"))
      // the observation sits below the cap, so metrics stay EXACT even
      // when the written exemplar set is bounded
      io.writeViolations(unitId, capViolations.fold(
        ValidationEngine.violationsWith(annObs, Seq(keyCol)))(k =>
        ValidationEngine.violationsCappedWith(annObs, Seq(keyCol), k)))
      val m = obs.get // the write above was the action; its listener has the row
      proceed()
      if (emitValid)
        // a fresh annotate (not annObs): an Observation is one-shot, and
        // this second action must not re-trigger it
        io.writeValid(unitId,
          ValidationEngine.annotate(slice, spec)
            .where(col(ValidationEngine.PassCol))
            .drop(ValidationEngine.PassCol, ValidationEngine.ViolationsCol))
      val res = PartitionResult(unitId, m("n_rows").asInstanceOf[Long],
        m("n_failed").asInstanceOf[Long], m("n_violations").asInstanceOf[Long])

      // commit point: manifest row written only after outputs are durable
      proceed()
      io.commit(res, java.time.Instant.now())
      res
    }

    if (concurrency == 1 || todo.size <= 1)
      todo.map { case (unitId, p, pred) => runUnit(unitId, p, pred, () => ()) }
    else runConcurrently(todo.map { case (unitId, p, pred) =>
      (proceed: () => Unit) => runUnit(unitId, p, pred, proceed)
    }, concurrency)
  }

  /** Run `units` on a pool of `concurrency` driver threads, each unit's
    * Spark jobs under its own job tag. The first failure cancels every
    * sibling: running jobs through their units' tags, queued units before
    * they start, and units between jobs at their next `proceed` check
    * (each unit gets one that throws once a sibling has failed). A
    * cancelled unit fails before its commit point, so it leaves no
    * manifest entry and re-runs on resume. After every unit has stopped,
    * the first failure is rethrown with each other unit's failure
    * attached as suppressed. Results keep unit order.
    */
  private def runConcurrently(units: Seq[(() => Unit) => PartitionResult],
      concurrency: Int): Seq[PartitionResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val sc = spark.sparkContext
    val tags = units.map(_ => s"graft-unit-${java.util.UUID.randomUUID}")
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val outcomes = try {
      def proceed(): Unit = if (firstFailure.get != null)
        throw new java.util.concurrent.CancellationException("a sibling unit failed")
      val futures = units.zip(tags).map { case (unit, tag) =>
        Future {
          proceed()
          sc.addJobTag(tag)
          try unit(proceed _) finally sc.removeJobTag(tag)
        }.transform { t =>
          t.failed.foreach { e =>
            if (firstFailure.compareAndSet(null, e))
              tags.filterNot(_ == tag).foreach(sc.cancelJobsWithTag(_, "a sibling unit failed"))
          }
          Try(t)
        }
      }
      futures.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    Option(firstFailure.get).foreach { first =>
      outcomes.collect { case Failure(e) if e ne first => e }.foreach(first.addSuppressed)
      throw first
    }
    outcomes.map(_.get)
  }
}

object CheckpointRunner {

  /** The unit of rows whose partition value is null. */
  val NullUnit = "__null__"

  /** The `partCol` values of `df` as its file index lists them, when
    * `df` is a bare file relation (`spark.read.parquet(dir)`) partitioned
    * by a string column `partCol`. Spark listed the partition directories
    * when it created the relation, so this reads driver memory and starts
    * no job. `__HIVE_DEFAULT_PARTITION__` reads back as null and maps to
    * [[NullUnit]], as in the `distinct` job. A partition directory whose
    * files hold zero rows is still listed: its unit commits `n_rows = 0`
    * where the `distinct` job would have skipped it. None for every other
    * frame (generated, JSONL, filtered or projected ones), whose values
    * need the `distinct` job.
    */
  private[engine] def fileIndexPartitions(df: DataFrame, partCol: String): Option[Seq[String]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
          val i = h.partitionSchema.fieldNames.indexWhere(resolver(_, partCol))
          if (i < 0 || h.partitionSchema(i).dataType != org.apache.spark.sql.types.StringType) None
          else Some(h.location.listFiles(Nil, Nil).filter(_.files.nonEmpty).map { d =>
            if (d.values.isNullAt(i)) NullUnit else d.values.getUTF8String(i).toString
          }.distinct)
        case _ => None
      }
      case _ => None
    }
  }
}

final case class PartitionResult(partition: String, nRows: Long, nFailed: Long, nViolations: Long) {
  def pass: Boolean = nFailed == 0
}
