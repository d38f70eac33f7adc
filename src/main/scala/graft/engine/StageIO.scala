package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Stage-granularity commit/resume seam for composed pipelines — the
  * assembly-pipeline face of the Iceberg checkpoint contract that
  * [[TableIO]] provides for validation runs (SURVEY.md §7.1). Each
  * pipeline stage's output frame is durably written as one commit unit
  * and a manifest row (carrying the stage's scalar metrics) is committed
  * LAST: a stage without a manifest row is re-run wholesale on resume,
  * so an interrupted assembly resumes at stage granularity with no
  * partial-state repair — the production run's parquet-between-stages,
  * not the in-memory `localCheckpoint` analog.
  *
  * Same contract as [[TableIO]]: [[writeStage]] must be an IDEMPOTENT
  * overwrite (a stage interrupted between output and commit is re-run
  * from its inputs on resume) and [[commitStage]] durable-last (a stage
  * is complete iff its manifest rows exist). Scalars recorded at commit
  * time are replayed on resume so cross-stage invariants keep holding
  * without recomputation.
  *
  * At 10^12 rows the validate stage alone is additionally resumable at
  * PARTITION granularity by pre-running it through [[CheckpointRunner]]
  * and feeding its `valid/` output to the assembly as input — this seam
  * composes with that one; it does not replace it.
  */
trait StageIO {
  /** Stages whose outputs are durably committed. */
  def completedStages(): Set[String]
  /** The run descriptor a previous run recorded, if any — stages are
    * only comparable across runs under the SAME pipeline configuration.
    */
  def runDescriptor(): Option[String]
  /** Record the run descriptor before the first stage runs. */
  def writeRunDescriptor(desc: String): Unit
  /** Durably write one stage's output frame (idempotent overwrite).
    * MUST run exactly one eager action on `df`: the pipeline observes
    * the stage's scalars (CollectMetrics) on that very job, so a second
    * action would be unobserved work and none would leave them unset.
    */
  def writeStage(name: String, df: DataFrame): Unit
  /** Read a stage's durably written output (a leaf plan — later stages
    * plan against it, which is also what kills the multiplicative
    * lazy-composition plan growth).
    */
  def readStage(name: String): DataFrame
  /** Commit point: mark the stage complete with its scalar metrics.
    * MUST be the last write for the stage.
    */
  def commitStage(name: String, scalars: Map[String, Long]): Unit
  /** The scalar metrics a completed stage committed. */
  def stageScalars(name: String): Map[String, Long]
}

/** Parquet + driver-side-manifest [[StageIO]] — the in-sandbox stand-in
  * for an Iceberg checkpoint table, mirroring [[ParquetManifestIO]]:
  * stage data under `dir/stage=<name>`, the commit point one
  * `dir/_stages/commit-<name>.json` file carrying the stage's scalars
  * and the schema of the frame written
  * (`{"stage": name, "scalars": {key: value}, "schema": <Spark JSON>}`),
  * and the run descriptor the `dir/_run_descriptor` file — all
  * published atomically by [[CommitFiles]], so listing, reading and
  * committing stages start no Spark job. A committed stage is read with
  * its recorded schema, which skips Parquet schema inference (a job per
  * read); an entry without one (written by an earlier version, or by a
  * commit without a write in this instance) is read with inference.
  */
final class ParquetStageIO(spark: SparkSession, val dir: String) extends StageIO {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.{compact, parse}

  private val files = new CommitFiles(spark, dir)
  private val written = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  override def completedStages(): Set[String] = files.committed("_stages")

  override def runDescriptor(): Option[String] = files.get("_run_descriptor")

  override def writeRunDescriptor(desc: String): Unit = files.put("_run_descriptor", desc)

  override def writeStage(name: String, df: DataFrame): Unit = {
    written.put(name, df.schema)
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/stage=$name")
  }

  override def readStage(name: String): DataFrame = {
    val schema = files.entry("_stages", name).map(parse(_) \ "schema").collect {
      case o: JObject => DataType.fromJson(compact(o)).asInstanceOf[StructType]
    }
    schema.fold(spark.read)(spark.read.schema).parquet(s"$dir/stage=$name")
  }

  override def commitStage(name: String, scalars: Map[String, Long]): Unit =
    files.commit("_stages", name, compact(JObject(
      List("stage" -> JString(name),
        "scalars" -> JObject(scalars.toList.sorted.map { case (k, v) => k -> JLong(v) })) ++
        Option(written.get(name)).map(s => "schema" -> parse(s.json)))))

  override def stageScalars(name: String): Map[String, Long] = {
    implicit val formats: Formats = DefaultFormats
    val body = files.entry("_stages", name).getOrElse(
      throw new IllegalStateException(s"stage '$name' is not committed in $dir"))
    (parse(body) \ "scalars").extract[Map[String, Long]]
  }
}
