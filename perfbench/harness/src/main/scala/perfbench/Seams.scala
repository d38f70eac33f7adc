package perfbench

import graft.engine.{PartitionResult, StageIO, TableIO}
import org.apache.spark.sql.DataFrame

/** [[TableIO]] that times every call of the wrapped implementation. */
final class TimedTableIO(inner: TableIO, tr: Tracer) extends TableIO {
  private def t[T](name: String)(body: => T): T = tr.span(s"tableio.$name", "tableio")(body)
  override def completedUnits(): Set[String] = t("completed_units")(inner.completedUnits())
  override def splitDescriptor(): Option[String] = t("split_descriptor")(inner.splitDescriptor())
  override def writeSplitDescriptor(desc: String): Unit =
    t("write_split_descriptor")(inner.writeSplitDescriptor(desc))
  override def writeViolations(unitId: String, violations: DataFrame): Unit =
    t("write_violations")(inner.writeViolations(unitId, violations))
  override def commit(result: PartitionResult, committedAt: java.time.Instant): Unit =
    t("commit")(inner.commit(result, committedAt))
  override def writeValid(unitId: String, rows: DataFrame): Unit =
    t("write_valid")(inner.writeValid(unitId, rows))
}

/** [[StageIO]] that times every call of the wrapped implementation. */
final class TimedStageIO(inner: StageIO, tr: Tracer) extends StageIO {
  private def t[T](name: String)(body: => T): T = tr.span(s"stageio.$name", "stageio")(body)
  override def completedStages(): Set[String] = t("completed_stages")(inner.completedStages())
  override def runDescriptor(): Option[String] = t("run_descriptor")(inner.runDescriptor())
  override def writeRunDescriptor(desc: String): Unit =
    t("write_run_descriptor")(inner.writeRunDescriptor(desc))
  override def writeStage(name: String, df: DataFrame): Unit = t("write")(inner.writeStage(name, df))
  override def readStage(name: String): DataFrame = t("read")(inner.readStage(name))
  override def commitStage(name: String, scalars: Map[String, Long]): Unit =
    t("commit")(inner.commitStage(name, scalars))
  override def stageScalars(name: String): Map[String, Long] =
    t("stage_scalars")(inner.stageScalars(name))
}
