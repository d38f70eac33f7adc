package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Microseconds since the epoch, from one monotonic anchor (so spans
  * recorded here and Spark's epoch-millisecond event times share a base).
  */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** One timed interval. `parent` 0 is the pass root. */
final case class Span(id: Int, name: String, layer: String,
    start: Long, end: Long, parent: Int) {
  def dur: Long = end - start
}

/** Everything one pass observed: the harness's seam spans (always), and —
  * when tracing — Spark jobs, stages, task metrics and Catalyst phases.
  */
final case class PassRecord(root: Span, seams: Seq[Span], marks: Seq[(String, Long)],
    jobs: Seq[Tracer.Job], stages: Seq[Tracer.Stage], phases: Seq[Span],
    counters: Map[String, Double])

object Tracer {
  val SpanProp = "perfbench.span"
  final case class Job(id: Int, start: Long, end: Long, parent: Int)
  final class Stage(val id: Int, val job: Int) {
    var start, end = 0L
    var tasks, maxTaskMs, sumTaskMs = 0L
    var runMs, cpuNs, gcMs, deserMs = 0L
    var bytesRead, recordsRead, bytesWritten, recordsWritten = 0L
    var shuffleBytesWritten, shuffleRecordsRead, fetchWaitMs, spillBytes = 0L
  }
}

/** Span recorder for the harness's calls into the program's public seams,
  * plus (when `tracing`) a SparkListener and QueryExecutionListener that
  * attribute Spark jobs, stages, task metrics and Catalyst planning phases
  * to those spans. Everything stays in memory until the pass ends.
  */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val seams = new ConcurrentLinkedQueue[Span]
  private val marks = new ConcurrentLinkedQueue[(String, Long)]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]
  private val phases = new ConcurrentLinkedQueue[Span]
  private val lastEventUs = new AtomicLong(0L)
  @volatile private var listening = false

  /** Time `body` as a span named `name` in `layer`, nested under the
    * calling thread's current span. Spark jobs submitted inside carry the
    * span id as a local property, which is how jobs find their parent.
    */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    val prevProp = sc.getLocalProperty(SpanProp)
    stack.set(id :: parents)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      stack.set(parents)
      sc.setLocalProperty(SpanProp, prevProp)
      seams.add(Span(id, name, layer, t0, t1, parents.headOption.getOrElse(0)))
    }
  }

  /** A point event (an assembly stage finishing). */
  def mark(name: String): Unit = marks.add(name -> Clock.nowUs)

  private def touch(): Unit = lastEventUs.set(Clock.nowUs)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (listening) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, Job(e.jobId, e.time * 1000, -1L, parent))
      e.stageIds.foreach(s => stages.putIfAbsent(s, new Stage(s, e.jobId)))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (listening) {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time * 1000))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (listening) {
      val st = stages.get(e.stageInfo.stageId)
      if (st != null) st.synchronized {
        st.start = e.stageInfo.submissionTime.getOrElse(0L) * 1000
        st.end = e.stageInfo.completionTime.getOrElse(0L) * 1000
      }
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (listening) {
      val st = stages.get(e.stageId)
      val m = e.taskMetrics
      if (st != null && m != null && e.taskInfo != null) st.synchronized {
        val d = e.taskInfo.duration
        st.tasks += 1; st.sumTaskMs += d; st.maxTaskMs = math.max(st.maxTaskMs, d)
        st.runMs += m.executorRunTime; st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime; st.deserMs += m.executorDeserializeTime
        st.bytesRead += m.inputMetrics.bytesRead
        st.recordsRead += m.inputMetrics.recordsRead
        st.bytesWritten += m.outputMetrics.bytesWritten
        st.recordsWritten += m.outputMetrics.recordsWritten
        st.shuffleBytesWritten += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRecordsRead += m.shuffleReadMetrics.recordsRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      touch()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (listening) {
        qe.tracker.phases.foreach { case (phase, p) =>
          if (phase != "parsing" && p.endTimeMs >= p.startTimeMs)
            phases.add(Span(-1, phase, s"catalyst.$phase",
              p.startTimeMs * 1000, p.endTimeMs * 1000, -1))
        }
        touch()
      }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  if (tracing) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def staticCounters: Map[String, Double] = Map(
    "codegen.compile_s" -> WholeStageCodegenExec.codeGenTime / 1e9,
    "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "listing.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "listing.file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble)

  /** Run one pass as the root span `name`; returns its value and record. */
  def pass[T](name: String)(body: => T): (T, PassRecord) = {
    seams.clear(); marks.clear(); jobs.clear(); stages.clear(); phases.clear()
    val before = staticCounters
    listening = tracing
    val out = span(name, "workload")(body)
    if (tracing) drain()
    listening = false
    val after = staticCounters
    val all = seams.asScala.toSeq
    val root = all.find(s => s.parent == 0 && s.layer == "workload").get
    val rec = PassRecord(root, all.filterNot(_ eq root).sortBy(_.start),
      marks.asScala.toSeq.sortBy(_._2),
      jobs.values.asScala.toSeq.sortBy(_.id),
      stages.values.asScala.toSeq.filter(_.end > 0).sortBy(_.id),
      phases.asScala.toSeq.sortBy(_.start),
      after.map { case (k, v) => k -> (v - before(k)) })
    (out, rec)
  }

  /** Listener delivery is asynchronous: wait until every job seen has
    * ended and the bus has been quiet for a moment (bounded wait).
    */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      Clock.nowUs - lastEventUs.get > 300_000
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def close(): Unit = if (tracing) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
