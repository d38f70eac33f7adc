package perfbench

import scala.collection.mutable

/** A node of one pass's span tree: harness seam spans, spans the
  * workload derives from them (commit units, assembly stages), Spark jobs
  * and stages, and Catalyst phases.
  */
final case class Node(id: Int, name: String, layer: String,
    start: Long, end: Long, parent: Int) {
  def dur: Long = end - start
}

/** Span-tree construction, self times and per-layer metrics of one pass. */
object Analysis {
  private val JobBase = 1000000
  private val StageBase = 2000000
  private val PhaseBase = 3000000

  /** `derived` are spans a workload builds from the seam spans (ids
    * already allocated above every seam id); `reparent` moves seam spans
    * under them.
    */
  def tree(rec: PassRecord, derived: Seq[Span], reparent: Map[Int, Int]): Seq[Node] = {
    val spans = (rec.root +: rec.seams.map(s => s.copy(parent = reparent.getOrElse(s.id, s.parent)))) ++
      derived
    val byId = spans.map(s => s.id -> s).toMap
    val derivedIds = derived.map(_.id).toSet
    // innermost derived span under `p` that holds time t, recursively
    def refine(p: Int, t: Long): Int =
      derived.find(d => d.parent == p && d.start <= t && t <= d.end)
        .map(d => refine(d.id, t)).getOrElse(p)
    // innermost span of any kind holding t (Spark times are whole ms, so
    // probe at the middle of the millisecond)
    def innermost(t: Long): Int =
      spans.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption
        .fold(rec.root.id)(_.id)
    val spanNodes = spans.map(s => Node(s.id, s.name, s.layer, s.start, s.end, s.parent))
    val jobNodes = rec.jobs.filter(_.end >= 0).map { j =>
      val p0 = if (byId.contains(j.parent)) j.parent else innermost(j.start + 500)
      Node(JobBase + j.id, s"job ${j.id}", "spark.job", j.start, j.end,
        if (derivedIds(p0)) p0 else refine(p0, j.start + 500))
    }
    val jobIds = jobNodes.map(_.id).toSet
    val stageNodes = rec.stages.filter(s => jobIds(JobBase + s.job)).map { s =>
      Node(StageBase + s.id, s"stage ${s.id}", "spark.stage", s.start, s.end, JobBase + s.job)
    }
    val phaseNodes = rec.phases.zipWithIndex.map { case (p, i) =>
      Node(PhaseBase + i, p.name, p.layer, p.start, p.end, innermost(p.start + 500))
    }
    spanNodes ++ jobNodes ++ stageNodes ++ phaseNodes
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((a0, b0) <- ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val a = math.max(a0, reach)
      if (b0 > a) { total += b0 - a; reach = b0 }
    }
    total
  }

  /** Self time (µs) of every node: its duration minus what its children cover. */
  def selfTimes(nodes: Seq[Node]): Map[Int, Long] = {
    val kids = nodes.groupBy(_.parent)
    nodes.map { n =>
      val c = kids.getOrElse(n.id, Nil).map(k => (k.start, k.end))
      n.id -> (n.dur - covered(c, n.start, n.end))
    }.toMap
  }

  /** Self time per layer (seconds); the root's self time is `unattributed`. */
  def layerSelf(nodes: Seq[Node], rootId: Int): Seq[(String, Double)] = {
    val self = selfTimes(nodes)
    nodes.groupBy(n => if (n.id == rootId) "unattributed" else n.layer).toSeq
      .map { case (l, ns) => l -> ns.map(n => self(n.id)).sum / 1e6 }
      .sortBy(-_._2)
  }

  /** Ids of `root` and all its descendants. */
  def subtree(nodes: Seq[Node], root: Int): Set[Int] = {
    val kids = nodes.groupBy(_.parent)
    val out = mutable.Set(root)
    var frontier = Seq(root)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(k => kids.getOrElse(k, Nil).map(_.id)).filterNot(out)
      out ++= frontier
    }
    out.toSet
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Executor, shuffle, Catalyst and scheduling metrics of one traced pass.
    * `scanRoot`: the span whose jobs define `scan.rows_read_per_input_row`.
    */
  def sparkMetrics(rec: PassRecord, nodes: Seq[Node], cores: Int,
      inputRows: Long, scanRoot: Int): Map[String, Double] = {
    val st = rec.stages
    def sum(f: Tracer.Stage => Long) = st.map(f).sum.toDouble
    val wallUs = rec.root.dur.toDouble
    val jobs = nodes.filter(_.layer == "spark.job")
    val busy = covered(jobs.map(j => (j.start, j.end)), rec.root.start, rec.root.end)
    val taskS = sum(_.runMs) / 1e3
    val totalTaskMs = sum(_.sumTaskMs)
    val skew = st.filter(s => s.tasks >= cores && s.sumTaskMs >= 0.05 * totalTaskMs)
      .map(s => s.maxTaskMs / (s.sumTaskMs.toDouble / s.tasks)) match {
        case Seq() => 1.0
        case xs => xs.max
      }
    val scanJobs = subtree(nodes, scanRoot).filter(id => id >= JobBase && id < StageBase)
      .map(_ - JobBase)
    val scanRows = st.filter(s => scanJobs(s.job)).map(_.recordsRead).sum
    Map(
      "driver.jobs" -> jobs.size.toDouble,
      "driver.idle_gap_s" -> (wallUs - busy) / 1e6,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.deser_s" -> sum(_.deserMs) / 1e3,
      "exec.slot_util" -> taskS / (wallUs / 1e6 * cores),
      "exec.stage_skew" -> skew,
      "scan.bytes_read" -> sum(_.bytesRead),
      "scan.rows_read" -> sum(_.recordsRead),
      "scan.rows_read_per_input_row" -> scanRows.toDouble / inputRows,
      "sink.bytes_written" -> sum(_.bytesWritten),
      "sink.rows_written" -> sum(_.recordsWritten),
      "shuffle.bytes_written" -> sum(_.shuffleBytesWritten),
      "shuffle.records_read" -> sum(_.shuffleRecordsRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill.bytes" -> sum(_.spillBytes),
      "catalyst.analysis_s" -> nodes.filter(_.layer == "catalyst.analysis").map(_.dur).sum / 1e6,
      "catalyst.optimization_s" -> nodes.filter(_.layer == "catalyst.optimization").map(_.dur).sum / 1e6,
      "catalyst.planning_s" -> nodes.filter(_.layer == "catalyst.planning").map(_.dur).sum / 1e6,
    ) ++ rec.counters
  }
}
