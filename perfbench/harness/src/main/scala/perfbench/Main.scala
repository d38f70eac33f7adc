package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark, driven by perfbench/run.py: writes a
  * workload's seeded input, times the workload, and writes its metrics —
  * and with --trace 1 its span tree — as JSON.
  *
  * Flags: --workload --seed --cores --work --input --rows --seconds
  * --trace 0|1 --out --trace-out --verified --oracle, and --launched-at
  * (epoch seconds at which run.py launched this JVM).
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val spark = session(workload, cores, a("work"))
    val setupS = Clock.nowUs / 1e6 - a("launched-at").toDouble
    try Json.write(a("out"), run(spark, workload, a, cores, setupS))
    finally spark.stop()
  }

  /** The session each workload's user-facing entry point builds: graft.Main
    * (validate, assemble) or graft.Bench (the query suite).
    */
  def session(workload: String, cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", if (workload == "query_suite") cores.toString else "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap the JVM still holds at the end of the run. Full collections
    * repeat, with pauses for Spark's ContextCleaner to drop the blocks of
    * broadcasts and RDDs the previous one found unreachable, until the
    * heap stops shrinking (at most 6 rounds).
    */
  def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, now, rounds) = (Double.MaxValue, used(), 1)
    while (prev - now > 1.0 && rounds < 6) {
      Thread.sleep(300)
      prev = now; now = used(); rounds += 1
    }
    now
  }

  private def workloadFor(spark: SparkSession, name: String, a: Map[String, String]): Workload =
    name match {
      case "validate_seq" =>
        new ValidateSeq(spark, a("input"), a("rows").toLong, a("seed").toLong, a("work"))
      case "assemble_docs" =>
        new AssembleDocs(spark, a("input"), a("rows").toLong, a("seed").toLong, a("work"))
      case "query_suite" =>
        new QuerySuite(spark, a("input"), a("seed").toLong, a("rows").toLong, a("verified"),
          a("oracle"), a("work"))
    }

  final case class Done(rec: PassRecord, derived: Seq[Span], reparent: Map[Int, Int],
      outcome: Outcome)

  def run(spark: SparkSession, name: String, a: Map[String, String], cores: Int,
      setupS: Double): Map[String, Any] = {
    val w = workloadFor(spark, name, a)
    val t0 = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - t0) / 1e9
    val seconds = a("seconds").toDouble
    var passNo = 0
    def onePass(tr: Tracer): Done = {
      passNo += 1
      val i = passNo
      val (res, rec) = tr.pass(w.name)(w.run(tr, i))
      val outcome = w.check(res, i)
      val firstId = (rec.seams.map(_.id) :+ rec.root.id).max + 1
      val (derived, reparent) = w.derive(rec, firstId)
      Done(rec, derived, reparent, outcome)
    }

    // No warm-up beyond writing the input: like `graft.Main validate gen:N`,
    // the pass pays most JIT, class loading and codegen compilation. Passes
    // repeat until `seconds` have elapsed; the input sizes make one pass
    // outlast run_seconds.
    val tr = new Tracer(spark, tracing = a("trace") == "1")
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val timed = ArrayBuffer(onePass(tr))
    while (System.nanoTime() < end) timed += onePass(tr)
    tr.close()
    val liveMb = liveHeapMb()

    val walls = timed.map(_.rec.root.dur / 1e6).toSeq
    val wall = Analysis.median(walls)
    val out = Map[String, Any](
      "workload" -> name, "seed" -> a("seed").toLong, "cores" -> cores,
      "attempted" -> timed.map(_.outcome.attempted).sum,
      "failed" -> timed.map(_.outcome.failed).sum,
      "problems" -> timed.flatMap(_.outcome.problems).take(20),
      "setup_s" -> setupS, "gen_s" -> genS,
      "pass_wall_s" -> walls, "input_rows" -> w.inputRows,
      "end_to_end" -> Map(
        "wall_s" -> wall,
        "rows_per_s" -> w.inputRows / wall,
        "live_heap_mb" -> liveMb))
    if (!tr.tracing) out
    else {
      val layers = timed.map(d => layerMetrics(w, d, cores))
      val perLayer = layers.head.keys.map(k => k -> Analysis.median(layers.map(_(k)).toSeq)).toMap ++
        w.outOfBand()
      val mid = timed.sortBy(_.rec.root.dur).apply(timed.size / 2)
      Json.write(a("trace-out"), traceDoc(w, mid, cores, perLayer))
      out ++ Map("per_layer" -> perLayer)
    }
  }

  private def nodesOf(d: Done): Seq[Node] = Analysis.tree(d.rec, d.derived, d.reparent)

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(w: Workload, d: Done, cores: Int): Map[String, Double] = {
    val nodes = nodesOf(d)
    val wall = d.rec.root.dur / 1e6
    // total time per seam call (and per assembly stage), e.g. tableio.commit_s
    val bySeam = (d.rec.seams.filter(_.layer != "queries") ++ d.derived.filter(_.layer == "assemble.stage"))
      .groupBy(_.name).map { case (n, ss) => s"${n}_s" -> ss.map(_.dur).sum / 1e6 }
    val units = d.derived.filter(_.layer == "checkpoint.unit").map(_.dur / 1e6)
    val queries = d.rec.seams.filter(_.layer == "queries").map(_.dur / 1e6).sorted
    val families = d.rec.seams.filter(_.layer == "queries")
      .groupBy(s => QuerySuite.family(s.name))
      .map { case (f, ss) => s"queries.${f}_s" -> ss.map(_.dur).sum / 1e6 }
    val unattributed = Analysis.layerSelf(nodes, d.rec.root.id).toMap.getOrElse("unattributed", 0.0)
    Analysis.sparkMetrics(d.rec, nodes, cores, w.inputRows, w.scanRoot(d.rec)) ++
      bySeam ++ families ++ Map(
        "checkpoint.units" -> units.size.toDouble,
        "checkpoint.unit_p50_s" -> Analysis.median(units),
        "checkpoint.unit_max_s" -> (if (units.isEmpty) 0.0 else units.max),
        "queries.p50_s" -> Analysis.median(queries),
        // nearest rank: of the 42 timed queries, the highest percentile
        // with at least 10 samples above it
        "queries.p75_s" -> (if (queries.isEmpty) 0.0 else queries(math.ceil(0.75 * queries.size).toInt - 1)),
        "trace.wall_s" -> wall,
        "trace.attributed_frac" -> (1.0 - unattributed / wall))
  }

  /** The committed per-layer record: span tree and self time per layer of
    * the median traced pass, per-query times, and the metrics.
    */
  def traceDoc(w: Workload, d: Done, cores: Int, perLayer: Map[String, Double]): Map[String, Any] = {
    val nodes = nodesOf(d)
    val self = Analysis.selfTimes(nodes)
    val t0 = d.rec.root.start
    Map(
      "workload" -> w.name, "cores" -> cores, "pass_wall_s" -> d.rec.root.dur / 1e6,
      "layer_self_s" -> Analysis.layerSelf(nodes, d.rec.root.id).map { case (l, s) =>
        Map("layer" -> l, "self_s" -> s) },
      "per_layer" -> perLayer,
      "query_s" -> d.rec.seams.filter(_.layer == "queries").map(s => s.name -> s.dur / 1e6).toMap,
      "spans" -> nodes.sortBy(_.start).map(n => Map(
        "id" -> n.id, "parent" -> n.parent, "name" -> n.name, "layer" -> n.layer,
        "start_s" -> (n.start - t0) / 1e6, "end_s" -> (n.end - t0) / 1e6,
        "self_s" -> self(n.id) / 1e6)))
  }
}

/** Minimal JSON writer/reader for the harness's own files. */
object Json {
  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => enc(k.toString) + ":" + enc(x) }
      .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case (a, b) => enc(Seq(a, b))
  }
  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), enc(v))
  /** A flat `{"name": integer}` object. */
  def readLongs(path: String): Map[String, Long] =
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}
