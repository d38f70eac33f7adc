package graft

import graft.engine.ValidationEngine
import graft.gen.SequenceGen
import graft.spec.SchemaParser
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** North-rule measurement: the same validation job at two parallelism
  * levels (local[N] vs local[4N] — the sandbox stand-in for N vs 4N
  * executors), reporting throughput at both and the scaling efficiency
  * `(thr_4N / thr_N) / 4`, printed as one JSON line.
  *
  * Method: materialize a generated sequences table to parquet once
  * (untimed), then run interleaved repetitions — each times
  * read → fused constraint validation → verdict/violation aggregation at
  * local[N] and immediately at local[4N] (drift control), min over
  * repetitions per (job, level). The job is shuffle-free, so ideal
  * scaling is bounded by the scan + codegen'd projection.
  */
object ScalingBench {

  /** Pure-CPU hardware calibration: aggregate arithmetic throughput with
    * `threads` concurrent workers, no Spark, no allocation. On virtualized
    * boxes 4N vCPUs deliver less than 4× the work of N — this measures the
    * actual ceiling so engine efficiency can be reported raw AND
    * hardware-normalized.
    */
  private def calibrate(threads: Int, iters: Long = 800000000L): Double = {
    def work(): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    val best = (1 to 5).map { _ =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val fs = (1 to threads).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = work()
      }))
      fs.foreach(_.get())
      pool.shutdown()
      (System.nanoTime() - t0) / 1e9
    }.min
    threads * iters / best // ops/sec aggregate
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "12000000").toLong
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "8").toInt
    val data = s"/tmp/graft_scale_${rows}"

    def session(cpus: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"graft-scaling-$cpus")
        .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // fixed split size at both levels so the scan parallelism is
        // determined by cores, not by maxPartitionBytes heuristics
        .config("spark.sql.files.maxPartitionBytes", "16m")
        // skip .crc verification on local reads (an Iceberg/HDFS scan at
        // scale does its own integrity checks; local CRC is pure overhead)
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // materialize once (untimed). No repartition — that would shuffle the
    // full table for nothing: parquet is splittable, so read parallelism
    // comes from spark.sql.files.maxPartitionBytes, not file count. The
    // explicit range slicing just bounds file sizes.
    if (!Files.exists(Paths.get(data))) {
      val s = session(4 * n)
      SequenceGen.generate(s, rows, parts = 8 * n)
        .write.mode("overwrite").parquet(data)
      s.stop()
    }

    val spec = SchemaParser.parse(Main.builtinSpec)

    /** (scanValidateSec, computeValidateSec, steadyComputeSec):
      * the I/O-inclusive job (parquet read → validate →
      * verdicts+violations), the compute-bound job (in-place
      * deterministic generation → validate) — both as full wall-clock
      * jobs including per-job driver planning — and the STEADY-STATE
      * compute job: the physical plan built once, then executed
      * repeatedly (`queryExecution.toRdd` + runJob). Driver planning is
      * invariant across cluster sizes (the same driver plans for N and
      * for 4N executors), so the steady-state number is the engine's own
      * N→4N scaling; the wall numbers show what a single submitted job
      * sees, constant planning cost included.
      */
    /** One timed pass of (scan, compute, steady) at `cpus` cores.
      * `warm` = also run the compute/steady jobs untimed first (first
      * visit per level: JIT; later visits reuse JIT state in the same
      * JVM). The SCAN job is warmed on EVERY pass: each pass is a fresh
      * session whose file-listing/footer caches start empty, and an
      * unwarmed timed scan would carry that one-off cost — the min over
      * repetitions would then always come from repetition 1, defeating
      * the interleaved drift control for the scan row.
      */
    def pass(cpus: Int, warm: Boolean): (Double, Double, Double) = {
      val s = session(cpus)
      def scanJob(): Unit =
        ValidationEngine.annotate(s.read.parquet(data), spec)
          .select("doc_id", "valid", "violations")
          .write.format("noop").mode("overwrite").save()
      def computeJob(): Unit =
        ValidationEngine.annotate(SequenceGen.generate(s, rows), spec)
          .select("doc_id", "valid", "violations")
          .write.format("noop").mode("overwrite").save()
      // plan once; each run consumes every output row of every partition
      val steadyRdd = ValidationEngine.annotate(SequenceGen.generate(s, rows), spec)
        .select("doc_id", "valid", "violations")
        .queryExecution.toRdd
      def steadyJob(): Unit =
        s.sparkContext.runJob(steadyRdd, (it: Iterator[_]) => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n })
      def t(job: () => Unit, alwaysWarm: Boolean = false): Double = {
        if (warm || alwaysWarm) job()
        val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
      }
      // scan warms every pass: fresh-session footer/listing caches (see doc)
      val r = (t(() => scanJob(), alwaysWarm = true),
        t(() => computeJob()), t(() => steadyJob()))
      s.stop()
      r
    }

    // INTERLEAVED repetitions: host throughput drifts on a shared box, so
    // the two levels are measured back-to-back within each repetition and
    // the min over repetitions is taken per (job, level) — a level never
    // gets a systematically quieter window than the other. Noise is
    // one-sided (contention only slows), so min is the right estimator.
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "4").toInt
    /** 1-min host load average from /proc/loadavg (this box is shared:
      * neighbor load directly contaminates timings, so each repetition
      * records the load it ran under — evidence for which rep the min
      * came from).
      */
    def hostLoad(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val repLoads = collection.mutable.ArrayBuffer.empty[Double]
    val all = (1 to reps).map { r =>
      repLoads += hostLoad()
      (pass(n, warm = r == 1), pass(4 * n, warm = r == 1))
    }
    def minOf(sel: ((Double, Double, Double)) => Double,
        side: (((Double, Double, Double), (Double, Double, Double))) => (Double, Double, Double)): Double =
      all.map(p => sel(side(p))).min
    val secN = minOf(_._1, _._1);  val sec4N = minOf(_._1, _._2)
    val csecN = minOf(_._2, _._1); val csec4N = minOf(_._2, _._2)
    val ssecN = minOf(_._3, _._1); val ssec4N = minOf(_._3, _._2)
    val seff = (ssecN / ssec4N) / 4.0
    val thrN = rows / secN
    val thr4N = rows / sec4N
    val eff = (thr4N / thrN) / 4.0
    val cthrN = rows / csecN
    val cthr4N = rows / csec4N
    val ceff = (cthr4N / cthrN) / 4.0

    // hardware ceiling: what 4N threads actually deliver vs N on this box
    val calN = calibrate(n)
    val cal4N = calibrate(4 * n)
    val hwScale = cal4N / calN // ideal = 4.0 on real hardware
    val effNorm = (thr4N / thrN) / hwScale

    println(s"""{"rows":$rows,"n":$n,"reps":$reps,"secN":$secN,"sec4N":$sec4N,"thrN":$thrN,"thr4N":$thr4N,"efficiency":$eff,"hw_scale":$hwScale,"efficiency_normalized":$effNorm,"compute_secN":$csecN,"compute_sec4N":$csec4N,"compute_efficiency":$ceff,"steady_secN":$ssecN,"steady_sec4N":$ssec4N,"steady_efficiency":$seff,"rep_host_loads":[${repLoads.mkString(",")}]}""")
  }
}
