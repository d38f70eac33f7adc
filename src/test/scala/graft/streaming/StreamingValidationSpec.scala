package graft.streaming

import graft.SparkSessionTestWrapper
import graft.engine.ValidationEngine
import graft.spec.SchemaParser
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingValidationSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val spec = SchemaParser.parse(
    """{"type":"object","properties":{
        "doc_id":{"type":"string","required":true,"pattern":"^d[0-9]+$"},
        "n_tok":{"type":"integer","minimum":1}}}""")

  case class Ev(doc_id: String, n_tok: Int, ts: Timestamp)
  private def t(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  test("streaming annotate: same verdicts as batch, incremental batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = ValidationEngine.annotate(mem.toDF(), spec)
      .select($"doc_id", $"valid")
      .writeStream.format("memory").queryName("sv_annotate").outputMode("append").start()
    try {
      mem.addData(Ev("d1", 5, t(0)), Ev("BAD", 5, t(1)), Ev("d2", 0, t(2)))
      q.processAllAvailable()
      val got = spark.table("sv_annotate").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(got == Map("d1" -> true, "BAD" -> false, "d2" -> false))
      // second micro-batch continues incrementally
      mem.addData(Ev("d3", 2, t(3)))
      q.processAllAvailable()
      assert(spark.table("sv_annotate").count() == 4)
    } finally q.stop()
  }

  test("windowed violation counts with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingValidation
      .violationCountsByWindow(mem.toDF(), spec, "ts", "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("sv_windows").outputMode("update").start()
    try {
      mem.addData(Ev("BAD", 5, t(1)), Ev("BAD2", 5, t(2)), Ev("d1", 0, t(11)))
      q.processAllAvailable()
      val got = spark.table("sv_windows").collect()
        .map(r => (r.getString(1), r.getLong(2)))
      assert(got.contains(("$.doc_id.pattern", 2L))) // both BADs in window 0-10s
      assert(got.contains(("$.n_tok.minimum", 1L)))  // d1 in window 10-20s
    } finally q.stop()
  }

  test("drift monitor (mapGroupsWithState) ≡ batch drift on the accumulated stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseline = Map(0L -> 0.5, 1L -> 0.3, 2L -> 0.2)
    val mem = MemoryStream[Ev]
    val q = StreamingValidation
      .driftMonitor(mem.toDF().withColumn("source",
          when($"doc_id".startsWith("s"), "shifted").otherwise("steady")),
        "source", "n_tok", 4.0, baseline)
      .writeStream.format("memory").queryName("sv_drift").outputMode("update").start()
    try {
      // steady follows the baseline shape; shifted sits in high buckets
      val steady = Seq(1, 2, 3, 1, 5, 6, 9, 2, 1, 3).zipWithIndex
        .map { case (n, i) => Ev(s"d$i", n, t(i)) }
      val shifted = Seq(17, 18, 19, 16).zipWithIndex
        .map { case (n, i) => Ev(s"s$i", n, t(i)) }
      mem.addData(steady.take(5) ++ shifted.take(2): _*)
      q.processAllAvailable()
      mem.addData(steady.drop(5) ++ shifted.drop(2): _*)
      q.processAllAvailable()

      // last update per group (update mode appends one row per batch)
      val updates = spark.table("sv_drift").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      val last = updates.groupBy(_._1).map { case (g, us) => g -> us.maxBy(_._2) }
      assert(last("steady")._2 == 10L && last("shifted")._2 == 4L)
      assert(last("shifted")._4 > last("steady")._4,
        "out-of-distribution group must show higher PSI")

      // differential: the running PSI equals batch Checks.drift on the
      // same accumulated rows (same bucketing, same smoothing)
      val baseDf = baseline.toSeq.toDF("bucket", "p")
      for ((g, rows) <- Seq("steady" -> steady, "shifted" -> shifted)) {
        val batch = graft.engine.Checks.drift(
          graft.engine.Checks.histogram(
            rows.map(e => (e.doc_id, e.n_tok)).toDF("doc_id", "n_tok"), "n_tok", 4.0),
          baseDf).collect()(0)
        assert(math.abs(last(g)._3 - batch.getDouble(0)) < 1e-9, s"$g kl")
        assert(math.abs(last(g)._4 - batch.getDouble(1)) < 1e-9, s"$g psi")
      }
    } finally q.stop()
  }

  test("streaming dedup within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingValidation.dedupStream(mem.toDF(), "doc_id", "ts", "10 seconds")
      .writeStream.format("memory").queryName("sv_dedup").outputMode("append").start()
    try {
      mem.addData(Ev("d1", 1, t(0)), Ev("d1", 2, t(1)), Ev("d2", 3, t(2)))
      q.processAllAvailable()
      mem.addData(Ev("d1", 4, t(3))) // still within watermark → suppressed
      q.processAllAvailable()
      val ids = spark.table("sv_dedup").collect().map(_.getString(0)).toSeq
      assert(ids.sorted == Seq("d1", "d2"))
    } finally q.stop()
  }

  test("streaming restart from checkpoint: windowed-count state survives a stop/start") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val mem = MemoryStream[Ev]
    // latest count per constraint across update-mode re-emissions (the
    // memory sink cannot recover from a checkpoint; foreachBatch can)
    val seen = scala.collection.concurrent.TrieMap[String, Long]()
    def start() = StreamingValidation
      .violationCountsByWindow(mem.toDF(), spec, "ts", "10 seconds", "5 seconds")
      .writeStream.option("checkpointLocation", ckpt).outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          val (cid, n) = (r.getString(1), r.getLong(2))
          seen.updateWith(cid)(prev => Some(math.max(prev.getOrElse(0L), n)))
        }
        ()
      }.start()

    val q1 = start()
    mem.addData(Ev("BAD", 5, t(1)))
    q1.processAllAvailable()
    q1.stop()
    assert(seen.get("$.doc_id.pattern").contains(1L))

    // restart THE SAME query from its checkpoint; the second bad row in
    // window 0-10s must ACCUMULATE onto the recovered state (count 2),
    // not restart from 1
    mem.addData(Ev("BAD2", 5, t(2)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.get("$.doc_id.pattern").contains(2L),
        s"recovered state must accumulate to 2, got $seen")
    } finally q2.stop()
  }

  test("drift monitor state TTL: timeout removes state silently; group re-registers from zero") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    import StreamingValidation.{DriftEvent, DriftStateBuf}
    val noWatermark = Optional.empty[Long]()
    val baseline = Map(0L -> 0.5, 1L -> 0.5)
    val step = StreamingValidation.driftStep(baseline, 1e-6, Some("30 minutes")) _

    // batch 1: three events accumulate and arm the TTL
    val s1 = TestGroupState.create[DriftStateBuf](
      optionalState = Optional.empty[DriftStateBuf](), timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = noWatermark, hasTimedOut = false)
    val out1 = step("g1", Iterator(DriftEvent("g1", 0L), DriftEvent("g1", 1L), DriftEvent("g1", 1L)), s1).toSeq
    assert(out1.map(_.n) == Seq(3L))
    assert(s1.exists && s1.get.n == 3L)
    assert(s1.getTimeoutTimestampMs.isPresent, "TTL must be armed after an update")
    assert(s1.getTimeoutTimestampMs.get == 1000L + 30L * 60L * 1000L)

    // expiry: the engine calls the function with hasTimedOut=true and no
    // rows — state is removed, nothing is emitted
    val s2 = TestGroupState.create[DriftStateBuf](
      optionalState = Optional.of(s1.get), timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L + 31L * 60L * 1000L, eventTimeWatermarkMs = noWatermark, hasTimedOut = true)
    val out2 = step("g1", Iterator.empty, s2).toSeq
    assert(out2.isEmpty, "expiry must not emit a row")
    assert(s2.isRemoved, "expired state must be removed")

    // the group reappears: it re-registers cleanly from zero
    val s3 = TestGroupState.create[DriftStateBuf](
      optionalState = Optional.empty[DriftStateBuf](), timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 5000000L, eventTimeWatermarkMs = noWatermark, hasTimedOut = false)
    val out3 = step("g1", Iterator(DriftEvent("g1", 0L)), s3).toSeq
    assert(out3.map(_.n) == Seq(1L), "re-registered group restarts at n=1")
    assert(s3.getTimeoutTimestampMs.isPresent)

    // without a TTL the function must NOT arm a timeout (NoTimeout conf)
    val noTtl = StreamingValidation.driftStep(baseline, 1e-6, None) _
    val s4 = TestGroupState.create[DriftStateBuf](
      optionalState = Optional.empty[DriftStateBuf](), timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = noWatermark, hasTimedOut = false)
    noTtl("g1", Iterator(DriftEvent("g1", 0L)), s4).toSeq
    assert(!s4.getTimeoutTimestampMs.isPresent)
  }

  test("streaming decontamination (running result table) ≡ batch contaminationScores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, text: String)
    val benchRows = Seq((100L, "the cat sat on the mat"))
    val docRows = Seq(
      (0L, "the cat sat on the mat today"),          // overlaps bench
      (1L, "completely unrelated text about joins"), // no overlap
      (2L, "the cat sat down"))                      // 1 of 2 shingles
    val bench = benchRows.toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingValidation.decontaminateStreamRunning(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", bench, "text")
      .writeStream.format("memory").queryName("sv_decon").outputMode("update").start()
    try {
      mem.addData(docRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(docRows.drop(2): _*) // second micro-batch
      q.processAllAvailable()
      val got = spark.table("sv_decon")
        .groupBy("id").agg(max("n_overlap").as("n"), max("contamination").as("c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val want = graft.ops.Dedup.contaminationScores(
          docRows.toDF("doc_id", "text"), "doc_id", "text", bench, "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == want)
      assert(!got.contains(1L), "zero-overlap docs must emit nothing")
    } finally q.stop()
  }

  test("streaming near-dup ingest: greedy online dedup against the growing index, zero query state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identical texts are DETERMINISTIC near-dups (equal signatures →
    // every band matches); distinct texts share no shingles
    val A = "the quick brown fox jumps over the lazy dog near the river bank"
    val B = "spark shuffles partition data across executors during wide transformations"
    val C = "tokenizers split documents into subword units for model training"
    val D = "watermarks bound event time state in streaming aggregations cleanly"
    val idx = java.nio.file.Files.createTempDirectory("graft_ingest").toString + "/idx"
    val acc = scala.collection.mutable.ArrayBuffer.empty[Long]
    val drp = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingValidation.dedupIngestStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx) {
        (accepted, dropped, _) =>
          acc.synchronized { acc ++= accepted.select("doc_id").as[Long].collect() }
          drp.synchronized { drp ++= dropped.select("doc_id").as[Long].collect() }
      }.start()
    try {
      mem.addData((0L, A), (1L, A), (2L, B)) // within-batch dup: 1 loses to 0
      q.processAllAvailable()
      mem.addData((3L, A), (4L, C), (5L, C)) // 3 dups CORPUS doc 0; 5 loses to 4
      q.processAllAvailable()
      mem.addData((6L, B), (7L, D))          // 6 dups corpus doc 2 from batch 1
      q.processAllAvailable()
      assert(acc.synchronized(acc.toSet) == Set(0L, 2L, 4L, 7L))
      assert(drp.synchronized(drp.toSet) == Set(1L, 3L, 5L, 6L))
      // the query itself is stateless — the index on storage is the state
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.isEmpty,
        s"expected a stateless query, got ${prog.stateOperators.length} state operators")
      // the index holds exactly the accepted docs' bands (4 bands/doc at
      // k=8, rowsPerBand=2) — dropped docs never enter it
      val idxRows = spark.read.parquet(idx)
      assert(idxRows.select("id").as[Long].collect().groupBy(identity)
        .view.mapValues(_.length).toMap == Map(0L -> 4, 2L -> 4, 4L -> 4, 7L -> 4))
      // nothing pinned across batches: closure-local checkpoints freed
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "ingest closure must free its localCheckpoint blocks")
    } finally q.stop()
  }

  test("streaming segment ingest: later batches lose segments to earlier ones, zero query state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_segingest").toString + "/idx"
    val out = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingValidation.segmentIngestStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, width = 3) {
        (rewritten, _) =>
          out.synchronized {
            rewritten.collect().foreach(r =>
              out(r.getLong(0)) = (r.getString(1), r.getLong(3)))
          }
      }.start()
    try {
      // batch 1 bootstraps: within-batch dedup only (doc 1 loses A to 0)
      mem.addData((0L, "a1 a2 a3 b1 b2 b3"), (1L, "a1 a2 a3 c1 c2 c3"))
      q.processAllAvailable()
      // batch 2: loses B and C to batch 1's index, keeps D
      mem.addData((2L, "b1 b2 b3 c1 c2 c3 d1 d2 d3"))
      q.processAllAvailable()
      // batch 3: loses D to batch 2 — the index grew mid-stream
      mem.addData((3L, "d1 d2 d3 e1 e2 e3"))
      q.processAllAvailable()
      assert(out.synchronized(out.toMap) == Map(
        0L -> (("a1 a2 a3 b1 b2 b3", 2L)),
        1L -> (("c1 c2 c3", 1L)),
        2L -> (("d1 d2 d3", 1L)),
        3L -> (("e1 e2 e3", 1L))))
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.isEmpty,
        s"expected a stateless query, got ${prog.stateOperators.length} state operators")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "ingest closure must free its localCheckpoint blocks")
    } finally q.stop()
  }

  test("bounded decontamination (foreachBatch default) ≡ batch, with ZERO cross-batch state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val docRows = Seq(
      (0L, "the cat sat on the mat today"),
      (1L, "completely unrelated text about joins"),
      (2L, "the cat sat down"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingValidation.decontaminateStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", bench, "text") {
        (scores, _) =>
          buf.synchronized {
            buf ++= scores.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          }
      }.start()
    try {
      mem.addData(docRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(docRows.drop(2): _*)
      q.processAllAvailable()
      val want = graft.ops.Dedup.contaminationScores(
          docRows.toDF("doc_id", "text"), "doc_id", "text", bench, "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(buf.synchronized(buf.toSet) == want)
      // the bounded form has NO stateful operator at all — state cannot
      // grow with processed-doc count (the running form keeps one state
      // row per contaminated doc forever)
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.isEmpty,
        s"expected a stateless query, got ${prog.stateOperators.length} state operators")
    } finally q.stop()
  }

  test("streaming profile artifacts: merge of micro-batch rows ≡ whole-stream batch profile") {
    import spark.implicits._
    import graft.engine.MergeableProfile
    implicit val sqlCtx = spark.sqlContext
    val cols = Seq("src", "score")
    val rows = (0 until 300).map(i =>
      (i.toLong, s"s${i % 5}", if (i % 7 == 3) None else Some(i % 40)))
    val artifacts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val mem = MemoryStream[(Long, String, Option[Int])]
    val q = StreamingValidation.profileStream(
        mem.toDF().toDF("id", "src", "score"), cols, "score", 5.0, 8) {
        (artifact, _) =>
          // a real sink appends to a parquet/Iceberg artifact table;
          // localCheckpoint stands in (collect-and-recreate would too)
          artifacts.synchronized { artifacts += artifact.localCheckpoint() }
      }.start()
    try {
      mem.addData(rows.take(120): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(120): _*)
      q.processAllAvailable()
      assert(artifacts.synchronized(artifacts.size) >= 2,
        "data arrived in two adds; expected at least two micro-batch artifacts")
      val merged = MergeableProfile.merge(
        artifacts.synchronized(artifacts.reduce(_ unionByName _)), cols, 8)
      val whole = MergeableProfile.batchProfile(
        rows.toDF("id", "src", "score").withColumn("_one", lit(1)),
        "_one", cols, "score", 5.0, 8).drop("batch")
      def render(p: org.apache.spark.sql.DataFrame) =
        MergeableProfile.estimates(p, cols).collect()
          .map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(render(merged) == render(whole))
      assert(merged.select("hist").collect()(0).getSeq[Long](0) ==
        whole.select("hist").collect()(0).getSeq[Long](0))
      // zero cross-batch state, like the bounded decontamination form
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming sessionization (session_window, append) ≡ batch Sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, user_id, ts, value); gaps avoid the exact 30s boundary,
    // where session_window (exclusive end) and the batch op
    // (strictly-greater) legitimately differ
    // first micro-batch holds both users' early events (watermark delay 0:
    // an early event arriving after a later one has advanced the watermark
    // would be dropped as late — correct streaming semantics, wrong test)
    val evRows = Seq(
      (1L, 1L, t(0), 1.0), (2L, 1L, t(10), 2.0), (3L, 1L, t(25), 3.0),
      (5L, 2L, t(5), 5.0),
      (4L, 1L, t(70), 4.0),                    // 45s gap → new session
      (6L, 2L, t(95), 6.0))                    // 90s gap → two sessions
    val mem = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = StreamingValidation.sessionStream(
        mem.toDF().toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", gap = "30 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sv_sessions")
      .outputMode("append").start()
    try {
      mem.addData(evRows.take(4): _*)
      q.processAllAvailable()
      mem.addData(evRows.drop(4): _*)
      q.processAllAvailable()
      // advance the watermark far past every session end to flush them all
      mem.addData((99L, 99L, t(10000), 0.0))
      q.processAllAvailable()
      val got = spark.table("sv_sessions")
        .as[(Long, Long, Timestamp, Timestamp, Long)].collect().toSet
        .filter(_._1 != 99L)
      val want = graft.ops.Sessions.sessionStats(
          evRows.toDF("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "event_id", "value", gapSeconds = 30L)
        .select("user_id", "n_events", "start_ts", "end_ts", "sum_value_c")
        .as[(Long, Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(got == want)
      assert(want.size == 4, "expected two sessions per user")
      // session state is bounded by OPEN sessions: after the flush the
      // store holds only the watermark-unexpired flush session
      val prog = q.lastProgress
      assert(prog != null && prog.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("segment ingest replay: a batch re-run after its own append reproduces the original output") {
    import spark.implicits._
    // ops-level simulation of foreachBatch's at-least-once contract:
    // batch 1's index append COMMITS, the stream dies before the batch
    // commit, batch 1 replays in full (probe + append + sink). Without
    // the bid guard the replayed probe sees batch 1's own vocabulary as
    // "old" and rewrites every doc to empty text.
    val idx = java.nio.file.Files.createTempDirectory("graft_replay").toString + "/idx"
    val b0 = Seq((0L, "a1 a2 a3 b1 b2 b3")).toDF("doc_id", "text")
    graft.ops.Dedup.segmentAppendIndex(b0, "doc_id", "text", idx, width = 3, bid = 0L)
    val b1 = Seq((1L, "a1 a2 a3 c1 c2 c3")).toDF("doc_id", "text")
    def runB1() = graft.ops.Dedup.segmentIncrementalRewrite(spark, idx, b1,
        "doc_id", "text", width = 3, maxBid = Some(1L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val original = runB1()
    assert(original == Set((1L, "c1 c2 c3", 1L)), s"batch 1 loses A to batch 0: $original")
    graft.ops.Dedup.segmentAppendIndex(b1, "doc_id", "text", idx, width = 3, bid = 1L)
    // the replayed probe runs AFTER its own append landed
    val replayed = runB1()
    assert(replayed == original,
      s"replay must reproduce the original output, got $replayed")
    // the replayed append is an inert duplicate...
    graft.ops.Dedup.segmentAppendIndex(b1, "doc_id", "text", idx, width = 3, bid = 1L)
    // ...and batch 2 still sees batch 1's vocabulary as old, exactly once
    val b2 = Seq((2L, "c1 c2 c3 e1 e2 e3")).toDF("doc_id", "text")
    val out2 = graft.ops.Dedup.segmentIncrementalRewrite(spark, idx, b2,
        "doc_id", "text", width = 3, maxBid = Some(2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(out2 == Set((2L, "e1 e2 e3", 1L)), s"$out2")
  }
}
