package graft

import graft.streaming.StreamOps
// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured-Streaming operators driven through MemoryStream → memory
  * sink — a real incremental execution, not a batch shortcut. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def event(t: String, subj: Long, typ: String, v: Double) =
    (subj, ts(t), typ, v)

  test("windowedTypeStats: tumbling window counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val df = input.toDF()
      .toDF("subject_id", "timestamp", "event_type", "value")
    val out = StreamOps.windowedTypeStats(df, "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        event("2024-01-01 00:01:00", 1, "A", 1.0),
        event("2024-01-01 00:02:00", 2, "A", 3.0),
        event("2024-01-01 00:11:00", 1, "B", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats")
        .select("win_start", "event_type", "n", "avg_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts("2024-01-01 00:00:00"), "A", 2L, 2.0)))
      assert(rows.contains((ts("2024-01-01 00:10:00"), "B", 1L, 5.0)))
    } finally q.stop()
  }

  test("taskWindowsStream: stream-stream interval join selects in-window " +
    "events per task row") {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Timestamp, String, Double)]
    val tkIn = MemoryStream[(Long, Timestamp, Timestamp, String)]
    val events = evIn.toDF()
      .toDF("subject_id", "timestamp", "event_type", "value")
    val tasks = tkIn.toDF()
      .toDF("task_subject_id", "start_time", "end_time", "label")
    val out = StreamOps.taskWindowsStream(events, tasks,
      maxTaskWindow = "1 hour")
      .select(col("task_subject_id"), col("label"), col("event_type"))
    val q = out.writeStream.format("memory").queryName("task_join")
      .outputMode(OutputMode.Append()).start()
    try {
      tkIn.addData(
        (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"), "w1"),
        (2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), "w2"))
      evIn.addData(
        event("2024-01-01 00:10:00", 1, "A", 1.0), // in w1
        event("2024-01-01 00:40:00", 1, "B", 1.0), // after w1 end → out
        event("2024-01-01 00:40:00", 2, "C", 1.0), // in w2
        event("2024-01-01 00:10:00", 3, "D", 1.0)) // no task → out
      q.processAllAvailable()
      val rows = spark.table("task_join")
        .as[(Long, String, String)].collect().toSet
      assert(rows == Set((1L, "w1", "A"), (2L, "w2", "C")))
    } finally q.stop()
  }

  test("batch-fit Preprocessor params transform a STREAM: the fit state " +
    "is broadcast-joinable local relations, so transform is stateless " +
    "and binds to readStream unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import graft.preprocess.Preprocessor
    // fit on a static train frame (mean 2.0, std 1.0 for key 'hr')
    val train = Seq(("hr", 1.0), ("hr", 2.0), ("hr", 3.0))
      .toDF("key", "value")
    val fit = Preprocessor.fit(train, "key", "value",
      Preprocessor.Config(
        minValidVocabElementObservations = None,
        minTrueFloatFrequency = None,
        minUniqueNumericalObservations = None,
        maxNumericalValueFrequency = None,
        normalizer = Some("std")))
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("key", "value")
    val out = Preprocessor.transform(stream, "key", "value", fit)
      .select(col("key"), col("value"), col("value_norm"), col("key_idx"))
    val q = out.writeStream.format("memory").queryName("stream_norm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("hr", 4.0), ("hr", 2.0), ("unknown", 9.0))
      q.processAllAvailable()
      val rows = spark.table("stream_norm")
        .as[(String, Double, Option[Double], Int)].collect().toSet
      assert(rows.contains(("hr", 4.0, Some(2.0), 1)))  // (4-2)/1
      assert(rows.contains(("hr", 2.0, Some(0.0), 1)))
      // unseen key: value nulled (reference :1408), UNK index
      assert(rows.contains(("unknown", 9.0, None, 0)))
    } finally q.stop()
  }

  test("dedupStream: first arrival of a fingerprint passes, later " +
    "duplicates drop (whitespace/case-jittered)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamOps.dedupStream(df, "text", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), "Hello  World"),
        (2L, ts("2024-01-01 00:01:00"), "hello world"),
        (3L, ts("2024-01-01 00:02:00"), "something else"))
      q.processAllAvailable()
      input.addData(
        (4L, ts("2024-01-01 00:03:00"), "  HELLO\tWORLD "),
        (5L, ts("2024-01-01 00:04:00"), "fresh content"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L, 5L)) // 2 and 4 are dups of 1
    } finally q.stop()
  }

  test("enrichStream: stream-static broadcast join enriches per " +
    "micro-batch; missing dim keys keep the event with nulls") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val df = input.toDF().toDF("event_id", "user_id", "etype")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = StreamOps.enrichStream(df, dim, "user_id")
    val q = out.writeStream.format("memory").queryName("enrich_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((10L, 1L, "click"), (11L, 3L, "view"))
      q.processAllAvailable()
      input.addData((12L, 2L, "click"))
      q.processAllAvailable()
      val got = spark.table("enrich_stream")
        .select("event_id", "tier").as[(Long, Option[String])]
        .collect().toMap
      // user 3 has no dim row → survives with a null tier
      assert(got == Map(10L -> Some("gold"), 11L -> None,
        12L -> Some("basic")))
    } finally q.stop()
  }

  test("sessionize: gap-based session windows per subject") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val df = input.toDF()
      .toDF("subject_id", "timestamp", "event_type", "value")
    val out = StreamOps.sessionize(df, "5 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        event("2024-01-01 00:00:00", 1, "A", 1.0),
        event("2024-01-01 00:03:00", 1, "A", 2.0), // same session
        event("2024-01-01 01:00:00", 1, "A", 4.0)) // new session
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("subject_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((1L, 2L, 3.0), (1L, 1L, 4.0)))
    } finally q.stop()
  }

  test("cmsSketch aggregates a stream: running token-frequency grid " +
    "at fixed state size, batch-equivalent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val df = input.toDF().toDF("text")
    val out = df.agg(graft.expressions.AggregateFunctions
      .cmsSketch(org.apache.spark.sql.functions.col("text"),
        graft.ops.Sketch.defaultBases, 64).as("sk"))
    val q = out.writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData("the cat sat", "on the mat")
      q.processAllAvailable()
      input.addData("the dog sat") // second micro-batch merges into state
      q.processAllAvailable()
      val streamed = spark.table("cms_stream")
        .selectExpr("sk").as[Seq[Long]].collect().head
      val batch = Seq("the cat sat", "on the mat", "the dog sat")
        .toDF("text")
        .agg(graft.expressions.AggregateFunctions
          .cmsSketch(org.apache.spark.sql.functions.col("text"),
            graft.ops.Sketch.defaultBases, 64).as("sk"))
        .selectExpr("sk").as[Seq[Long]].collect().head
      assert(streamed == batch) // incremental merge == one-shot batch
      assert(streamed.sum == 4 * 9) // 9 tokens counted in each hash row
    } finally q.stop()
  }

  test("runningSubjectStats: mapGroupsWithState accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SubjectEvent]
    val out = StreamOps.runningSubjectStats(input.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(StreamOps.SubjectEvent(1L,
        ts("2024-01-01 00:00:00"), "A", 10.0))
      q.processAllAvailable()
      input.addData(StreamOps.SubjectEvent(1L,
        ts("2024-01-01 00:05:00"), "A", 20.0))
      q.processAllAvailable()
      // state persisted across micro-batches: n=2, mean=15
      val last = spark.table("running")
        .orderBy(desc("n_events")).limit(1)
        .select("n_events", "mean_value").as[(Long, Double)]
        .collect().head
      assert(last == ((2L, 15.0)))
    } finally q.stop()
  }

  test("closedSessions: flatMapGroupsWithState emits finalized sessions " +
    "only, holds the open one across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SubjectEvent]
    val out = StreamOps.closedSessions(input.toDS(),
      gapMs = 5 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("closed_sess")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        StreamOps.SubjectEvent(1L, ts("2024-01-01 00:00:00"), "A", 1.0),
        StreamOps.SubjectEvent(1L, ts("2024-01-01 00:02:00"), "A", 2.0))
      q.processAllAvailable()
      // session still open — nothing emitted
      assert(spark.table("closed_sess").count() == 0)
      // next batch: event 2h later closes the first session
      input.addData(
        StreamOps.SubjectEvent(1L, ts("2024-01-01 02:00:00"), "A", 7.0))
      q.processAllAvailable()
      val rows = spark.table("closed_sess")
        .select("subject_id", "sess_start", "sess_end", "n_events",
          "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(rows == Seq((1L, ts("2024-01-01 00:00:00").getTime,
        ts("2024-01-01 00:02:00").getTime, 2L, 3.0)))
      // the 02:00 event is the new open session — not emitted yet.
      // A cross-batch LATE event far older than the open session must
      // NOT be absorbed into it: it's emitted as its own closed session.
      input.addData(
        StreamOps.SubjectEvent(1L, ts("2024-01-01 01:00:00"), "A", 0.5))
      q.processAllAvailable()
      val late = spark.table("closed_sess")
        .filter(col("sess_start") === ts("2024-01-01 01:00:00").getTime)
        .select("n_events", "sum_value").as[(Long, Double)]
        .collect().toSeq
      assert(late == Seq((1L, 0.5)))
      // an event at EXACTLY last+gap merges (session_window merges
      // touching windows; a new session needs delta strictly > gap)
      input.addData(
        StreamOps.SubjectEvent(1L, ts("2024-01-01 02:05:00"), "A", 1.0))
      q.processAllAvailable()
      assert(spark.table("closed_sess").count() == 2) // nothing new closed
      input.addData(
        StreamOps.SubjectEvent(1L, ts("2024-01-01 03:00:00"), "A", 1.0))
      q.processAllAvailable()
      val merged = spark.table("closed_sess")
        .filter(col("sess_start") === ts("2024-01-01 02:00:00").getTime)
        .select("n_events").as[Long].collect().toSeq
      assert(merged == Seq(2L))
    } finally q.stop()
  }

  test("decontaminateBatch via foreachBatch: contaminated docs dropped " +
      "per micro-batch against the static eval set") {
    implicit val sqlCtx = spark.sqlContext
    val evalStatic = Seq((100L,
      "the secret benchmark answer is forty two exactly")).toDF(
      "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val scrub = StreamOps.decontaminateBatch(evalStatic, "doc_id",
      "text", n = 5)
    val q = docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        kept.synchronized {
          kept ++= scrub(batch).select("doc_id")
            .collect().map(_.getLong(0))
        }
        ()
    }.start()
    try {
      input.addData(
        (1L, "clean document with completely original content here"),
        (2L, "leaky doc quoting the secret benchmark answer is forty " +
          "two exactly verbatim"))
      q.processAllAvailable()
      input.addData(
        (3L, "another clean one arriving in a later micro batch"),
        (4L, "secret benchmark answer is forty two repeated elsewhere"))
      q.processAllAvailable()
      kept.synchronized { assert(kept.toSet == Set(1L, 3L)) }
    } finally q.stop()
  }

  test("incrementalDedupStream: store seeds kill stream copies, " +
      "earlier batches kill later ones, store accumulates survivors") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-incr")
    val storePath = root.resolve("store").toString
    val outPath = root.resolve("out").toString
    // seed store with the prior snapshot {alpha}
    graft.ops.Dedup.fingerprintStore(
        Seq((0L, "alpha")).toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(storePath)
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.incrementalDedupStream(
        input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", storePath, outPath)
      .start()
    try {
      // batch 1: alpha dies (store), beta keeps min id 2, gamma keeps
      input.addData((1L, "alpha"), (2L, "beta"), (5L, "beta"),
        (3L, "gamma"))
      q.processAllAvailable()
      // batch 2: beta dies (batch-1 survivor), delta keeps
      input.addData((7L, "beta"), (8L, "delta"))
      q.processAllAvailable()
      val kept = spark.read.parquet(outPath)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(2L, 3L, 8L))
      // store now holds alpha + the three survivors' fingerprints
      assert(spark.read.parquet(storePath).count() == 4)
    } finally q.stop()
  }

  test("semanticDedupStream: per-bucket greedy keeper — near-dups of a " +
    "KEPT vector drop, cross-bucket lookalikes don't, state spans batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Array[Double])]
    val df = input.toDF().toDF("vec_id", "bucket", "vec")
    val out = StreamOps.semanticDedupStream(df, "vec_id", "vec",
      "bucket", threshold = 0.9, maxKeptPerBucket = 2)
    val q = out.writeStream.format("memory").queryName("sem_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val a = Array(1.0, 0.0, 0.0)
      val aJit = Array(0.99, 0.05, 0.0) // cos(a, aJit) ≈ 0.999
      val b = Array(0.0, 1.0, 0.0)
      val c = Array(0.0, 0.0, 1.0)
      // batch 1: a kept, its jitter dropped (same bucket), the SAME
      // jitter in ANOTHER bucket kept (LSH scoping), b kept
      input.addData((1L, 10L, a), (2L, 10L, aJit), (3L, 20L, aJit),
        (4L, 10L, b))
      q.processAllAvailable()
      // batch 2: state persisted — a-dup still drops; c is novel but
      // the bucket's keeper set is FULL (cap 2: a, b) → kept=true,
      // not remembered; a later c-dup therefore ALSO passes
      input.addData((5L, 10L, aJit), (6L, 10L, c))
      q.processAllAvailable()
      input.addData((7L, 10L, Array(0.0, 0.01, 1.0)))
      q.processAllAvailable()
      val got = spark.table("sem_dedup")
        .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> true,
        4L -> true, 5L -> false, 6L -> true, 7L -> true))
    } finally q.stop()
  }

  test("incrementalMomentsStream: state merged across micro-batches is " +
    "bit-identical to a one-pass batch fit over everything") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Double])]
    val df = input.toDF().toDF("vec_id", "vec")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-moments-stream").toString + "/state"
    val q = StreamOps.incrementalMomentsStream(df, "vec", statePath)
      .start()
    try {
      val r = new scala.util.Random(41)
      val all = (0L until 30L).map(i =>
        (i, Array.fill(3)(r.nextGaussian() * 2)))
      input.addData(all.take(11))
      q.processAllAvailable()
      input.addData(all.slice(11, 17))
      q.processAllAvailable()
      input.addData(all.drop(17))
      q.processAllAvailable()
      val streamed = graft.ops.Linalg.statsFromLatticeState(
        spark.read.parquet(statePath))
        .as[(Long, Long, Double, Double)].collect().toSet
      val batch = graft.ops.Linalg.statsFromLatticeState(
        graft.ops.Linalg.momentsLatticeState(
          all.toDF("vec_id", "vec"), "vec"))
        .as[(Long, Long, Double, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.forall(_._2 == 30L)) // every dim saw all rows
    } finally q.stop()
  }

  test("semanticDedupStream: in-batch walk is id-ascending (canonical " +
    "greedy chain regardless of arrival order)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Array[Double])]
    val df = input.toDF().toDF("vec_id", "bucket", "vec")
    val out = StreamOps.semanticDedupStream(df, "vec_id", "vec",
      "bucket", threshold = 0.9)
    val q = out.writeStream.format("memory").queryName("sem_dedup_ord")
      .outputMode(OutputMode.Append()).start()
    try {
      // added high-id first; the walk must still keep id 1 and drop 9;
      // a null-vector row drops instead of NPEing the greedy walk
      input.addData((9L, 5L, Array(1.0, 0.01)), (1L, 5L, Array(1.0, 0.0)),
        (4L, 5L, null.asInstanceOf[Array[Double]]))
      q.processAllAvailable()
      val got = spark.table("sem_dedup_ord")
        .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(got == Map(1L -> true, 9L -> false))
    } finally q.stop()
  }

  test("semanticDedupStream: dim-mismatched and empty vectors pass " +
    "through kept=true instead of crashing the state walk") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Array[Double])]
    val df = input.toDF().toDF("vec_id", "bucket", "vec")
    val out = StreamOps.semanticDedupStream(df, "vec_id", "vec",
      "bucket", threshold = 0.9)
    val q = out.writeStream.format("memory").queryName("sem_dedup_dim")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: an EMPTY first row must not pin dim=0 for the bucket;
      // the 2-d rows that follow establish dim and dedup normally
      input.addData((1L, 5L, Array.empty[Double]),
        (2L, 5L, Array(1.0, 0.0)), (3L, 5L, Array(1.0, 0.01)))
      q.processAllAvailable()
      // batch 2: a SHORTER vector quarantines (kept=true, no state
      // write) while a same-dim dup still drops against the keeper
      input.addData((4L, 5L, Array(0.5)), (5L, 5L, Array(1.0, 0.02)))
      q.processAllAvailable()
      val got = spark.table("sem_dedup_dim")
        .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(got == Map(1L -> true, 2L -> true, 3L -> false,
        4L -> true, 5L -> false))
    } finally q.stop()
  }

  test("semanticDedupStream: expectedDim pins the dim a priori — an " +
    "aberrant-length FIRST arrival quarantines instead of disabling " +
    "dedup for every correct row after it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Array[Double])]
    val df = input.toDF().toDF("vec_id", "bucket", "vec")
    val out = StreamOps.semanticDedupStream(df, "vec_id", "vec",
      "bucket", threshold = 0.9, expectedDim = 2)
    val q = out.writeStream.format("memory").queryName("sem_dedup_pin")
      .outputMode(OutputMode.Append()).start()
    try {
      // the 3-d FIRST row is the aberrant one: it quarantines
      // (kept=true, never enters state) and the correct 2-d rows
      // behind it still dedup — under pin-from-first the 3-d row
      // would have pinned dim=3 and quarantined 2/3 forever
      input.addData((1L, 5L, Array(1.0, 0.0, 0.0)),
        (2L, 5L, Array(1.0, 0.0)), (3L, 5L, Array(1.0, 0.01)))
      q.processAllAvailable()
      val got = spark.table("sem_dedup_pin")
        .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(got == Map(1L -> true, 2L -> true, 3L -> false))
    } finally q.stop()
  }

  test("annIndexMaintenanceStream: micro-batched inserts + appends " +
    "leave the persisted index identical to a from-scratch build over " +
    "everything that arrived; re-arrivals are ignored") {
    import graft.ops.{AnnIndex, Hnsw}
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Double] = {
      val c = i % 8
      Array.tabulate(8)(j =>
        (if (j == c) 1.0 else 0.0) + math.sin(i * 7.31 + j) * 0.05)
    }
    val vecsA = (0 until 160).map(i => (i.toLong, vec(i)))
      .toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-stream").toString + "/idx"
    Hnsw.saveIndex(dir, vecsA, "id", "v", 9, 2, 6, 2, bf)
    val input = MemoryStream[(Long, Array[Double])]
    val df = input.toDF().toDF("id", "v")
    val q = StreamOps.annIndexMaintenanceStream(df, "id", "v", dir,
      9, 2, 6, 2, bf).start()
    try {
      input.addData((160 until 180).map(i => (i.toLong, vec(i))))
      q.processAllAvailable()
      // second batch includes a RE-ARRIVAL of id 160 (dropped) and
      // fresh ids
      // includes a re-arrival of id 160 AND an in-batch duplicate of 199
      input.addData(Seq((160L, vec(160)), (199L, vec(199))) ++
        (180 until 200).map(i => (i.toLong, vec(i))))
      q.processAllAvailable()
      val (parts, _) = AnnIndex.load(spark, dir)
      val all = (0 until 200).map(i => (i.toLong, vec(i)))
        .toDF("id", "v")
      val want = Hnsw.buildKnn(all, "id", "v", 9, 2, 6, 2, bf)
        .collect().map(_.toSeq).toSet
      assert(parts("knn").select("lvl", "src", "dst", "c")
        .collect().map(_.toSeq).toSet == want)
      // vectors part holds each id exactly once (overlap dropped)
      val ids = parts("vectors").select("id").as[Long].collect()
      assert(ids.length == 200 && ids.toSet == (0L until 200L).toSet)
    } finally q.stop()
  }

  test("annIndexMaintenanceStream compactEvery: the loop folds the " +
    "batch list back to 1 and the compacted index still equals the " +
    "from-scratch build") {
    import graft.ops.{AnnIndex, Hnsw}
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Double] = {
      val c = i % 8
      Array.tabulate(8)(j =>
        (if (j == c) 1.0 else 0.0) + math.sin(i * 7.31 + j) * 0.05)
    }
    val vecsA = (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-compact-stream").toString + "/idx"
    // membership-bearing seed: the stream runs the INDEXED probes and
    // the ledger-aware fold (Hnsw.compactIndex)
    Hnsw.saveIndex(dir, vecsA, "id", "v", 9, 2, 6, 2, bf)
    val input = MemoryStream[(Long, Array[Double])]
    val df = input.toDF().toDF("id", "v")
    // compactEvery=2: every append takes the index to 2 batches, so
    // EVERY micro-batch triggers a fold — the maximally-stressed cadence
    val q = StreamOps.annIndexMaintenanceStream(df, "id", "v", dir,
      9, 2, 6, 2, bf, compactEvery = 2).start()
    try {
      input.addData((120 until 140).map(i => (i.toLong, vec(i))))
      q.processAllAvailable()
      assert(AnnIndex.maxBatches(spark, dir) == 1,
        "first micro-batch should have compacted 2 batches -> 1")
      input.addData((140 until 160).map(i => (i.toLong, vec(i))))
      q.processAllAvailable()
      assert(AnnIndex.maxBatches(spark, dir) == 1)
      val (parts, _) = AnnIndex.load(spark, dir)
      val all = (0 until 160).map(i => (i.toLong, vec(i)))
        .toDF("id", "v")
      val want = Hnsw.buildKnn(all, "id", "v", 9, 2, 6, 2, bf)
        .collect().map(_.toSeq).toSet
      assert(parts("knn").select("lvl", "src", "dst", "c")
        .collect().map(_.toSeq).toSet == want)
      val ids = parts("vectors").select("id").as[Long].collect()
      assert(ids.length == 160 && ids.toSet == (0L until 160L).toSet)
      // params and keys survive the fold (a subsequent CDC delete
      // would still find a keyed vectors part)
      val (_, params) = AnnIndex.load(spark, dir)
      assert(params("kind") == "hnsw" && params("seed") == "9")
      // no leftover temp dir from the swap
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir-compacting")))
    } finally q.stop()
  }

  test("annIndexMaintenanceStream CDC mode: deletes and updates ride " +
    "the same stream — final persisted index equals the from-scratch " +
    "build over the surviving id→vector state") {
    import graft.ops.{AnnIndex, Hnsw}
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Double] = {
      val c = i % 8
      Array.tabulate(8)(j =>
        (if (j == c) 1.0 else 0.0) + math.sin(i * 7.31 + j) * 0.05)
    }
    val vecsA = (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-cdc").toString + "/idx"
    // membership-bearing seed: deletes/updates ride the INDEXED
    // probes (deleteKnnDeltaIndexed + the mb/th deletion ledger)
    Hnsw.saveIndex(dir, vecsA, "id", "v", 9, 2, 6, 2, bf)
    val input = MemoryStream[(Long, Array[Double], String)]
    val df = input.toDF().toDF("id", "v", "op")
    val q = StreamOps.annIndexMaintenanceStream(df, "id", "v", dir,
      9, 2, 6, 2, bf, opCol = "op").start()
    try {
      // batch 1: delete ids 0..9, insert 120..139
      input.addData(
        (0 until 10).map(i => (i.toLong, null.asInstanceOf[Array[Double]],
          "delete")) ++
        (120 until 140).map(i => (i.toLong, vec(i), "insert")))
      q.processAllAvailable()
      // batch 2: UPDATE id 50 (delete + re-insert with a NEW vector,
      // same micro-batch) and insert 140..149
      input.addData(
        Seq((50L, null.asInstanceOf[Array[Double]], "delete"),
          (50L, vec(999), "insert")) ++
        (140 until 150).map(i => (i.toLong, vec(i), "insert")))
      q.processAllAvailable()
      val (parts, _) = AnnIndex.load(spark, dir)
      // surviving state: A minus 0..9, with 50 remapped to vec(999),
      // plus 120..149
      val want = ((10 until 120).map(i =>
          (i.toLong, if (i == 50) vec(999) else vec(i))) ++
        (120 until 150).map(i => (i.toLong, vec(i))))
        .toDF("id", "v")
      val wantKnn = Hnsw.buildKnn(want, "id", "v", 9, 2, 6, 2, bf)
        .collect().map(_.toSeq).toSet
      assert(parts("knn").select("lvl", "src", "dst", "c")
        .collect().map(_.toSeq).toSet == wantKnn)
      // vectors part resolved: no deleted id, id 50 carries the NEW
      // vector, each id exactly once
      val got = parts("vectors").as[(Long, Array[Double])].collect()
      assert(got.length == 140)
      val byId = got.toMap
      assert(!(0L until 10L).exists(byId.contains))
      assert(byId(50L).toSeq == vec(999).toSeq)
    } finally q.stop()
  }
}
