package perfbench

import graft.ops.{AnnIndex, TextIndex}
import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.util.Random

/** The BM25 index lifecycle, from an empty directory each run: seed the
  * index with generated documents, apply CDC snapshot 0 directly (a
  * second batch directory plus staged pending updates: the mid-day
  * store), answer one search on that store, then drain snapshot 1 as one
  * micro-batch of the maintenance stream, which folds the index once
  * `CompactEvery` batch directories exist. Snapshots hold fresh-id
  * inserts, updates (delete, then the new text at a higher seq) and
  * deletes, and are written by set-up. */
final class Bm25Lifecycle {
  val SeedDocs = 1000
  val CompactEvery = 3
  val TopK = 20
  private val (inserts, updates, deletes) = (50, 20, 10)

  private var dir: String = _
  private var seedDocs: IndexedSeq[(Long, String)] = _
  private var snaps: IndexedSeq[Seq[Gen.Cdc]] = _
  private var rng: Random = _
  private var runs = 0
  private var engineMs = 0.0
  private var folds = 0
  private var drains = 0
  private var batches = 0
  private var lastRoot: String = _
  /** Every run's (query, answer) on the mid-day store, for the check. */
  private val answers = mutable.ArrayBuffer.empty[(String, Seq[(Long, Double)])]
  private val timedQueries = mutable.ArrayBuffer.empty[String]

  val spans: Seq[String] = Seq("ops.TextIndex.save",
    "ops.TextIndex.applyCdc", "ops.TextIndex.search",
    "ops.TextIndex.search.collect", "streaming.bm25MaintenanceStream",
    "streaming.bm25Batch")

  def generated: Map[String, Long] = Map(
    "bm25_seed_documents" -> SeedDocs.toLong,
    "bm25_snapshot_rows" -> snaps.map(_.size.toLong).sum)

  /** Rows one run indexes: the seed, both snapshots and the query. */
  def rowsPerRun: Long = SeedDocs + snaps.map(_.size.toLong).sum + 1

  def setup(s: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    seedDocs = Gen.docs(seed, SeedDocs, firstId = 100000L)
      .map(d => d.id -> d.text)
    val r = new Random(seed)
    val live = mutable.ArrayBuffer(seedDocs.map(_._1): _*)
    var next = 100000L + SeedDocs
    def text() = Seq.fill(30 + r.nextInt(61))(Gen.word(r)).mkString(" ")
    snaps = (0 until 2).map { _ =>
      val picked = r.shuffle(live.indices.toList).take(updates + deletes)
        .map(live)
      val (upd, del) = picked.splitAt(updates)
      val ins = (0 until inserts).map(_ => { next += 1; next - 1 })
      live --= del
      live ++= ins
      upd.flatMap(id => Seq(Gen.Cdc(id, None, "delete", 0),
          Gen.Cdc(id, Some(text()), "insert", 1))) ++
        del.map(id => Gen.Cdc(id, None, "delete", 0)) ++
        ins.map(id => Gen.Cdc(id, Some(text()), "insert", 0))
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/bm25"))
    snaps.zipWithIndex.foreach { case (rows, i) =>
      Gen.writeSnapshot(s"$dir/bm25/snap$i.parquet", rows)
    }
    Gen.writeParquet(s"$dir/bm25/seed.parquet",
        "required int64 doc_id; required binary text (UTF8);", seedDocs) {
      (g, d) => g.append("doc_id", d._1).append("text", d._2)
    }
    rng = new Random(seed + 11)
  }

  /** 1–3 query terms drawn from a random live document, so terms come
    * with the corpus term frequencies. */
  private def query(r: Random, corpus: Map[Long, String]): String = {
    val texts = corpus.toSeq.sortBy(_._1).map(_._2)
    val toks = texts(r.nextInt(texts.length)).split(" ")
    Seq.fill(1 + r.nextInt(3))(toks(r.nextInt(toks.length))).distinct
      .mkString(" ")
  }

  /** TextIndex.save of the seed, then snapshot 0 as one applyCdc. */
  private def seedIndex(s: SparkSession, root: String, t: Tracer): Unit = {
    t.span("ops.TextIndex.save")(TextIndex.save(root,
      s.read.parquet(s"$dir/bm25/seed.parquet"), "doc_id", "text"))
    t.span("ops.TextIndex.applyCdc") {
      val s0 = s.read.parquet(s"$dir/bm25/snap0.parquet")
      val dels = s0.filter(col("op") === "delete").select("doc_id")
      val arr = s0.filter(col("op") =!= "delete").select("doc_id", "text")
      TextIndex.applyCdc(s, root, dels,
        arr.join(dels, Seq("doc_id"), "left_semi"),
        arr.join(dels, Seq("doc_id"), "left_anti"), "doc_id", "text")
    }
  }

  def run(s: SparkSession, t: Tracer): Seq[Op] = {
    val root = s"$dir/bm25/run$runs"
    runs += 1
    lastRoot = s"$root/index"
    val t0 = System.nanoTime()
    seedIndex(s, lastRoot, t)
    val t1 = System.nanoTime()
    val q = query(rng, corpus(1))
    val res = t.span("ops.TextIndex.search")(
      TextIndex.search(s, lastRoot, q, TopK))
    val rows = t.span("ops.TextIndex.search.collect", "exec")(res.collect())
    answers += q -> rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq
    if (t.on) timedQueries += q
    val t2 = System.nanoTime()
    Seq(Op("bm25_seed", (t1 - t0) / 1e9),
      Op("bm25_search", (t2 - t1) / 1e9)) ++ drain(s, t, root)
  }

  /** Drop snapshot 1 into the stream's input and drain it (AvailableNow,
    * one file per micro-batch); the micro-batch's trigger time is its
    * latency. */
  private def drain(s: SparkSession, t: Tracer, root: String): Seq[Op] = {
    import java.nio.file.{Files, Paths}
    val dst = Paths.get(s"$root/in/1.parquet")
    Files.createDirectories(dst.getParent)
    Files.copy(Paths.get(s"$dir/bm25/snap1.parquet"), dst)
    val gen0 = AnnIndex.currentGen(s, lastRoot)
    val q = t.span("streaming.bm25MaintenanceStream") {
      val in = s.readStream
        .schema("doc_id LONG, text STRING, op STRING, seq LONG")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      val q = StreamOps.bm25MaintenanceStream(in, "doc_id", "text",
          lastRoot, compactEvery = CompactEvery, opCol = "op",
          seqCol = "seq")
        .option("checkpointLocation", s"$root/checkpoint")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    folds += AnnIndex.currentGen(s, lastRoot) - gen0
    drains += 1
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val trig = p.durationMs.get("triggerExecution").longValue
      val add = Option(p.durationMs.get("addBatch")).map(_.longValue)
        .getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      t.add(Span("streaming.bm25Batch", "build", start, start + trig,
        trig * 1000000L))
      engineMs += trig - add
      batches += 1
      Op("bm25_batch", trig / 1000.0)
    }
  }

  /** Postings a query matches: stored rows of live documents plus the
    * pending texts' query-time postings. */
  private def matchedPostings(s: SparkSession, root: String,
      q: String): Long = {
    val terms = q.split(" ").toSeq
    val parts = AnnIndex.load(s, root)._1
    val stored = parts("postings").filter(col("term").isin(terms: _*))
      .join(parts("deleted"), Seq("doc_id"), "left_anti").count()
    val pending = parts("pending")
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term").isin(terms: _*)).distinct().count()
    stored + pending
  }

  /** Counters of the traced run: the last run's store layout after its
    * micro-batch, postings the timed queries match on a rebuilt mid-day
    * store (mean per query), and per micro-batch engine time (trigger
    * minus addBatch) and folds. */
  def counters(s: SparkSession): Map[String, Double] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(lastRoot))
    val sizes =
      try files.filter(p => java.nio.file.Files.isRegularFile(p))
        .map[java.lang.Long](p => java.nio.file.Files.size(p)).toArray
        .map(_.asInstanceOf[java.lang.Long].longValue)
      finally files.close()
    val store = AnnIndex.open(s, lastRoot)
    val perBatch = 1.0 / math.max(1, batches)
    val midDay = s"$dir/bm25/counters/index"
    seedIndex(s, midDay, new Tracer(false))
    val matched = timedQueries.map(matchedPostings(s, midDay, _)).sum
    Map(
      "ops.store.batches" -> store.maxBatches.toDouble,
      "ops.store.files" -> sizes.length.toDouble,
      "ops.store.bm25_mb" -> sizes.sum / 1048576.0,
      "ops.store.pending_rows" -> store.parts("pending").count().toDouble,
      "ops.TextIndex.search.matched_postings" ->
        matched.toDouble / math.max(1, timedQueries.size),
      "streaming.bm25Batch.engine_ms" -> engineMs * perBatch,
      "streaming.bm25Batch.folds" -> folds * perBatch)
  }

  /** The corpus after the first `n` snapshots: per snapshot, deletes
    * first, then the highest-seq arrival per id. */
  private def corpus(n: Int): Map[Long, String] =
    snaps.take(n).foldLeft(seedDocs.toMap) { (m, rows) =>
      (m -- rows.filter(_.op == "delete").map(_.id)) ++ arrivals(rows)
    }

  private def arrivals(rows: Seq[Gen.Cdc]): Map[Long, String] =
    rows.filter(_.op != "delete").groupBy(_.id).map {
      case (id, rs) => id -> rs.maxBy(_.seq).text.get
    }

  /** Inputs of the DuckDB BM25 check. Every run's answer on the mid-day
    * store, whose statistics still count each appended text (deletes
    * leave N and df until a fold; a pending update counts beside the
    * version it replaces) and whose scored documents are the live ones;
    * and one answer on the last run's store after its micro-batch, which
    * must have folded, so both are the drained corpus. Fails when a
    * drain did not fold. */
  def check(s: SparkSession, checkDir: String): Seq[String] = {
    import s.implicits._
    val mid: Seq[(Long, String)] = seedDocs ++ arrivals(snaps(0))
    val done = corpus(2).toSeq
    val q = query(new Random(runs), corpus(2))
    val rows = TextIndex.search(s, lastRoot, q, TopK).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val cases = Seq(("mid", mid, corpus(1).toSeq, answers.toSeq),
      ("folded", done, done, Seq(q -> rows)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkDir))
    val json = cases.map { case (name, stats, live, as) =>
      stats.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/bm25_${name}_stats.parquet")
      live.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/bm25_${name}_live.parquet")
      Json.obj("name" -> name, "k" -> TopK, "answers" -> as.map {
        case (q, rows) => Json.obj("query" -> q, "ids" -> rows.map(_._1),
          "scores" -> rows.map(_._2))
      })
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$checkDir/bm25_cases.json"),
      Json.value(json.toSeq))
    if (folds == drains) Nil
    else Seq(s"bm25: $folds folds in $drains micro-batch drains, " +
      "expected one per drain")
  }
}
