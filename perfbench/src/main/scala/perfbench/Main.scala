package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The latency of one operation inside a round, by kind. */
final case class Op(kind: String, seconds: Double)

/** What one closed-loop round completed. */
final case class Round(rows: Long, ops: Seq[Op])

/** A benchmark workload. A fresh instance is made for every set-up. */
trait Workload {
  /** Generate the seeded inputs under `dir` (parquet, before any timing)
    * and seed whatever state the workload needs. */
  def setup(s: SparkSession, dir: String, seed: Long): Unit

  /** One unit of closed-loop work; the next starts when it returns. */
  def round(s: SparkSession, t: Tracer): Round

  /** Rounds the timed phase runs even when `--seconds` have passed. */
  def minRounds: Int = 1

  /** Output checks that do not go through the code under test. Returns
    * the failures; inputs for the DuckDB checks are written under
    * `checkDir`. */
  def check(s: SparkSession, checkDir: String): Seq[String]

  /** Sizes the generator produced. */
  def generated: Map[String, Long]

  /** Deterministic counters for the traced run. */
  def counters(s: SparkSession): Map[String, Double] = Map.empty

  /** The spans a traced round must record; a missing one fails the run
    * rather than reading as zero. */
  def spans: Seq[String]
}

/** Runs one workload: set-up three times (each in a fresh Spark session;
  * the median is `setup_s`), then rounds until `--seconds` have passed
  * and at least the workload's `minRounds` ran, then the output checks.
  * Writes `result.json` into the work directory.
  *
  * The set-ups warm the JVM and Spark, but run none of the workload's
  * plans: the timed phase is a batch job that pays its plans' first-run
  * compilation every time it is launched, as a user's job does. `wall_s`
  * is the timed phase over the rounds run. There are no untimed warm
  * rounds: on a 4-vCPU VM whose speed drifted by up to 2x over seconds
  * to minutes, they cost a third of a run without making runs agree
  * better, and a run must stay near a minute.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <workDir> */
object Main {
  val SetupReps = 3

  def workload(name: String): Workload = name match {
    case "ehr_pipeline" => new EhrPipeline
    case "corpus_index" => new CorpusIndex
    case other => throw new IllegalArgumentException(s"no workload $other")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** graft.Bench's calibration expression (xxhash64 over a range, min of
    * three), over 1/300 of Bench's range so it fits the run. */
  def calib(s: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    s.range(10000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, samples), or None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) None
    else Some((s(n - 11), 100.0 * (n - 10) / n, n))
  }

  def main(argv: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, coresS, work) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val cores = coresS.toInt
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val tracer = new Tracer(traced)

    // set-up, three times; the last instance is the one timed
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      w = workload(name)
      w.setup(spark, s"$work/setup$rep", seed)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val calibS = calib(spark)
    val sc = spark.sparkContext
    val listener = new JobListener(traced)
    sc.addSparkListener(listener)
    listener.quiesce(sc)
    listener.reset()
    tracer.clear()

    // timed phase: closed loop, one client
    val walls = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    var rows = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val cpuBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < seconds || walls.length < w.minRounds) &&
        failed == 0) {
      val r0 = System.nanoTime()
      try {
        val r = w.round(spark, tracer)
        walls += (System.nanoTime() - r0) / 1e9
        rows += r.rows
        ops ++= r.ops
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"round ${walls.length + 1}: $e"
          e.printStackTrace()
      }
    }
    val wallTotal = elapsed
    val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    listener.quiesce(sc)
    val layers =
      if (!traced) Map.empty[String, Double]
      else Attribution.metrics(tracer.recorded, listener, walls.length,
        wallTotal, cores) ++ w.counters(spark)
    if (traced && failed == 0) {
      val seen = tracer.recorded.map(_.name).toSet
      errors ++= w.spans.filterNot(seen).map(n => s"trace: no span $n")
    }
    val peakMb = listener.peakTaskMem / 1048576.0
    sc.removeSparkListener(listener)

    val tCheck = System.nanoTime()
    val checkFailures =
      if (failed > 0) Seq("not checked: a round failed")
      else try w.check(spark, s"$work/check")
      catch { case e: Throwable => e.printStackTrace(); Seq(s"check: $e") }
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val attempted = walls.length + failed

    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map {
      case (k, os) =>
        val xs = os.map(_.seconds).toSeq
        k -> Json.obj(
          "n" -> xs.length,
          "p50_s" -> median(xs),
          "tail_s" -> tail(xs).map(_._1),
          "tail_pct" -> tail(xs).map(_._2))
    }
    val env = Json.obj(
      "nproc" -> cores,
      "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> os.getSystemLoadAverage,
      "calib_s" -> calibS,
      "spark" -> spark.version)
    val result = Json.obj(
      "workload" -> name,
      "seed" -> seed,
      "traced" -> traced,
      "rounds" -> walls.length,
      "round_walls_s" -> walls.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "check_failures" -> checkFailures,
      "setup_reps_s" -> setupTimes.toSeq,
      "phases_s" -> Json.obj("setup" -> setupTimes.sum,
        "timed" -> wallTotal, "check" -> checkS),
      "e2e" -> Json.obj(
        "setup_s" -> median(setupTimes.toSeq),
        "wall_s" -> wallTotal / math.max(1, walls.length),
        "rows_per_s" -> rows / wallTotal,
        "peak_task_mem_mb" -> peakMb,
        "process_cpu_s" -> cpuS / math.max(1, walls.length)),
      "timed_s" -> wallTotal,
      "rows" -> rows,
      "ops" -> Json.obj(byKind: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1): _*),
      "generated" -> Json.obj(w.generated.toSeq.sortBy(_._1): _*),
      "input_dir" -> s"$work/setup$SetupReps",
      "env" -> env)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/result.json"), result.render)
    spark.stop()
  }
}

/** Just enough JSON to write the result file. */
final case class Json(render: String)

object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case j: Json => j.render
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(kv: (String, Any)*): Json =
    Json(kv.map { case (k, v) => value(k) + ":" + value(v) }
      .mkString("{", ",", "}"))
}
