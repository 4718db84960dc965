package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import scala.collection.mutable

/** One timed call into a module. `phase` is "build" (construction: the
  * call itself and the eager jobs it issues), "plan" or "exec" (the
  * final plan and execution of a result). */
final case class Span(name: String, phase: String, startMs: Long,
    endMs: Long, nanos: Long)

/** Task metrics summed over one stage's tasks. */
final class TaskAgg {
  var tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
}

/** Counts jobs and task metrics. Untraced runs keep only the peak task
  * execution memory (an end-to-end metric); traced runs keep per-stage
  * sums and each job's submission time, for attribution to spans. */
final class JobListener(traced: Boolean) extends SparkListener {
  val jobSubmitMs = mutable.Map.empty[Int, Long]
  val jobsEnded = mutable.Set.empty[Int]
  val stageJob = mutable.Map.empty[Int, Int]
  val stageAgg = mutable.Map.empty[Int, TaskAgg]
  @volatile var peakTaskMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (traced) synchronized {
      jobSubmitMs(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (traced) synchronized { jobsEnded += e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      if (traced) {
        val a = stageAgg.getOrElseUpdate(e.stageId, new TaskAgg)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def reset(): Unit = synchronized {
    jobSubmitMs.clear(); jobsEnded.clear(); stageJob.clear()
    stageAgg.clear(); peakTaskMem = 0L
  }

  /** Block until every delivered job start has its end. The bus is
    * asynchronous, so drain it first; then wait out any end event still
    * in flight. */
  def quiesce(sc: SparkContext): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    val deadline = System.currentTimeMillis() + 30000
    while (synchronized(jobSubmitMs.size != jobsEnded.size) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

/** Records spans around the benchmark's calls into the program. A Spark
  * job belongs to the innermost span whose wall interval contains its
  * submission time: job groups are thread-local and would miss jobs
  * submitted from other threads (DatasetPreprocessor.fit's futures,
  * AnnIndex.writeAll's pool). With tracing off, `span` only runs the
  * body. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String, phase: String = "build")(body: => A): A =
    if (!on) body
    else {
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally spans.synchronized {
        spans += Span(name, phase, ms, System.currentTimeMillis(),
          System.nanoTime() - t0)
      }
    }

  def add(s: Span): Unit = if (on) spans.synchronized { spans += s }

  def clear(): Unit = spans.synchronized(spans.clear())

  def recorded: Seq[Span] = spans.synchronized(spans.toList)

  /** Plan `df`, then execute it to the end, evaluating every row and
    * column (what a noop sink does) without planning it a second time. */
  def terminal(name: String, df: DataFrame): Unit = {
    val qe = span(name, "plan") {
      val q = df.queryExecution
      q.executedPlan
      q
    }
    span(name, "exec") {
      SQLExecution.withNewExecutionId(qe, Some(name)) {
        qe.executedPlan.execute().foreach(_ => ())
      }
    }
  }
}

/** Per-layer metrics from one traced timed phase: every span name gets
  * `.build_s` and `.jobs` per round, plus `.task_s` when its calls ran
  * jobs; terminal spans get `.plan_s`, `.exec_s`, `.shuffle_mb` and
  * `.spill_mb`. Session-wide `spark.*` totals are per round too, except
  * `spark.busy_frac`. */
object Attribution {
  def metrics(spans: Seq[Span], l: JobListener, rounds: Int,
      wallS: Double, cores: Int): Map[String, Double] = l.synchronized {
    val per = 1.0 / math.max(1, rounds)
    val mb = 1.0 / (1 << 20)
    // innermost containing span: latest start, then shortest
    val sorted = spans.sortBy(s => (-s.startMs, s.endMs))
    def owner(t: Long): Option[Span] =
      sorted.find(s => s.startMs <= t && t <= s.endMs)
    val jobOwner: Map[Int, Option[Span]] =
      l.jobSubmitMs.map { case (j, t) => j -> owner(t) }.toMap
    val jobAgg = mutable.Map.empty[Int, TaskAgg]
    l.stageAgg.foreach { case (stage, a) =>
      l.stageJob.get(stage).foreach { j =>
        val b = jobAgg.getOrElseUpdate(j, new TaskAgg)
        b.tasks += a.tasks; b.runMs += a.runMs; b.cpuNs += a.cpuNs; b.gcMs += a.gcMs
        b.shuffleBytes += a.shuffleBytes; b.spillBytes += a.spillBytes
      }
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    spans.groupBy(_.name).foreach { case (name, ss) =>
      val mine = jobOwner.collect { case (j, Some(s)) if s.name == name => j }
      val agg = mine.flatMap(jobAgg.get)
      val taskS = agg.map(_.runMs).sum / 1000.0
      def secs(phase: String) =
        ss.filter(_.phase == phase).map(_.nanos).sum / 1e9
      out(s"$name.jobs") = mine.size * per
      if (ss.exists(_.phase == "build")) out(s"$name.build_s") =
        secs("build") * per
      if (ss.exists(_.phase != "build")) {
        out(s"$name.plan_s") = secs("plan") * per
        out(s"$name.exec_s") = secs("exec") * per
        out(s"$name.shuffle_mb") = agg.map(_.shuffleBytes).sum * mb * per
        out(s"$name.spill_mb") = agg.map(_.spillBytes).sum * mb * per
      }
      if (mine.nonEmpty) out(s"$name.task_s") = taskS * per
    }
    val all = jobAgg.values
    val taskS = all.map(_.runMs).sum / 1000.0
    val execJobs = jobOwner.count(_._2.exists(_.phase == "exec"))
    val planS = spans.filter(_.phase == "plan").map(_.nanos).sum / 1e9
    val execS = spans.filter(_.phase == "exec").map(_.nanos).sum / 1e9
    out("spark.jobs") = jobOwner.size * per
    out("spark.exec_jobs") = execJobs * per
    out("spark.build_jobs") = (jobOwner.size - execJobs) * per
    out("spark.plan_s") = planS * per
    out("spark.exec_s") = execS * per
    out("spark.build_s") = (wallS - planS - execS) * per
    out("spark.tasks") = all.map(_.tasks).sum * per
    out("spark.task_s") = taskS * per
    out("spark.cpu_s") = all.map(_.cpuNs).sum / 1e9 * per
    out("spark.gc_s") = all.map(_.gcMs).sum / 1000.0 * per
    out("spark.shuffle_mb") = all.map(_.shuffleBytes).sum * mb * per
    out("spark.spill_mb") = all.map(_.spillBytes).sum * mb * per
    out("spark.busy_frac") = taskS / math.max(1e-9, wallS * cores)
    out.toMap
  }
}
