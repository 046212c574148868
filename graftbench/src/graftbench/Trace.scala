package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `op` is the operation it ran under (-1 for
  * set-up), `parent` the enclosing span's id (-1 for none). Times are
  * nanoseconds on the epoch clock, so they line up with Spark's events.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int)

/** One Spark job, attributed through the `graftbench.op` local property. */
final class JobRec(val op: Int, val start: Long) {
  var end: Long = start
  var tasks = 0L; var failedTasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L
}

/** One operation of the timed phase, as the driver loop saw it. */
final case class OpRec(id: Int, kind: String, cls: OpClass, start: Long,
                       end: Long, ok: Boolean, traced: Boolean) {
  def secs: Double = (end - start) / 1e9
}

/** The traced mode: spans around each call into a layer's public
  * function, a `SparkListener` for jobs and tasks, and a
  * `QueryExecutionListener` for Catalyst's phase times. Everything is
  * kept in memory and summarised once, after the timed phase. With
  * tracing off nothing is installed and `span` only runs its body.
  */
object Trace {
  val OpProp = "graftbench.op"

  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = baseNs + System.nanoTime()

  /** Spans are recorded while `on`; `op` is the current operation id. */
  var on = false
  var op: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = now()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, name, s, now(), parent, op)
      }
    }

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  /** (phase, start ns, end ns) of every action Catalyst planned. */
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val actions = mutable.ArrayBuffer.empty[Long]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toInt).getOrElse(Int.MinValue)
      val j = new JobRec(op, e.time * 1000000L)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.synchronized {
      val ps = qe.tracker.phases
      ps.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
      }
      actions += ps.values.map(_.startTimeMs * 1000000L).minOption
        .getOrElse(now())
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
  }

  /** Marks the operations run on this thread from now on as `id`
    * (traced) or as untraced (`id < 0` clears the property).
    */
  def begin(spark: SparkSession, id: Int, traced: Boolean): Unit = {
    on = traced
    op = if (traced) id else -1
    spark.sparkContext.setLocalProperty(OpProp,
      if (traced) id.toString else null)
  }

  /** Spark and Catalyst numbers of the traced operations, keyed by the
    * per-layer metric names. Time and count metrics are per traced
    * operation; `*_s` metrics of the layer spans are per call.
    */
  def summarise(spark: SparkSession, ops: Seq[OpRec]): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val traced = ops.filter(_.traced)
    val n = math.max(traced.length, 1).toDouble
    val byOp: Map[Int, Seq[JobRec]] =
      Jobs.synchronized(jobs.values.toSeq).groupBy(_.op)
    val phaseList = Trace.synchronized(phases.toSeq)
    val actionList = Trace.synchronized(actions.toSeq)
    val spanList = spans.toSeq.filter(_ != null)
    def within(s: Long, a: Long, b: Long) = s >= a && s <= b
    val opJobs = traced.map(o => o -> byOp.getOrElse(o.id, Nil))
    val opPhases = traced.map(o =>
      o -> phaseList.filter(p => within(p._2, o.start, o.end)))
    def sumJobs(f: JobRec => Double): Double =
      opJobs.map(_._2.map(f).sum).sum
    def phase(name: String): Double =
      opPhases.map(_._2.filter(_._1 == name).map(p => (p._3 - p._2) / 1e9).sum)
        .sum / n
    val frontEnd = Set("lang.run", "lang.parse", "dsl.build", "sources.load")
    val gaps = traced.map { o =>
      val covered = opJobs.find(_._1 eq o).get._2.map(j => (j.start, j.end)) ++
        opPhases.find(_._1 eq o).get._2.map(p => (p._2, p._3)) ++
        spanList.filter(s => s.op == o.id && frontEnd(s.name))
          .map(s => (s.start, s.end))
      (o.end - o.start - Intervals.covered(covered, o.start, o.end)) / 1e9
    }
    val langRuns = spanList.filter(s => s.name == "lang.run" && s.op >= 0)
    val allJobs = byOp.values.flatten.toSeq
    val langSelf = langRuns.map { s =>
      val under = spanList.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
        allJobs.filter(_.op == s.op).map(j => (j.start, j.end)) ++
        phaseList.map(p => (p._2, p._3))
      (s.end - s.start - Intervals.covered(under, s.start, s.end)) / 1e9
    }
    val eager = langRuns.map(s =>
      allJobs.count(j => j.op == s.op && within(j.start, s.start, s.end))).sum
    val busy = traced.map(o => Intervals.covered(
      opJobs.find(_._1 eq o).get._2.map(j => (j.start, j.end)), o.start, o.end)
      / 1e9).sum
    val opSecs = traced.map(_.secs).sum
    // calls made by timed operations when there are any, else the
    // set-up's calls (table builds and loads happen only there)
    def perCall(name: String): Double = {
      val all = spanList.filter(_.name == name)
      val xs = if (all.exists(_.op >= 0)) all.filter(_.op >= 0) else all
      if (xs.isEmpty) 0.0 else xs.map(s => (s.end - s.start) / 1e9).sum / xs.length
    }
    val spanMetrics = Seq("lang.parse", "lang.run", "dsl.build",
      "sources.load", "sources.write_keyed", "sources.upsert",
      "sources.append_delta", "sources.delete", "sources.maintain",
      "sources.lookup", "sources.read_where", "sources.mv_refresh",
      "sources.mv_route", "sources.vacuum", "ext.dedup_exact",
      "ext.dedup_near", "ext.index_append", "ext.search")
      .map(s => s"${s}_s" -> perCall(s))
    val commits = traced.filter(_.cls == OpClass.Commit)
    val lookups = traced.filter(_.kind == "lookup")
    Map(
      "lang.self_s" -> (if (langRuns.isEmpty) 0.0 else langSelf.sum / langRuns.length),
      "lang.eager_jobs" -> (if (langRuns.isEmpty) 0.0 else eager.toDouble / langRuns.length),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.actions" -> traced.map(o =>
        actionList.count(a => within(a, o.start, o.end))).sum / n,
      "spark.jobs" -> sumJobs(_ => 1.0) / n,
      "spark.tasks" -> sumJobs(_.tasks.toDouble) / n,
      "spark.job_busy_s" -> busy / n,
      "spark.task_cpu_s" -> sumJobs(_.cpuNs / 1e9) / n,
      "spark.gc_s" -> sumJobs(_.gcMs / 1e3) / n,
      "spark.input_bytes" -> sumJobs(_.inputBytes.toDouble) / n,
      "spark.shuffle_read_bytes" -> sumJobs(_.shuffleRead.toDouble) / n,
      "spark.shuffle_write_bytes" -> sumJobs(_.shuffleWrite.toDouble) / n,
      "spark.spill_bytes" -> sumJobs(_.spill.toDouble) / n,
      "spark.failed_tasks" -> sumJobs(_.failedTasks.toDouble) / n,
      "driver.gap_s" -> gaps.sum / n,
      "driver.gap_share" -> (if (opSecs > 0) gaps.sum / opSecs else 0.0),
      "sources.jobs_per_commit" -> (if (commits.isEmpty) 0.0 else
        commits.map(o => byOp.getOrElse(o.id, Nil).length).sum.toDouble /
          commits.length),
      "sources.lookup_input_bytes" -> (if (lookups.isEmpty) 0.0 else
        lookups.map(o => byOp.getOrElse(o.id, Nil).map(_.inputBytes).sum)
          .sum.toDouble / lookups.length)
    ) ++ spanMetrics
  }
}

object Intervals {
  /** Length of the union of `xs`, clipped to [a, b]. */
  def covered(xs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = xs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
