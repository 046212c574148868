package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{Row, SparkSession}

sealed trait OpClass
object OpClass {
  /** Reads only: point lookups, scans, routed aggregates, searches. */
  case object Read extends OpClass
  /** Publishes a manifest commit. */
  case object Commit extends OpClass
  case object Other extends OpClass
}

/** One operation of the closed loop. `run` is timed and keeps the output;
  * `post` runs untimed right after it and checks that output against the
  * generator's model, returning the reason when it is wrong.
  */
final case class Op(kind: String, cls: OpClass, run: () => Unit,
                    post: () => Option[String] = () => None)

/** A statement whose result DuckDB must reproduce: `rows` is what the
  * engine returned for operation `op`.
  */
final case class SqlCheck(op: Int, sql: String, ordered: Boolean,
                          rows: Seq[Seq[Any]])

trait Workload {
  /** Builds the inputs and tables under `dir` from the seed. Called
    * several times, each time on a fresh `dir`; the last call's tables
    * are the ones the timed phase uses.
    */
  def build(dir: String): Unit
  /** Runs every operation template once on the last build. */
  def warmUp(): Unit
  /** Operations in one cycle: every template once. */
  def cycle: Int
  /** Length of one cycle on the baseline machine (4 cores, C2 JIT); it
    * turns `--seconds` into a whole number of cycles.
    */
  def cycleSeconds: Double
  /** Operation `i` of the timed phase. */
  def next(i: Int): Op
  /** Operations run once after the last cycle, still timed. */
  def closing(): Seq[Op] = Nil
  /** Checks run after the timed phase: (operation id, reason) per failure. */
  def check(): Seq[(Int, String)]
  def sqlChecks: Seq[SqlCheck] = Nil
  /** Where the parquet tables the SQL checks read live. */
  def tablesDir: String = ""
  /** Workload-level numbers: amplification, routing and recall counts. */
  def extra(ops: Seq[OpRec]): Map[String, Double] = Map.empty
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String,
                      tiny: Boolean, corrupt: Boolean)

object Main {
  /** Units of every metric the benchmark prints. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "op_p50_s" -> "s",
    "op_tail_s" -> "s", "read_p50_s" -> "s", "heap_peak_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "lang.parse_s" -> "s", "lang.run_s" -> "s", "lang.self_s" -> "s",
    "lang.eager_jobs" -> "count", "lang.template_seen_share" -> "ratio",
    "lang.text_seen_share" -> "ratio",
    "dsl.build_s" -> "s", "sources.load_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.actions" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.failed_tasks" -> "count",
    "driver.gap_s" -> "s", "driver.gap_share" -> "ratio",
    "sources.write_keyed_s" -> "s", "sources.upsert_s" -> "s",
    "sources.append_delta_s" -> "s", "sources.delete_s" -> "s",
    "sources.maintain_s" -> "s", "sources.lookup_s" -> "s",
    "sources.read_where_s" -> "s", "sources.mv_refresh_s" -> "s",
    "sources.mv_route_s" -> "s", "sources.vacuum_s" -> "s",
    "sources.jobs_per_commit" -> "count", "sources.files_written" -> "count",
    "sources.bytes_written" -> "bytes", "sources.files_live" -> "count",
    "sources.lookup_input_bytes" -> "bytes",
    "sources.mv_route_hits" -> "count", "sources.mv_route_attempts" -> "count",
    "ext.dedup_exact_s" -> "s", "ext.dedup_near_s" -> "s",
    "ext.index_append_s" -> "s", "ext.search_s" -> "s",
    "ext.near_candidates" -> "count", "ext.near_kept" -> "count",
    "ext.near_precision" -> "ratio", "ext.planted_recall" -> "ratio",
    "commit_p50_s" -> "s", "commit_tail_s" -> "s", "read_tail_s" -> "s",
    "write_amp" -> "ratio", "space_amp" -> "ratio",
    "trace.ops_per_s_off" -> "1/s", "trace.ops_per_s_on" -> "1/s",
    "trace.overhead" -> "ratio")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"),
      m.get("tiny").contains("1"), m.get("corrupt").contains("1"))
  }

  def session(work: String, tiny: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", if (tiny) 2 else cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** A result cell as a JSON value: dates and timestamps as their text. */
  def cell(v: Any): Any = v match {
    case d: java.util.Date => d.toString
    case d: java.time.temporal.Temporal => d.toString
    case r: Row => r.toSeq.map(cell)
    case other => other
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest value (the largest when there are fewer than 11).
    * Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted; val n = s.length
      val i = math.max(n - 11, 0)
      (s(if (n >= 11) i else n - 1), if (n >= 11) 100.0 * (n - 10) / n else 100.0)
    }

  /** Largest heap in use right after any GC while `armed`. */
  object Heap {
    @volatile var armed = false
    @volatile var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (armed && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          if (used > peak) peak = used
        }
    }
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(_.asInstanceOf[NotificationEmitter]
        .addNotificationListener(listener, null, null))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val spark = session(a.work, a.tiny)
    val sessionReady = Trace.now()
    Heap.install()
    if (a.trace) Trace.install(spark)
    val gen = Gen(a.seed, a.tiny)
    val wl: Workload = a.workload match {
      case "lang_interactive" => new LangWorkload(spark, gen)
      case "olap_scan" => new OlapWorkload(spark, gen)
      case "keyed_lifecycle" => new KeyedWorkload(spark, gen, a.corrupt)
      case "corpus_ingest" => new CorpusWorkload(spark, gen, a.corrupt)
      case w => sys.error(s"unknown workload $w")
    }
    // set-up: the table build repeats on fresh directories (its median
    // counts), then the warm-up; traced runs trace both as
    // operation -1 so one-off layer calls (table builds) are measured
    Trace.on = a.trace
    Trace.op = -1
    def timed(body: => Unit): Double = {
      val t0 = Trace.now(); body; (Trace.now() - t0) / 1e9
    }
    val setupReps = if (a.tiny) 1 else 3
    val buildTimes = (0 until setupReps).map(r => timed(wl.build(s"${a.work}/rep$r")))
    val warmS = timed(wl.warmUp())
    Trace.on = false
    // the timed phase starts from a full collection, which the heap peak
    // counts, so a phase too short for any other GC still has its live heap
    Heap.peak = 0L
    Heap.armed = true
    System.gc()

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val errors = mutable.ArrayBuffer.empty[(Int, String)]
    var checkNs = 0L
    def runOp(op: Op, i: Int): Unit = {
      // whole cycles alternate, so traced and untraced ops have one mix
      val traced = a.trace && (i / wl.cycle) % 2 == 1
      Trace.begin(spark, i, traced)
      val t0 = Trace.now()
      val ok =
        try { op.run(); true }
        catch {
          case e: Exception =>
            errors += ((i, s"${op.kind} threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
            false
        }
      ops += OpRec(i, op.kind, op.cls, t0, Trace.now(), ok, traced)
      Trace.begin(spark, -1, traced = false)
      val c0 = Trace.now()
      if (ok) op.post().foreach(m => errors += ((i, s"${op.kind}: $m")))
      checkNs += Trace.now() - c0
    }
    // a fixed amount of work: the whole cycles that take `seconds` at the
    // baseline's speed, so every run (and every commit compared) has the
    // same operation mix and sample count
    val cycles = math.max(1L, math.round(a.seconds / wl.cycleSeconds)).toInt
    var i = 0
    while (i < cycles * wl.cycle) { runOp(wl.next(i), i); i += 1 }
    wl.closing().foreach { op => runOp(op, i); i += 1 }
    Heap.armed = false

    val checkFails = wl.check()
    val failedIds = (errors.map(_._1) ++ checkFails.map(_._1)).toSet
    val good = ops.toSeq.filter(o => o.ok && !failedIds(o.id))
    val wall = (ops.last.end - ops.head.start) / 1e9
    def lat(sel: Seq[OpRec]) = sel.map(_.secs)
    // end-to-end figures come from untraced operations only
    val plain = good.filter(!_.traced)
    val (tailV, tailP) = tail(lat(plain))
    val setupS = (sessionReady - jvmStart) / 1e9 + median(buildTimes) + warmS
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> setupS,
        // one closed-loop client: completed operations per second of the
        // client's busy time (checks and input generation between
        // operations are excluded and reported in the summary)
        "ops_per_s" -> good.length / ops.map(_.secs).sum,
        "op_p50_s" -> median(lat(plain)),
        "op_tail_s" -> tailV,
        "read_p50_s" -> median(lat(plain.filter(_.cls == OpClass.Read))),
        "heap_peak_mb" -> Heap.peak / 1048576.0)
      else {
        val on = ops.filter(_.traced); val off = ops.filter(!_.traced)
        def rate(xs: Seq[OpRec]) =
          if (xs.isEmpty) 0.0 else xs.length / xs.map(_.secs).sum
        val commits = lat(plain.filter(_.cls == OpClass.Commit))
        val reads = lat(plain.filter(_.cls == OpClass.Read))
        val layer = Trace.summarise(spark, ops.toSeq) ++ wl.extra(ops.toSeq) ++
          Map(
            "commit_p50_s" -> median(commits),
            "commit_tail_s" -> tail(commits)._1,
            "read_tail_s" -> tail(reads)._1,
            "trace.ops_per_s_off" -> rate(off.toSeq),
            "trace.ops_per_s_on" -> rate(on.toSeq),
            "trace.overhead" ->
              (if (rate(on.toSeq) > 0) rate(off.toSeq) / rate(on.toSeq) - 1 else 0.0))
        perLayer.map { case (k, _) => k -> layer.getOrElse(k, 0.0) }.toMap
      }
    val units = (if (a.trace) perLayer else endToEnd).toMap
    val kinds = ops.groupBy(_.kind).map { case (k, xs) =>
      k -> Map("n" -> xs.length, "p50_s" -> median(lat(xs.toSeq)),
        "ms" -> xs.map(o => math.round(o.secs * 1000)).toSeq)
    }
    val out = Map(
      "attempted" -> ops.length,
      "failed_ops" -> failedIds.toSeq.sorted,
      "errors" -> (errors ++ checkFails).map { case (id, m) => s"op $id: $m" }
        .take(50),
      "metrics" -> units.map { case (k, u) => k -> Map("value" -> metrics(k), "unit" -> u) },
      "summary" -> Map(
        "wall_s" -> wall,
        "between_op_checks_s" -> checkNs / 1e9,
        "tail_percentile" -> tailP,
        "tail_samples" -> plain.length,
        "build_reps_s" -> buildTimes,
        "warm_up_s" -> warmS,
        "session_start_s" -> (sessionReady - jvmStart) / 1e9,
        "kinds" -> kinds),
      "tables_dir" -> wl.tablesDir,
      "sql_checks" -> wl.sqlChecks.map(c => Map(
        "op" -> c.op, "sql" -> c.sql, "ordered" -> c.ordered,
        "rows" -> c.rows.map(_.map(cell)))))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a.out), out)
    spark.stop()
  }
}
