package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SparkEntry}

/** Closed-loop, one-client load generator for the graft engine.
  *
  * Usage: PerfBench <exec|plan> <dataDir> <outDir> <seed> <passes> <trace 0|1>
  *          <cores> <q1,q2,...>
  *
  * Set-up (untimed): session, then one check pass over the queries in
  * seeded order, which also fills the JVM-wide generated-class cache the way
  * a long-lived session would have; each query's output column names and,
  * for exec, its collected rows go to `outDir/check/<query>.json` for the
  * oracle compare. Timed: `passes` whole passes, each in a fresh seeded
  * order. A sample runs from the
  * `SparkEntry.queries` build call until the last row reaches the noop sink
  * (exec) or until `executedPlan` returns (plan). `Graft.init` runs before
  * and `Graft.releaseCaches` after every sample, outside it; cached RDD
  * bytes are read just before the release.
  *
  * With trace=1 every call into a layer is a span (name, start, end,
  * parent, query), jobs are tagged with a job group naming their span, and
  * task metrics, planning-tracker phases, graft rule time, codegen compiles
  * and GC time are recorded; everything is written once, after the last
  * pass, as JSON lines.
  */
object PerfBench {

  final case class Span(id: Int, parent: Int, name: String, query: String, pass: Int,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long)

  def main(args: Array[String]): Unit = {
    val Array(mode, dataDir, outDir, seedS, passesS, traceS, coresS, queryList) = args
    val plan = mode == "plan"
    val seed = seedS.toLong
    val trace = traceS == "1"
    val names = queryList.split(",").toSeq
    val cores = coresS.toInt
    val out = new File(outDir)
    out.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      // static conf: the default 100-entry generated-class cache cannot hold
      // the classes of a whole pass, so the warm pass would not stay warm
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionMs = System.currentTimeMillis()

    val tracer = new Tracer(trace, sc)
    if (trace) {
      sc.addSparkListener(tracer.jobs)
      spark.listenerManager.register(tracer.qes)
    }
    val fns = SparkEntry.queries
    val queries = names.map(n => n -> fns(n))

    // ---- set-up: check pass, which is also the warm pass ----
    val checkDir = new File(out, "check")
    checkDir.mkdirs()
    spark.range(1).write.format("noop").mode("overwrite").save()
    val checkLog = new PrintWriter(new File(out, "check.jsonl"))
    for ((name, fn) <- order(queries, seed, 0)) {
      checkLog.println(checkOne(spark, name, fn, dataDir, checkDir, plan))
      Graft.releaseCaches(spark)
    }
    checkLog.close()
    writeText(new File(out, "oracle_sql.json"), Json.obj(SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }.map { case (k, v) => k -> Json.str(v) }))
    val checkDoneMs = System.currentTimeMillis()

    // ---- timed passes ----
    val qlog = new PrintWriter(new File(out, "queries.jsonl"))
    val plog = new PrintWriter(new File(out, "passes.jsonl"))
    val firstTimedMs = System.currentTimeMillis()
    for (pass <- 1 to passesS.toInt) {
      val c0 = compiles(); val cms0 = compileMs(); val g0 = gcMs()
      val p0 = System.nanoTime(); val pMs0 = System.currentTimeMillis()
      for (((name, fn), idx) <- order(queries, seed, pass).zipWithIndex) {
        val rules0 = if (trace) graftRuleNs() else 0L
        val root = tracer.open("query", name, pass, -1)
        tracer.span("graft.init", name, pass, root)(Graft.init(spark))
        var ok = true
        var err = ""
        var exch = (0, 0)
        var phases = Map.empty[String, Long]
        val s0 = System.nanoTime()
        try {
          val df = tracer.span("operators.build", name, pass, root)(fn(spark, dataDir))
          if (plan) {
            val p = tracer.span("plans.plan", name, pass, root)(df.queryExecution.executedPlan)
            if (trace) {
              exch = PlanStats.exchanges(p)
              phases = PlanStats.phases(df.queryExecution)
            }
          } else {
            tracer.span("exec", name, pass, root)(
              df.write.format("noop").mode("overwrite").save())
            if (trace) phases = PlanStats.phases(df.queryExecution)
          }
        } catch {
          case NonFatal(e) => ok = false; err = String.valueOf(e.getMessage).take(300)
        }
        val ms = (System.nanoTime() - s0) / 1e6
        val (rdds, bytes) = tracer.span("cache.read", name, pass, root)(
          SparkInternals.cachedRdds(sc))
        tracer.span("graft.release", name, pass, root)(Graft.releaseCaches(spark))
        tracer.close(root)
        val rulesNs = if (trace) graftRuleNs() - rules0 else 0L
        qlog.println(Json.obj(Map(
          "pass" -> pass.toString, "idx" -> idx.toString, "query" -> Json.str(name),
          "ms" -> ms.toString, "ok" -> ok.toString, "error" -> Json.str(err),
          "cached_rdds" -> rdds.toString, "cached_bytes" -> bytes.toString,
          "graft_rules_ns" -> rulesNs.toString,
          "exchanges" -> exch._1.toString, "reused_exchanges" -> exch._2.toString,
          "df_phases_ms" -> Json.obj(phases.map { case (k, v) => k -> v.toString }))))
      }
      plog.println(Json.obj(Map(
        "pass" -> pass.toString,
        "wall_ms" -> ((System.nanoTime() - p0) / 1e6).toString,
        "start_ms" -> pMs0.toString, "end_ms" -> System.currentTimeMillis().toString,
        "compiles" -> (compiles() - c0).toString,
        "compile_ms" -> math.max(0.0, compileMs() - cms0).toString,
        "gc_ms" -> (gcMs() - g0).toString)))
    }
    qlog.close(); plog.close()
    writeText(new File(out, "setup.json"), Json.obj(Map(
      "session_ready_ms" -> sessionMs.toString, "check_done_ms" -> checkDoneMs.toString,
      "first_timed_ms" -> firstTimedMs.toString, "cores" -> cores.toString)))
    if (trace) {
      SparkInternals.drainListeners(sc)
      tracer.write(out)
    }
    spark.stop()
  }

  /** Run one query of the check pass and dump its output column names and,
    * for exec, its collected rows as JSON; returns the check record. */
  private def checkOne(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
                       dataDir: String, checkDir: File, plan: Boolean): String = {
    val c0 = System.nanoTime()
    val rec = try {
      val df = fn(Graft.init(spark), dataDir)
      val cols = Json.arr(df.schema.fieldNames.toSeq.map(Json.str))
      if (plan) {
        df.queryExecution.executedPlan
        writeText(new File(checkDir, s"$name.json"), s"""{"columns": $cols}""")
        Map("ok" -> "true", "rows" -> "-1")
      } else {
        val rows = df.collect()
        val w = new PrintWriter(new File(checkDir, s"$name.json"))
        try {
          w.println(s"""{"columns": $cols, "rows": [""")
          w.print(rows.map(r => Json.arr(r.toSeq.map(Json.value))).mkString(",\n"))
          w.println("]}")
        } finally w.close()
        Map("ok" -> "true", "rows" -> rows.length.toString)
      }
    } catch {
      case NonFatal(e) =>
        Map("ok" -> "false", "rows" -> "-1",
          "error" -> Json.str(String.valueOf(e.getMessage).take(500)))
    }
    Json.obj(rec ++ Map("query" -> Json.str(name),
      "ms" -> ((System.nanoTime() - c0) / 1e6).toString))
  }

  /** The queries of pass `pass` in a seeded order (pass 0 is the check pass). */
  private def order[T](qs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(qs)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compile time: the histogram keeps a decaying sample, so the
    * running total is estimated as count x sample mean. */
  private def compileMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Total optimizer time (ns) spent in graft's own rules so far, read from
    * the RuleExecutor meter's per-rule dump. */
  private def graftRuleNs(): Long =
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim)
      .filter(_.startsWith("graft."))
      .map(_.split("\\s+"))
      .collect { case Array(_, _, "/", total, _*) => total.toLong }
      .sum

  private def writeText(f: File, s: String): Unit = {
    val w = new PrintWriter(f)
    try w.print(s) finally w.close()
  }

  /** Spans, job tags, per-job task metrics and planning trackers; a no-op
    * when tracing is off. */
  final class Tracer(enabled: Boolean, sc: org.apache.spark.SparkContext) {
    private val spans = ArrayBuffer.empty[Span]
    private val open_ = scala.collection.mutable.Map.empty[Int, Span]
    private var next = 0

    def open(name: String, query: String, pass: Int, parent: Int): Int = {
      if (!enabled) return -1
      next += 1
      open_(next) = Span(next, parent, name, query, pass, System.nanoTime(), 0L,
        System.currentTimeMillis(), 0L)
      next
    }

    def close(id: Int): Unit = if (enabled) {
      val s = open_.remove(id).get
      spans += s.copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
    }

    def span[T](name: String, query: String, pass: Int, parent: Int)(f: => T): T = {
      if (!enabled) return f
      val id = open(name, query, pass, parent)
      sc.setJobGroup(s"pb:$id", name, interruptOnCancel = false)
      try f finally { sc.clearJobGroup(); close(id) }
    }

    val jobs = new JobListener
    val qes = new QeListener

    def write(dir: File): Unit = {
      val w = new PrintWriter(new File(dir, "spans.jsonl"))
      for (s <- spans) w.println(Json.obj(Map(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "query" -> Json.str(s.query), "pass" -> s.pass.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString)))
      w.close()
      val j = new PrintWriter(new File(dir, "jobs.jsonl"))
      for (a <- jobs.all) j.println(a.json)
      j.close()
      val q = new PrintWriter(new File(dir, "qes.jsonl"))
      for (line <- qes.all) q.println(line)
      q.close()
    }
  }

  final class JobAgg(val jobId: Int, val group: String, val submitMs: Long) {
    var endMs = 0L; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    def json: String = Json.obj(Map(
      "job" -> jobId.toString, "group" -> Json.str(Option(group).getOrElse("")),
      "submit_ms" -> submitMs.toString, "end_ms" -> endMs.toString,
      "stages" -> stages.toString, "tasks" -> tasks.toString,
      "run_ms" -> runMs.toString, "cpu_ns" -> cpuNs.toString, "gc_ms" -> gcMs.toString,
      "input_bytes" -> inBytes.toString, "input_rows" -> inRows.toString,
      "shuffle_write_bytes" -> shWrite.toString, "shuffle_read_bytes" -> shRead.toString,
      "fetch_wait_ms" -> fetchWaitMs.toString, "spill_bytes" -> spill.toString))
  }

  /** Per-job aggregates of task metrics; events arrive on one listener
    * thread, so the mutable aggregates need no locking. */
  final class JobListener extends SparkListener {
    private val byJob = new ConcurrentHashMap[Int, JobAgg]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    def all: Seq[JobAgg] = byJob.values.asScala.toSeq.sortBy(_.jobId)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      byJob.put(e.jobId, new JobAgg(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      agg(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = agg(e.stageId).foreach { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    private def agg(stage: Int): Option[JobAgg] =
      Option(stageJob.get(stage)).flatMap(j => Option(byJob.get(j)))
  }

  /** Planning phases and exchange counts of every executed query
    * (eager fills at build time and the noop write alike). */
  final class QeListener extends QueryExecutionListener {
    private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def all: Seq[String] = lines.asScala.toSeq
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val (ex, reused) = try PlanStats.exchanges(qe.executedPlan) catch { case NonFatal(_) => (0, 0) }
      val ph = qe.tracker.phases
      lines.add(Json.obj(Map(
        "func" -> Json.str(funcName), "qe" -> qe.id.toString,
        "exchanges" -> ex.toString, "reused_exchanges" -> reused.toString,
        "phases" -> Json.obj(ph.map { case (k, p) =>
          k -> Json.arr(Seq(p.startTimeMs.toString, p.endTimeMs.toString)) }))))
    }
  }

  object PlanStats extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): (Int, Int) = {
      val kinds = collectWithSubqueries(p) {
        case _: ReusedExchangeExec => 1
        case _: Exchange => 0
      }
      (kinds.count(_ == 0), kinds.count(_ == 1))
    }
    def phases(qe: QueryExecution): Map[String, Long] =
      qe.tracker.phases.map { case (k, p) => k -> p.durationMs }
  }

  /** Just enough JSON: values are pre-rendered strings. */
  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

    /** A result cell. Doubles keep every digit (NaN and Infinity as the
      * bare words Python's json reads); decimals, timestamps (UTC micros)
      * and dates are tagged objects; structs are arrays of their fields. */
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Double.toString(f.toDouble)
      case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
      case d: java.math.BigDecimal => s"""{"dec": "${d.toPlainString}"}"""
      case d: scala.math.BigDecimal => s"""{"dec": "${d.bigDecimal.toPlainString}"}"""
      case t: java.sql.Timestamp => s"""{"ts": ${DateTimeUtils.fromJavaTimestamp(t)}}"""
      case t: java.time.Instant => s"""{"ts": ${DateTimeUtils.instantToMicros(t)}}"""
      case t: java.time.LocalDateTime => s"""{"ts": ${DateTimeUtils.localDateTimeToMicros(t)}}"""
      case d: java.sql.Date => s"""{"date": "${d.toLocalDate}"}"""
      case d: java.time.LocalDate => s"""{"date": "$d"}"""
      case b: Array[Byte] => s"""{"bin": "${b.map("%02x".format(_)).mkString}"}"""
      case r: org.apache.spark.sql.Row => arr(r.toSeq.map(value))
      case m: scala.collection.Map[_, _] =>
        s"""{"map": ${arr(m.toSeq.map { case (k, x) => arr(Seq(value(k), value(x))) })}}"""
      case xs: Iterable[_] => arr(xs.toSeq.map(value))
      case other => str(other.toString)
    }
  }
}
