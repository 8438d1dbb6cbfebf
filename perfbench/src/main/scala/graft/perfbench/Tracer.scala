package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.Success
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{CreateDataSourceTableAsSelectCommand, DataWritingCommandExec,
  ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of one catalog entry. All spans of an entry share its
  * `entry` id; `layer` names the layer the interval belongs to. */
final case class Span(entry: Int, layer: String, name: String, startMs: Long, endMs: Long)

/** Layer observer registered from outside the catalog: a Spark listener
  * (query executions, jobs, stages, tasks), a query-execution listener
  * (Catalyst phases, executed plans, scratch writes) and a log appender
  * (codegen compiles and fallbacks). Events are attributed to the entry
  * between `begin` and `finish`; both drain the listener bus first, so no
  * event of an entry leaks into another. */
final class Tracer(spark: SparkSession, dataDir: String, scratchRoots: Seq[String],
                   warehouse: String) {
  private val sc = spark.sparkContext
  @volatile private var current = -1
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spansOut = mutable.ArrayBuffer.empty[Span]
  private val entrySpans = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val queryStart = mutable.Map.empty[Long, Long]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val seenCaches = mutable.Set.empty[Int]

  private def add(k: String, v: Double): Unit = counters.synchronized(counters(k) += v)
  private def span(layer: String, name: String, s: Long, e: Long): Unit =
    entrySpans.synchronized(entrySpans += Span(current, layer, name, s, e))
  private def under(p: String, roots: Seq[String]): Boolean =
    roots.exists(r => p == r || p.startsWith(r + "/"))
  private def pathOf(p: Path): String = p.toUri.getPath.stripSuffix("/")

  private val PhaseKey = "graft.perfbench.phase"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (current >= 0) {
      add("sched.jobs", 1)
      if (e.properties != null && e.properties.getProperty(PhaseKey) == "construct")
        add("operators.construct_jobs", 1)
      jobStart.synchronized(jobStart(e.jobId) = e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (current >= 0) e match {
      case s: SparkListenerSQLExecutionStart => queryStart.synchronized(queryStart(s.executionId) = s.time)
      case x: SparkListenerSQLExecutionEnd =>
        queryStart.synchronized(queryStart.remove(x.executionId))
          .foreach(s => span("query", s"query ${x.executionId}", s, x.time))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (current >= 0) {
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach(s => span("sched", s"job ${e.jobId}", s, e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (current >= 0) {
      val ph = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
      stagePhase.synchronized(stagePhase(e.stageInfo.stageId) = ph)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (current >= 0) {
      val si = e.stageInfo
      add("sched.stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime) span("exec", s"stage ${si.stageId}", s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (current >= 0) {
      add("sched.tasks", 1)
      if (e.reason != Success) add("exec.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1e3
        add("exec.run_s", run)
        if (stagePhase.synchronized(stagePhase.get(e.stageId)).contains("execute")) add("exec_phase_run_s", run)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.spill_mb", (m.diskBytesSpilled + m.memoryBytesSpilled) / 1048576.0)
      }
    }
  }

  /** Every node of an executed plan: AQE's final plan, query stages,
    * subqueries and cached relations (each cached relation once per entry). */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case i: InMemoryTableScanExec =>
        val id = System.identityHashCode(i.relation.cacheBuilder)
        if (seenCaches.synchronized(seenCaches.add(id))) Seq(i.relation.cachedPlan) else Nil
      case _ => p.children ++ p.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  private def dirBytes(p: String): Long = {
    val path = new Path(p)
    val fs = path.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  private def memoWrite(durationNs: Long, bytes: Long): Unit = {
    add("tables.memo_builds", 1)
    add("tables.memo_write_s", durationNs / 1e9)
    add("tables.memo_write_mb", bytes / 1048576.0)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current >= 0) {
        add("catalyst.query_executions", 1)
        for ((phase, s) <- qe.tracker.phases if phase != "parsing") {
          add(s"catalyst.${phase}_s", s.durationMs / 1e3)
          span("catalyst", phase, s.startTimeMs, s.endTimeMs)
        }
        nodes(qe.executedPlan).foreach {
          case s: FileSourceScanExec =>
            val paths = s.relation.location.rootPaths.map(pathOf)
            if (paths.exists(under(_, Seq(dataDir)))) add("tables.source_scans", 1)
            else if (paths.exists(under(_, scratchRoots))) add("tables.memo_scans", 1)
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand if under(pathOf(i.outputPath), scratchRoots) =>
              memoWrite(durationNs, i.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
            case _ =>
          }
          case c: ExecutedCommandExec => c.cmd match {
            case t: CreateDataSourceTableAsSelectCommand =>
              memoWrite(durationNs, dirBytes(s"$warehouse/${t.table.identifier.table.toLowerCase}"))
            case _ =>
          }
          case _: SortMergeJoinExec => add("plan.smj", 1)
          case _: BroadcastHashJoinExec => add("plan.bhj", 1)
          case _: Exchange => add("plan.exchanges", 1)
          case _ =>
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private[perfbench] def compiled(ms: Double, atMs: Long): Unit = if (current >= 0) {
    add("codegen.compiles", 1)
    add("codegen.compile_s", ms / 1e3)
    span("codegen", "compile", atMs - math.round(ms), atMs)
  }
  private[perfbench] def fellBack(): Unit = if (current >= 0) add("codegen.fallbacks", 1)

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)
    CodegenLog.install(this)
  }

  /** Start attributing events to entry `id`; marks its jobs as construction. */
  def begin(id: Int): Unit = {
    BusDrain.drain(sc)
    counters.synchronized(counters.clear())
    entrySpans.synchronized(entrySpans.clear())
    seenCaches.synchronized(seenCaches.clear())
    current = id
    sc.setLocalProperty(PhaseKey, "construct")
  }

  /** Jobs submitted from here on belong to the entry's execution phase. */
  def executing(): Unit = sc.setLocalProperty(PhaseKey, "execute")

  /** Stop attributing; returns the entry's counters plus the derived
    * scheduling metrics, and keeps its spans for the run's span file. */
  def finish(startMs: Long, constructEndMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
    BusDrain.drain(sc)
    sc.setLocalProperty(PhaseKey, null)
    val id = current
    current = -1
    val own = entrySpans.synchronized(entrySpans.toList) ++ List(
      Span(id, "operators", "construct", startMs, constructEndMs))
    spansOut ++= Span(id, "entry", "entry", startMs, endMs) :: own
    // wall of the entry covered by no layer's span
    val clipped = own.map(s => (math.max(s.startMs, startMs), math.min(s.endMs, endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    for ((s, e) <- clipped) {
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    val c = counters.synchronized(counters.toMap).withDefaultValue(0.0)
    val execWall = (endMs - constructEndMs) / 1e3
    c - "exec_phase_run_s" ++ Map(
      "sched.uncovered_s" -> (endMs - startMs - covered) / 1e3,
      "sched.idle_core_s" -> (cores * execWall - c("exec_phase_run_s")))
  }

  def spans: Seq[Span] = spansOut.toSeq
}

/** Log4j appender that turns codegen log lines into tracer calls: each
  * "Code generated in N ms" line is one janino compile, and each
  * whole-stage or expression fallback line is one interpreted fallback. */
object CodegenLog extends AbstractAppender("graft-perfbench-codegen", null, null, true,
  Property.EMPTY_ARRAY) {
  @volatile private var tracer: Tracer = _
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  override def append(e: LogEvent): Unit = {
    val t = tracer
    if (t ne null) e.getMessage.getFormattedMessage match {
      case Generated(ms) => t.compiled(ms.toDouble, e.getTimeMillis)
      case m if m.contains("Whole-stage codegen disabled") ||
        m.contains("falling back to interpreter") => t.fellBack()
      case _ =>
    }
  }

  def install(t: Tracer): Unit = synchronized {
    tracer = t
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (!isStarted) { start(); cfg.addAppender(this) }
    for (name <- loggers) {
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(this, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}
