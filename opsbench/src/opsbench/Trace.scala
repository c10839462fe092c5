package opsbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of the traced run. Everything is observed from outside
  * the program: spans the benchmark records around its own calls, the
  * metered transport, Spark's listener events and the codegen log.
  *
  * Attribution: the benchmark drains Spark's listener bus before it sets
  * and after it clears the current op id, so every event processed while
  * an op id is set belongs to that op.
  */
object Trace {
  @volatile var enabled = false
  @volatile var op: Int = -1
  @volatile var storeRoot: String = "/nonexistent"

  final case class Span(op: Int, layer: String, name: String, startNs: Long, endNs: Long)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span(layer: String, name: String, t0: Long, t1: Long): Unit = {
    val o = op
    if (enabled && o >= 0) spans.add(Span(o, layer, name, t0, t1))
  }

  def timed[T](layer: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally span(layer, name, t0, System.nanoTime())
  }

  // epoch-ms event times → the nanoTime axis of the spans
  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis()
  def msToNanos(ms: Long): Long = baseNanos + (ms - baseMillis) * 1000000L

  /** One SQL execution as Spark's listener bus saw it, keyed by execution
    * id; `plan` joins in what the QueryExecutionListener saw.
    */
  final class Exec(val id: Long, val op: Int) {
    @volatile var startMs, endMs = 0L
    @volatile var qeId = -1L
    val rowsWritten, bytesWritten = new AtomicLong
    def plan: Plan = plans.getOrDefault(qeId, NoPlan)
    def store: Boolean = plan.store
  }
  /** Plan-side facts of one QueryExecution. */
  final case class Plan(store: Boolean, planMs: Long, scans: Long, scanRows: Long)
  private val NoPlan = Plan(store = false, 0L, 0L, 0L)
  val execs = new ConcurrentHashMap[Long, Exec]()
  private val plans = new ConcurrentHashMap[Long, Plan]()
  private val stageExec = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Scan nodes already counted this op: cached plans reappear in every
    * execution that reads the cache, but are scanned once.
    */
  private val countedScans = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()))

  /** Per-op counters filled from task and job events. */
  val jobs, tasks, taskNanos, rowsRead, shuffleBytes = new AtomicLong
  val codegenNanos = new AtomicLong

  def reset(): Unit = {
    Seq(jobs, tasks, taskNanos, rowsRead, shuffleBytes, codegenNanos).foreach(_.set(0))
    execs.clear(); plans.clear(); stageExec.clear(); countedScans.clear()
  }

  private def underStore(p: Path): Boolean = p.toUri.getPath.startsWith(storeRoot)

  final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled && op >= 0) {
      jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => e.stageIds.foreach(s => stageExec.put(s, id.toLong)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && op >= 0 && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      taskNanos.addAndGet(m.executorRunTime * 1000000L)
      rowsRead.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      Option(stageExec.get(e.stageId)).flatMap(id => Option(execs.get(id.longValue))).foreach { x =>
        x.rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
        x.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled && op >= 0) e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.computeIfAbsent(s.executionId, id => new Exec(id, op)).startMs = s.time
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach { x =>
          x.endMs = s.time
          org.apache.spark.sql.opsbench.SqlEvents.queryExecutionId(s).foreach(x.qeId = _)
        }
      case _ =>
    }
  }

  /** Plan-side facts per execution: Catalyst phase times, whether it
    * writes under the store, and the store scans it ran.
    */
  final class QueryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled && op >= 0) {
        val ph = qe.tracker.phases
        var scans, scanRows = 0L
        val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
        def walk(p: SparkPlan): Unit = if (seen.add(p)) {
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case s: QueryStageExec => walk(s.plan)
            case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
            case f: FileSourceScanExec =>
              val rows = f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
              if (rows > 0 && f.relation.location.rootPaths.exists(underStore) && countedScans.add(f)) {
                scans += 1; scanRows += rows
              }
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
        }
        walk(qe.executedPlan)
        plans.put(qe.id, Plan(writePaths(qe).exists(underStore),
          Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum,
          scans, scanRows))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def writePaths(qe: QueryExecution): Seq[Path] = {
    val fromLogical = qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
    val fromPhysical = qe.executedPlan.collect {
      case d: DataWritingCommandExec => d.cmd
    }.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
    fromLogical ++ fromPhysical
  }

  /** Sums "Code generated in N ms" lines of Spark's code generator. */
  def captureCodegenLog(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val Re = """Code generated in ([0-9.]+) ms""".r.unanchored
    val app = new AbstractAppender("opsbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (enabled && op >= 0) e.getMessage.getFormattedMessage match {
        case Re(ms) => codegenNanos.addAndGet((ms.toDouble * 1e6).toLong)
        case _ =>
      }
    }
    app.start()
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
  }

  /** Self time per layer on one op's timeline: each instant goes to the
    * innermost thing running, by precedence upstream wait (ingest) > store
    * write execution > the benchmark's layer call > the op itself ("bench").
    */
  def selfTimes(opSpans: Seq[Span]): Map[String, Double] = {
    val all = opSpans.filterNot(s => s.name == "exec" && s.layer != "store")
    val rank: Span => Int = s => s.name match {
      case "get.fanout" | "get.list" => 4
      case "exec" => 3
      case "op" => 1
      case _ => 2
    }
    val bounds = all.flatMap(s => Seq(s.startNs, s.endNs)).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    bounds.sliding(2).foreach {
      case Seq(a, b) =>
        val active = all.filter(s => s.startNs <= a && s.endNs >= b)
        if (active.nonEmpty) {
          val top = active.maxBy(rank)
          out(if (top.name == "op") "bench" else top.layer) += (b - a) / 1e9
        }
      case _ =>
    }
    out.toMap
  }

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.opsbench.Bus.drain(spark.sparkContext)

  /** The op's SQL executions, also added to the spans as "exec" spans of
    * layer "store" (writes under the store) or "sql".
    */
  def opExecs(o: Int): Seq[Exec] = {
    val xs = execs.values.asScala.filter(_.op == o).toSeq
    xs.filter(_.endMs > 0).foreach { x =>
      spans.add(Span(o, if (x.store) "store" else "sql", "exec", msToNanos(x.startMs), msToNanos(x.endMs)))
    }
    xs
  }
}
