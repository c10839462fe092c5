package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The plans of the Spark actions a block runs. A frame that comes back
  * checkpointed plans over its materialized rows, so a spec that pins the
  * shape of the work reads the plan of the action that computed it.
  */
trait ActionPlans { self: SparkSuite =>

  /** The query executions `body` ran, in order. Two marker actions bracket
    * them, so a late event of an earlier action does not count.
    */
  protected def executions(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe)
    }
    def marker(name: String): Unit = spark.range(1).toDF(name).collect()
    def isMarker(name: String)(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq(name)
    spark.listenerManager.register(listener)
    try {
      marker("__begin"); body; marker("__end")
      eventually(timeout(60.seconds)) { assert(seen.asScala.exists(isMarker("__end"))) }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.dropWhile(!isMarker("__begin")(_)).drop(1).takeWhile(!isMarker("__end")(_))
  }

  /** The Spark jobs `body` started, in order: each one's SQL execution id
    * (None for a job outside any SQL execution, such as a parquet schema
    * inference) and its stage names. Two marker jobs bracket them.
    */
  protected def jobs(body: => Unit): Seq[(Option[String], Seq[String])] = {
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    def prop(e: SparkListenerJobStart, key: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))
    def isMarker(name: String)(e: SparkListenerJobStart) =
      prop(e, "spark.job.description").contains(name)
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("__begin"); body; marker("__end")
      eventually(timeout(60.seconds)) { assert(seen.asScala.exists(isMarker("__end"))) }
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq.dropWhile(!isMarker("__begin")(_)).drop(1).takeWhile(!isMarker("__end")(_))
      .map(e => (prop(e, "spark.sql.execution.id"), e.stageInfos.map(_.name)))
  }

  /** The directories a query execution writes parquet files to. */
  protected def writePaths(qe: QueryExecution): Seq[String] =
    (qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand => c } ++
      qe.executedPlan.collect { case d: DataWritingCommandExec => d.cmd }
        .collect { case c: InsertIntoHadoopFsRelationCommand => c })
      .map(_.outputPath.toString).distinct

  /** Every node of an executed plan, through adaptive stages, subqueries
    * and the plans of cached relations.
    */
  protected def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** The single-partition exchanges among `planned` whose input holds no
    * grouped aggregate: each one would funnel line-level rows through one
    * task, where the numbering needs one only above its pair index.
    */
  protected def singleExchangesOverRows(planned: Seq[SparkPlan]): Seq[ShuffleExchangeLike] =
    planned.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition &&
        !e.child.exists {
          case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
          case _ => false
        } => e
    }

  /** `body` planned statically, so exchanges are plain plan nodes. */
  protected def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
