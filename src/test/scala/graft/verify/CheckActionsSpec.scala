package graft.verify

import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.{Fixtures, SparkSuite}
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.io.InvoiceCsv
import graft.queries.{InvoiceNumbers, InvoiceView}
import graft.store.ShopifyStore

/** Pins the cost of the verification dataflow: `numberInvoices` hands over
  * a materialized frame, the eight checks run in at most three Spark
  * actions over it, and the CSV export reads it without scanning the store.
  */
class CheckActionsSpec extends SparkSuite {

  private lazy val numbered = {
    val store = new ShopifyStore(spark, Files.createTempDirectory("checks-store").toString)
    val client = new ShopifyClient(
      new ShopifyClient.FixtureTransport(Fixtures.transportFixtures), Fixtures.base)
    IngestPipeline.shopifyUpdate(spark, store, client,
      createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
    InvoiceNumbers.replaceInvoiceGateway(
      InvoiceNumbers.numberInvoices(InvoiceView.tripletexInvoice(store.invoiceTables),
        LocalDate.parse("2021-05-01"), LocalDate.parse("2021-05-31"), 100),
      Map("vipps" -> "Vipps", "stripe" -> "Stripe"))
  }

  /** The query executions `body` ran, in order. Two marker actions bracket
    * them, so a late event of an earlier action does not count.
    */
  private def executions(body: => Unit): Seq[QueryExecution] = {
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

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  test("verifyInvoices runs the eight checks in at most three Spark actions") {
    val frame = numbered
    val runs = executions(Checks.verifyInvoices(frame, Some(Seq("Vipps", "Stripe"))))
    assert(runs.nonEmpty && runs.length <= 3, runs.map(_.analyzed.treeString).mkString("\n"))
  }

  test("InvoiceCsv.write of the numbered frame plans no store scan") {
    val frame = numbered
    val out = Files.createTempDirectory("checks-csv").toString + "/invoices.csv"
    val planned = executions(InvoiceCsv.write(frame, out)).flatMap(qe => nodes(qe.executedPlan))
    assert(planned.exists(_.isInstanceOf[RDDScanExec]), "the write reads the checkpointed rows")
    assert(!planned.exists(_.isInstanceOf[FileSourceScanExec]),
      planned.collect { case f: FileSourceScanExec => f.relation.location.rootPaths }.mkString(", "))
  }
}
