package graft.verify

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.{ActionPlans, Fixtures, SparkSuite}
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.io.InvoiceCsv
import graft.queries.{InvoiceNumbers, InvoiceView}
import graft.store.ShopifyStore

/** Pins the cost of the invoice dataflow: the numbering is one Spark
  * action whose only global sort is its own, `numberInvoices` hands over a
  * materialized frame, the eight checks run in at most three Spark actions
  * over it, and the CSV export reads it without scanning the store.
  */
class CheckActionsSpec extends SparkSuite with ActionPlans {

  private lazy val store = {
    val s = new ShopifyStore(spark, Files.createTempDirectory("checks-store").toString)
    val client = new ShopifyClient(
      new ShopifyClient.FixtureTransport(Fixtures.transportFixtures), Fixtures.base)
    IngestPipeline.shopifyUpdate(spark, s, client,
      createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
    s
  }

  private def numberMay(t: InvoiceView.Tables) =
    InvoiceNumbers.numberInvoices(InvoiceView.tripletexInvoice(t),
      LocalDate.parse("2021-05-01"), LocalDate.parse("2021-05-31"), 100)

  private lazy val numbered = InvoiceNumbers.replaceInvoiceGateway(numberMay(store.invoiceTables),
    Map("vipps" -> "Vipps", "stripe" -> "Stripe"))

  test("the numbering action's one global sort is the final INVOICE NO sort") {
    val tables = store.invoiceTables // ingest outside the recorded actions
    val runs = withoutAqe(executions(numberMay(tables)))
    assert(runs.length == 1, runs.map(_.analyzed.treeString).mkString("\n"))
    val planned = nodes(runs.head.executedPlan)
    val ranges = planned.collect { case e: ShuffleExchangeLike => e.outputPartitioning }
      .collect { case r: RangePartitioning => r }
    assert(ranges.length == 1, ranges.mkString("\n"))
    assert(ranges.head.ordering.head.child.references.map(_.name).toSeq == Seq("INVOICE NO"),
      ranges.head)
    val overRows = singleExchangesOverRows(planned)
    assert(overRows.isEmpty, overRows.map(_.child.treeString.take(2000)).mkString("\n"))
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
