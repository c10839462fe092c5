package graft.ingest

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.{ActionPlans, Fixtures, SparkSuite}
import graft.store.ShopifyStore

object SyncJobsSpec {
  /** Every URL the transport was asked for. Fan-out tasks deserialize
    * their own copy of the transport, so the record is JVM-global.
    */
  val requests = new ConcurrentLinkedQueue[String]()

  final class Recording(inner: ShopifyClient.Transport) extends ShopifyClient.Transport {
    def get(url: String, params: Map[String, String]): ShopifyClient.HttpResponse = {
      requests.add(url)
      inner.get(url, params)
    }
  }
}

/** The Spark work of a sync is only what its batch needs: reads plan
  * against the declared schemas, a table whose batch is empty is not
  * written, and each fan-out page is requested once.
  */
class SyncJobsSpec extends SparkSuite with ActionPlans {
  import SyncJobsSpec._

  private val untouched = Set("products", "product_variants", "refunds",
    "line_item_product_refunds")

  /** The store tables a query execution writes: staging dirs
    * (`<table>__tmp`, `<table>__ptmp`) count for their table.
    */
  private def tablesWritten(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] =
    writePaths(qe).map(p => new org.apache.hadoop.fs.Path(p).getName.split("__").head)

  test("a sync of orders without products or refunds runs only SQL jobs and writes only its tables") {
    val store = new ShopifyStore(spark, Files.createTempDirectory("sync-jobs").toString)
    store.init()
    val client = new ShopifyClient(
      new Recording(new ShopifyClient.FixtureTransport(Fixtures.paidNoProductFixtures)),
      Fixtures.base)
    def sync(): Unit = IngestPipeline.shopifyUpdate(spark, store, client,
      createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
    // the first sync moves the day-partitioned tables off their empty flat
    // bootstrap; the second is the steady state of a re-sync
    for (round <- Seq("first", "second")) {
      requests.clear()
      var ran = Seq.empty[(Option[String], Seq[String])]
      val execs = executions { ran = jobs(sync()) }
      val orphans = ran.filter(_._1.isEmpty)
      assert(orphans.isEmpty, s"$round sync: jobs outside a SQL execution: $orphans")
      val written = execs.flatMap(tablesWritten).toSet
      assert(written.intersect(untouched).isEmpty, s"$round sync wrote $written")
      assert(Set("orders", "line_item_products", "shipping", "transactions").subsetOf(written),
        s"$round sync wrote $written")
      val got = requests.asScala.toSeq
      val tx = got.filter(_.endsWith("/transactions.json"))
      assert(tx.sorted == Seq(4000000001L, 4000000002L, 4000000003L)
        .map(id => s"${Fixtures.base}orders/$id/transactions.json"), s"$round sync: $got")
      assert(!got.exists(_.endsWith("/refunds.json")), s"$round sync: $got")
    }
    assert(store.read("orders").count() == 3)
    assert(store.read("transactions").count() == 7)
    assert(store.read("products").count() == 0)
    assert(store.read("refunds").count() == 0)
  }
}
