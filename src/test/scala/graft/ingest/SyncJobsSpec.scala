package graft.ingest

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.{ActionPlans, Fixtures, SparkSuite}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.model.Schemas
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

  /** Fan-out requests in flight per resource, and the requests that saw
    * the other fan-out's requests in flight: JVM-global for the same
    * reason as [[requests]].
    */
  val inFlight = Map("transactions" -> new AtomicInteger, "refunds" -> new AtomicInteger)
  val overlaps = new AtomicInteger

  /** Holds every fan-out request open for up to `holdMs`, watching for a
    * request of the other fan-out, so two fan-outs that fetch at the same
    * time meet.
    */
  final class Holding(inner: ShopifyClient.Transport, holdMs: Long) extends ShopifyClient.Transport {
    def get(url: String, params: Map[String, String]): ShopifyClient.HttpResponse =
      inFlight.find { case (r, _) => url.endsWith(s"/$r.json") } match {
        case None => inner.get(url, params)
        case Some((resource, mine)) =>
          val other = inFlight.collectFirst { case (r, n) if r != resource => n }.get
          mine.incrementAndGet()
          try {
            val until = System.nanoTime() + holdMs * 1000000L
            var met = false
            while (!met && System.nanoTime() < until) {
              met = other.get > 0
              if (!met) Thread.sleep(10)
            }
            if (met) overlaps.incrementAndGet()
            inner.get(url, params)
          } finally mine.decrementAndGet()
      }
  }

  /** Answers 500 for every URL ending in `suffix`. */
  final class Failing(inner: ShopifyClient.Transport, suffix: String)
      extends ShopifyClient.Transport {
    def get(url: String, params: Map[String, String]): ShopifyClient.HttpResponse =
      if (url.endsWith(suffix)) ShopifyClient.HttpResponse(500, "Internal Server Error", Map.empty, "")
      else inner.get(url, params)
  }
}

/** The Spark work of a sync is only what its batch needs: reads plan
  * against the declared schemas, a table whose batch is empty is not
  * written, and each fan-out page is requested once. A sync whose branch
  * fails ends every other branch before it throws, and a re-run heals it.
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

  private def contents(store: ShopifyStore): Map[String, Seq[String]] =
    Schemas.tables.map(t => t.name -> store.read(t.name).collect().map(_.toString).toSeq.sorted).toMap

  test("a sync that fails one endpoint throws its error with no job left, and a re-run heals it") {
    def sync(store: ShopifyStore, transport: ShopifyClient.Transport): Unit =
      IngestPipeline.shopifyUpdate(spark, store,
        new ShopifyClient(transport, Fixtures.base, retryLimit = 2, sleeper = _ => ()),
        createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
    val healthy = new ShopifyClient.FixtureTransport(Fixtures.transportFixtures)
    val clean = new ShopifyStore(spark, Files.createTempDirectory("sync-clean").toString)
    sync(clean, healthy)
    val expected = contents(clean)
    assert(expected("refunds").size == 1 && expected("transactions").size == 7)
    // products fails a list fetch on the calling thread while the customers
    // branch runs; transactions fails inside executors while other branches
    // run. A branch's jobs carry the local properties of the calling
    // thread, so the failing sync's jobs are the ones tagged with its suffix.
    val started = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.spec.sync")))
          .foreach(tag => started.add(tag -> e.time))
    }
    spark.sparkContext.addSparkListener(listener)
    try for (suffix <- Seq("/products.json", "/transactions.json")) {
      val store = new ShopifyStore(spark, Files.createTempDirectory("sync-fail").toString)
      spark.sparkContext.setLocalProperty("graft.spec.sync", suffix)
      val e = try intercept[Exception](sync(store, new Failing(healthy, suffix)))
        finally spark.sparkContext.setLocalProperty("graft.spec.sync", null)
      val returned = System.currentTimeMillis()
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(m => m.startsWith("2 unsuccessful requests from") &&
        m.contains(s"$suffix. Error code 500")), s"$suffix: ${messages.mkString(" <- ")}")
      ListenerBus.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty, suffix)
      // nor does a branch still planning start one later
      Thread.sleep(1000)
      ListenerBus.drain(spark.sparkContext)
      val late = started.asScala.filter { case (tag, t) => tag == suffix && t > returned }
      assert(late.isEmpty, s"$suffix: jobs started after the sync returned")
      sync(store, healthy)
      assert(contents(store) == expected, suffix)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the two fan-outs never fetch at the same time") {
    val store = new ShopifyStore(spark, Files.createTempDirectory("sync-fanouts").toString)
    overlaps.set(0)
    IngestPipeline.shopifyUpdate(spark, store, new ShopifyClient(
        new Holding(new ShopifyClient.FixtureTransport(Fixtures.transportFixtures), 1500),
        Fixtures.base),
      createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
    assert(overlaps.get == 0)
    assert(store.read("transactions").count() == 7 && store.read("refunds").count() == 1)
  }
}
