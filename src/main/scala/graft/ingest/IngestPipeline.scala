package graft.ingest

import java.util.concurrent.{Executors, Future}
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.ShopifyStore

/** E1 `shopify-update` (`/root/reference/shopifydb.py:56-94`): the 6-stage
  * ingestion dataflow — customers → products/variants → orders(+line
  * items+shipping) → DB re-read → transactions fan-out → refunds fan-out.
  *
  * Scale deltas vs the reference (documented capability wins):
  *  - page bodies that hold documents become a Dataset, so normalization
  *    is partition-parallel instead of driver pandas;
  *  - the per-order HTTP fan-outs run inside `mapPartitions` (the
  *    reference loops serially on the driver — `shopify.py:391,438`);
  *    per-partition clients keep per-token rate limits locally;
  *  - the reference's nine upserts run one after another; here the ones
  *    that do not depend on each other run at the same time (see
  *    [[shopifyUpdate]]), so one-task Spark jobs stop leaving cores idle.
  */
object IngestPipeline {

  /** Field lists (`shopify.py:13-93`). */
  val orderFields: Seq[String] = Seq("id", "line_items", "name", "billing_address",
    "total_price", "closed_at", "created_at", "processed_at", "currency",
    "current_total_discounts", "current_subtotal_price", "fulfillment_status",
    "financial_status", "customer", "landing_site", "shipping_lines",
    "taxes_included", "total_line_items_price", "total_discounts", "total_tax",
    "discount_applications")
  val customerFields: Seq[String] = Seq("id", "accepts_marketing", "created_at",
    "default_address", "email", "first_name", "last_name", "last_order_id",
    "last_order_name", "name", "note", "phone", "total_spent", "verified_email",
    "updated_at")
  val productFields: Seq[String] = Seq("id", "created_at", "product_type",
    "published_at", "status", "title", "updated_at", "variants", "vendor")
  val transactionFields: Seq[String] = Seq("id", "location_id", "order_id",
    "amount", "authorization", "created_at", "currency", "error_code", "gateway",
    "kind", "message", "processed_at", "receipt", "status", "source_name")
  val refundFields: Seq[String] = Seq("id", "note", "refund_line_items",
    "transactions", "created_at", "processed_at")

  /** Inject a page-level order_id into a sub-resource response body
    * (mirrors the reference's `order_id=i` dict injection,
    * `shopify.py:398-409,443-451`).
    */
  def wrapPage(orderId: Long, body: String): String = {
    val t = body.trim
    require(t.startsWith("{"), s"unexpected page body: ${t.take(40)}")
    s"""{"order_id":$orderId,${t.drop(1)}"""
  }

  /** Runs the sync against `store` as a small dependency graph of
    * branches, each a chain of upserts that starts as soon as its input
    * exists:
    *  - customers;
    *  - products → product_variants;
    *  - line_item_products;
    *  - shipping;
    *  - orders → the window's re-read → the transactions fan-out → its upsert;
    *  - the refunds fan-out → refunds and line_item_product_refunds.
    *
    * The three list endpoints are fetched on the calling thread in the
    * reference's order (customers, products, orders), so the request
    * schedule is the sequential one; a branch forks once its pages are in.
    * The two fan-outs never fetch at the same time: each executor task's
    * `maxRequestsPerSec` share assumes one fan-out at a time.
    *
    * Only what a batch needs runs: a list stage whose pages hold no
    * documents writes nothing, and each fan-out collects its order ids on
    * the driver first, so no ids means no requests and no upsert. The
    * transactions fan-out takes every stored order in the window; the
    * refunds fan-out takes the fetched orders whose fetched
    * `financial_status` names a refund (the stored column is insert-only,
    * so it would miss an order refunded after it was first stored). Each
    * fan-out's pages are fetched once and cached while their upserts read
    * them.
    *
    * Every branch is joined before the call returns; the first failure is
    * rethrown once the others have finished.
    */
  def shopifyUpdate(spark: SparkSession, store: ShopifyStore, client: ShopifyClient,
                    createdAtMin: Option[String] = None,
                    createdAtMax: Option[String] = None,
                    limit: Int = 250): Unit = {
    import spark.implicits._
    store.init()
    def fetch(endpoint: String, fields: Seq[String], filterOnStatus: Boolean = true) =
      client.fetchAll(endpoint, fields, limit, createdAtMin, createdAtMax, filterOnStatus)
    val fanOutLock = new Object
    var cachedOrders: Option[Dataset[String]] = None
    try inBranches(6) { fork => // one thread per branch
      // stage 1: customers
      val customerPages = fetch("customers.json", customerFields)
      if (Normalize.hasDocs(customerPages, "customers"))
        fork(store.upsert("customers", Normalize.customers(customerPages.toDS())))

      // stage 2: products + variants (status filter off — shopify.py:496)
      val productPages = fetch("products.json", productFields, filterOnStatus = false)
      if (Normalize.hasDocs(productPages, "products")) fork {
        val pages = productPages.toDS()
        store.upsert("products", Normalize.products(pages))
        store.upsert("product_variants", Normalize.productVariants(pages))
      }

      // stage 3: orders + line items + shipping from the same pages; the
      // refunds fan-out's ids come from the fetched statuses (P6 null-safe
      // contains — shopifydb.py:91-92)
      val orderPageBodies = fetch("orders.json", orderFields)
      val orderPages =
        if (Normalize.hasDocs(orderPageBodies, "orders")) Some(orderPageBodies.toDS().cache())
        else None
      cachedOrders = orderPages
      orderPages.foreach { pages =>
        fork(store.upsert("line_item_products", Normalize.lineItemProducts(pages)))
        fork(store.upsert("shipping", Normalize.shipping(pages)))
        // stage 6: refunds fan-out
        fork {
          val refundIds = Normalize.orders(pages)
            .filter(coalesce(col("financial_status").contains("refund"), lit(false)))
            .select(col("id")).as[Long].collect().toSeq
          if (refundIds.nonEmpty)
            fanOut(spark, client, refundIds, "refunds", refundFields, fanOutLock)(
              p => store.upsert("refunds", Normalize.refunds(p)),
              p => store.upsert("line_item_product_refunds", Normalize.refundLineItems(p)))
        }
      }
      fork {
        orderPages.foreach(p => store.upsert("orders", Normalize.orders(p)))
        // stage 4: re-read the window's order ids from the store (S4 —
        // db.py:81-113): only the window's day partitions are listed and read
        val orderIds = store.readBounded("orders", createdAtMin, createdAtMax)
          .select(col("id")).as[Long].collect().toSeq
        // stage 5: transactions fan-out — parallel inside executors
        if (orderIds.nonEmpty)
          fanOut(spark, client, orderIds, "transactions", transactionFields, fanOutLock)(
            p => store.upsert("transactions", Normalize.transactions(p)))
      }
    } finally cachedOrders.foreach(_.unpersist())
  }

  /** One `resource` page per order id, fetched inside executors and cached,
    * so the upserts that read the pages request each one once. `fetching`,
    * the first upsert over the pages, computes every partition of the
    * cache, so it runs holding `lock`: that keeps the two fan-outs from
    * fetching at the same time. `rest` reads the cached pages; the cache
    * is dropped after both.
    */
  private def fanOut(spark: SparkSession, client: ShopifyClient, ids: Seq[Long],
                     resource: String, fields: Seq[String], lock: AnyRef)(
                     fetching: Dataset[String] => Unit,
                     rest: Dataset[String] => Unit = _ => ()): Unit = {
    import spark.implicits._
    val pages = ids.toDS().mapPartitions { part =>
      part.map(id => wrapPage(id, client.fetchOrderResource(id, resource, fields)))
    }.cache()
    try {
      lock.synchronized(fetching(pages))
      rest(pages)
    } finally pages.unpersist()
  }

  /** Runs `plan` on the calling thread with a `fork` that starts a branch
    * on a pool that lives for this call. Every branch is joined and the
    * pool shut down before the first failure, on the calling thread or in
    * a branch, is rethrown, with any later ones suppressed.
    */
  private def inBranches(threads: Int)(plan: ((=> Unit) => Unit) => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    val failure = new AtomicReference[Throwable]()
    def failed(t: Throwable): Unit =
      if (!failure.compareAndSet(null, t) && (failure.get ne t)) failure.get.addSuppressed(t)
    val forked = ArrayBuffer.empty[Future[_]]
    try {
      try plan(body => forked += pool.submit(new Runnable {
        def run(): Unit = try body catch { case t: Throwable => failed(t) }
      }))
      catch { case t: Throwable => failed(t) }
      forked.foreach(_.get())
    } finally pool.shutdown()
    Option(failure.get).foreach(t => throw t)
  }
}
