package graft.ingest

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
  *    per-partition clients keep per-token rate limits locally.
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

  /** Runs the stages against `store`. Only what a batch needs runs: a
    * list stage whose pages hold no documents writes nothing, and each
    * fan-out collects its order ids on the driver first, so no ids means
    * no requests and no upsert. The transactions fan-out takes every
    * stored order in the window; the refunds fan-out takes the fetched
    * orders whose fetched `financial_status` names a refund (the stored
    * column is insert-only, so it would miss an order refunded after it
    * was first stored). Each fan-out's pages are fetched once and cached
    * while their upserts read them.
    */
  def shopifyUpdate(spark: SparkSession, store: ShopifyStore, client: ShopifyClient,
                    createdAtMin: Option[String] = None,
                    createdAtMax: Option[String] = None,
                    limit: Int = 250): Unit = {
    import spark.implicits._
    store.init()
    def fetch(endpoint: String, fields: Seq[String], filterOnStatus: Boolean = true) =
      client.fetchAll(endpoint, fields, limit, createdAtMin, createdAtMax, filterOnStatus)

    // stage 1: customers
    val customerPages = fetch("customers.json", customerFields)
    if (Normalize.hasDocs(customerPages, "customers"))
      store.upsert("customers", Normalize.customers(customerPages.toDS()))

    // stage 2: products + variants (status filter off — shopify.py:496)
    val productPages = fetch("products.json", productFields, filterOnStatus = false)
    if (Normalize.hasDocs(productPages, "products")) {
      val pages = productPages.toDS()
      store.upsert("products", Normalize.products(pages))
      store.upsert("product_variants", Normalize.productVariants(pages))
    }

    // stage 3: orders + line items + shipping from the same pages; the
    // refunds fan-out's ids come from the fetched statuses (P6 null-safe
    // contains — shopifydb.py:91-92)
    val orderPageBodies = fetch("orders.json", orderFields)
    val refundIds: Seq[Long] =
      if (!Normalize.hasDocs(orderPageBodies, "orders")) Nil
      else {
        val orderPages = orderPageBodies.toDS().cache()
        val orders = Normalize.orders(orderPages)
        store.upsert("orders", orders)
        store.upsert("line_item_products", Normalize.lineItemProducts(orderPages))
        store.upsert("shipping", Normalize.shipping(orderPages))
        val ids = orders
          .filter(coalesce(col("financial_status").contains("refund"), lit(false)))
          .select(col("id")).as[Long].collect().toSeq
        orderPages.unpersist()
        ids
      }

    // stage 4: re-read the window's order ids from the store (S4 —
    // db.py:81-113). The store's partitioned layout turns the bounds into
    // partition pruning: untouched day partitions are never opened.
    val orderIds = store.readBounded("orders", createdAtMin, createdAtMax)
      .select(col("id")).as[Long].collect().toSeq

    // stage 5: transactions fan-out — parallel inside executors
    if (orderIds.nonEmpty) {
      val txPages = fanOut(spark, client, orderIds, "transactions", transactionFields)
      store.upsert("transactions", Normalize.transactions(txPages))
      txPages.unpersist()
    }

    // stage 6: refunds fan-out
    if (refundIds.nonEmpty) {
      val refundPages = fanOut(spark, client, refundIds, "refunds", refundFields)
      store.upsert("refunds", Normalize.refunds(refundPages))
      store.upsert("line_item_product_refunds", Normalize.refundLineItems(refundPages))
      refundPages.unpersist()
    }
  }

  /** One `resource` page per order id, fetched inside executors and cached,
    * so the upserts that read the pages request each one once.
    */
  private def fanOut(spark: SparkSession, client: ShopifyClient, ids: Seq[Long],
                     resource: String, fields: Seq[String]): Dataset[String] = {
    import spark.implicits._
    ids.toDS().mapPartitions { part =>
      part.map(id => wrapPage(id, client.fetchOrderResource(id, resource, fields)))
    }.cache()
  }
}
