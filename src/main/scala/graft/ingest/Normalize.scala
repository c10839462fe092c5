package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas

/** JSON-ingest normalization (`/root/reference/shopify.py:206-527`): raw
  * API page bodies → typed table DataFrames. The reference's
  * `pd.json_normalize` + projection becomes `from_json` with explicit
  * payload StructTypes (no inference — SURVEY §1.2) + dot-path selects +
  * `explode` (N1–N8).
  *
  * Each normalizer takes a Dataset[String] of raw page bodies (one JSON
  * response per element, e.g. `{"orders": [...]}`) so ingestion is
  * partition-parallel from the first transform.
  */
object Normalize {

  // ---- payload schemas (FIXTURES.md §B) ----

  private val addressType = StructType(Seq(
    StructField("name", StringType), StructField("address1", StringType),
    StructField("city", StringType), StructField("zip", StringType),
    StructField("country", StringType), StructField("phone", StringType),
    StructField("latitude", DoubleType), StructField("longitude", DoubleType),
  ))

  val customerPayload: StructType = StructType(Seq(
    StructField("id", LongType), StructField("email", StringType),
    StructField("first_name", StringType), StructField("last_name", StringType),
    StructField("phone", StringType), StructField("note", StringType),
    StructField("total_spent", StringType), StructField("verified_email", BooleanType),
    StructField("accepts_marketing", BooleanType),
    StructField("created_at", TimestampType), StructField("updated_at", TimestampType),
    StructField("default_address", addressType),
  ))

  private val taxLineType = StructType(Seq(
    StructField("price", StringType), StructField("rate", DoubleType),
    StructField("title", StringType)))

  private val priceSetType = StructType(Seq(
    StructField("presentment_money", StructType(Seq(
      StructField("amount", StringType), StructField("currency_code", StringType))))))

  val lineItemType: StructType = StructType(Seq(
    StructField("id", LongType), StructField("product_id", LongType),
    StructField("title", StringType), StructField("variant_title", StringType),
    StructField("sku", StringType), StructField("price", StringType),
    StructField("quantity", IntegerType), StructField("vendor", StringType),
    StructField("taxable", BooleanType),
    StructField("tax_lines", ArrayType(taxLineType)),
    StructField("price_set", priceSetType),
    StructField("discount_allocations", ArrayType(StructType(Seq(
      StructField("amount", StringType))))),
  ))

  val shippingLineType: StructType = StructType(Seq(
    StructField("id", LongType), StructField("code", StringType),
    StructField("price", StringType), StructField("discounted_price", StringType),
    StructField("title", StringType), StructField("source", StringType),
    StructField("phone", StringType),
    StructField("tax_lines", ArrayType(taxLineType)),
    StructField("price_set", priceSetType),
  ))

  val orderPayload: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("customer", StructType(Seq(StructField("id", LongType)))),
    StructField("financial_status", StringType), StructField("fulfillment_status", StringType),
    StructField("total_price", StringType), StructField("total_line_items_price", StringType),
    StructField("total_discounts", StringType), StructField("total_tax", StringType),
    StructField("taxes_included", BooleanType), StructField("currency", StringType),
    StructField("created_at", TimestampType), StructField("closed_at", TimestampType),
    StructField("processed_at", TimestampType),
    StructField("billing_address", addressType),
    StructField("line_items", ArrayType(lineItemType)),
    StructField("shipping_lines", ArrayType(shippingLineType)),
  ))

  val productPayload: StructType = StructType(Seq(
    StructField("id", LongType), StructField("title", StringType),
    StructField("status", StringType), StructField("product_type", StringType),
    StructField("vendor", StringType),
    StructField("created_at", TimestampType), StructField("updated_at", TimestampType),
    StructField("variants", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("product_id", LongType),
      StructField("price", StringType), StructField("title", StringType),
      StructField("sku", StringType), StructField("option1", StringType),
      StructField("option2", StringType), StructField("option3", StringType),
      StructField("created_at", TimestampType), StructField("updated_at", TimestampType))))),
  ))

  val transactionPayload: StructType = StructType(Seq(
    StructField("id", LongType), StructField("order_id", LongType),
    StructField("status", StringType), StructField("amount", StringType),
    StructField("currency", StringType), StructField("error_code", StringType),
    StructField("gateway", StringType), StructField("kind", StringType),
    StructField("created_at", TimestampType), StructField("processed_at", TimestampType),
  ))

  val refundPayload: StructType = StructType(Seq(
    StructField("id", LongType), StructField("note", StringType),
    StructField("transactions", ArrayType(StructType(Seq(StructField("id", LongType))))),
    StructField("created_at", TimestampType), StructField("processed_at", TimestampType),
    StructField("refund_line_items", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("quantity", IntegerType),
      StructField("line_item", StructType(Seq(StructField("id", LongType)))),
      StructField("subtotal", StringType),
      StructField("subtotal_set", StructType(Seq(
        StructField("shop_money", StructType(Seq(
          StructField("currency_code", StringType))))))))))),
  ))

  private val money = Schemas.Money

  /** Parse raw page bodies to one row per document under `field`. */
  private def docs(pages: Dataset[String], field: String, elem: StructType): DataFrame = {
    val pageSchema = StructType(Seq(StructField(field, ArrayType(elem))))
    pages.toDF("body")
      .select(from_json(col("body"), pageSchema).as("p"))
      .select(explode(col(s"p.$field")).as("d"))
  }

  private lazy val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Whether any page body holds a document under `field`. Read on the
    * driver from the fetched bodies, so a stage with nothing to store
    * skips its upserts without running a Spark action.
    */
  def hasDocs(pages: Seq[String], field: String): Boolean =
    pages.exists(body => json.readTree(body).path(field).size() > 0)

  /** Adapt a payload-ROWS frame — one row per document with the payload
    * fields top-level, e.g. `spark.read.format("shopify")` output — to the
    * `d`-struct shape the `*FromDocs` normalizers select from. Lets the
    * DSv2 source feed the exact same projections as the page-body path.
    */
  def fromPayloadRows(rows: DataFrame): DataFrame =
    rows.select(struct(rows.columns.map(col): _*).as("d"))

  /** N1 (`shopify.py:230-254`): customers — default_address flatten +
    * renames, phone fallback (F14).
    */
  def customers(pages: Dataset[String]): DataFrame =
    docs(pages, "customers", customerPayload).select(
      col("d.id").as("id"),
      col("d.email").as("email"),
      col("d.default_address.name").as("name"),
      col("d.first_name").as("first_name"),
      col("d.last_name").as("last_name"),
      coalesce(col("d.phone"), col("d.default_address.phone")).as("phone"),
      col("d.default_address.address1").as("address"),
      col("d.default_address.city").as("city"),
      col("d.default_address.zip").as("zip"),
      col("d.default_address.country").as("country"),
      col("d.total_spent").cast(money).as("total_spent"),
      col("d.verified_email").as("verified_email"),
      col("d.note").as("note"),
      col("d.accepts_marketing").as("accepts_marketing"),
      col("d.created_at").as("created_at"),
      col("d.updated_at").as("updated_at"))

  /** `shopify.py:283-302`: order headers (renames F3-style). */
  def orders(pages: Dataset[String]): DataFrame =
    ordersFromDocs(docs(pages, "orders", orderPayload))

  def ordersFromDocs(d: DataFrame): DataFrame =
    d.select(
      col("d.id").as("id"),
      col("d.customer.id").as("customer_id"),
      col("d.name").as("name"),
      col("d.fulfillment_status").as("fulfillment_status"),
      col("d.financial_status").as("financial_status"),
      col("d.total_price").cast(money).as("total_price"),
      col("d.total_line_items_price").cast(money).as("total_line_items_price"),
      col("d.total_discounts").cast(money).as("total_discounts_amount"),
      col("d.total_tax").cast(money).as("total_tax_amount"),
      col("d.taxes_included").as("taxes_included"),
      col("d.currency").as("currency"),
      col("d.created_at").as("created_at"),
      col("d.closed_at").as("closed_at"),
      col("d.processed_at").as("processed_at"))

  /** N2/N6/N7 + F13 (`shopify.py:303-336`): line items exploded from
    * orders, tax_lines[0] defaults, deep currency path, derived total.
    */
  def lineItemProducts(pages: Dataset[String]): DataFrame =
    lineItemProductsFromDocs(docs(pages, "orders", orderPayload))

  def lineItemProductsFromDocs(d: DataFrame): DataFrame =
    d.select(col("d.id").as("order_id"), explode(col("d.line_items")).as("li"))
      .select(
        col("li.id").as("id"),
        col("order_id"),
        col("li.product_id").as("product_id"),
        col("li.title").as("title"),
        col("li.sku").as("sku"),
        col("li.price").cast(money).as("unit_price"),
        (col("li.price").cast(money) * col("li.quantity")).cast(money).as("total_price"),
        coalesce(try_element_at(col("li.discount_allocations"), lit(1)).getField("amount").cast(money),
          lit(0).cast(money)).as("total_discount_amount"),
        col("li.quantity").as("quantity"),
        col("li.vendor").as("vendor"),
        col("li.variant_title").as("variant_title"),
        coalesce(try_element_at(col("li.tax_lines"), lit(1)).getField("price").cast(money),
          lit(0).cast(money)).as("tax_amount"),
        coalesce(try_element_at(col("li.tax_lines"), lit(1)).getField("rate").cast(money),
          lit(0).cast(money)).as("tax_rate"),
        try_element_at(col("li.tax_lines"), lit(1)).getField("title").as("tax_title"),
        col("li.taxable").as("taxable"),
        col("li.price_set.presentment_money.currency_code").as("currency"))

  /** N3 (`shopify.py:338-354`): shipping lines + billing-address enrichment
    * from the parent order.
    */
  def shipping(pages: Dataset[String]): DataFrame =
    shippingFromDocs(docs(pages, "orders", orderPayload))

  def shippingFromDocs(d: DataFrame): DataFrame =
    d.select(col("d.id").as("order_id"), col("d.billing_address").as("ba"),
        explode(col("d.shipping_lines")).as("sl"))
      .select(
        col("sl.id").as("id"),
        col("order_id"),
        col("sl.code").as("code"),
        col("sl.price").cast(money).as("price"),
        col("sl.discounted_price").cast(money).as("discounted_price"),
        col("sl.price_set.presentment_money.currency_code").as("currency"),
        col("sl.title").as("title"),
        col("sl.source").as("source"),
        col("sl.phone").as("phone"),
        col("ba.address1").as("address"),
        col("ba.city").as("city"),
        col("ba.zip").as("zip"),
        col("ba.country").as("country"),
        col("ba.latitude").as("latitude"),
        col("ba.longitude").as("longitude"))

  /** N4 (`shopify.py:478-527`): products + exploded variants. */
  def products(pages: Dataset[String]): DataFrame =
    docs(pages, "products", productPayload).select(
      col("d.id").as("id"), col("d.title").as("title"), col("d.status").as("status"),
      col("d.product_type").as("product_type"), col("d.created_at").as("created_at"),
      col("d.updated_at").as("updated_at"), col("d.vendor").as("vendor"))

  def productVariants(pages: Dataset[String]): DataFrame =
    docs(pages, "products", productPayload)
      .select(explode(col("d.variants")).as("v"))
      .select(
        col("v.id").as("id"), col("v.product_id").as("product_id"),
        col("v.price").cast(money).as("price"), col("v.title").as("title"),
        col("v.sku").as("sku"), col("v.option1").as("option1"),
        col("v.option2").as("option2"), col("v.option3").as("option3"),
        col("v.created_at").as("created_at"), col("v.updated_at").as("updated_at"))

  /** `shopify.py:391-410`: per-order transaction documents. `order_id`
    * comes from the per-transaction field when present, else from the
    * page-level `order_id` injected by the fan-out (IngestPipeline
    * wrapPage), mirroring the reference's `order_id=i` injection.
    */
  private val transactionPage = StructType(Seq(
    StructField("order_id", LongType),
    StructField("transactions", ArrayType(transactionPayload))))

  def transactions(pages: Dataset[String]): DataFrame =
    pages.toDF("body")
      .select(from_json(col("body"), transactionPage).as("p"))
      .select(col("p.order_id").as("page_order_id"), explode(col("p.transactions")).as("d"))
      .select(
        col("d.id").as("id"),
        coalesce(col("d.order_id"), col("page_order_id")).as("order_id"),
        col("d.status").as("status"), col("d.amount").cast(money).as("amount"),
        col("d.currency").as("currency"), col("d.error_code").as("error_code"),
        col("d.gateway").as("gateway"), col("d.kind").as("kind"),
        col("d.created_at").as("created_at"), col("d.processed_at").as("processed_at"))

  /** N5/N8 (`shopify.py:438-463`): refunds with `transactions[0].id` and
    * nested-array count. Page bodies must carry `order_id` injected as a
    * top-level field by the fan-out (the API response does not repeat it).
    */
  private val refundPage = StructType(Seq(
    StructField("order_id", LongType),
    StructField("refunds", ArrayType(refundPayload))))

  def refunds(pages: Dataset[String]): DataFrame =
    pages.toDF("body")
      .select(from_json(col("body"), refundPage).as("p"))
      .select(col("p.order_id").as("order_id"), explode(col("p.refunds")).as("d"))
      .select(
        col("d.id").as("id"),
        col("order_id"),
        try_element_at(col("d.transactions"), lit(1)).getField("id").as("transaction_id"),
        col("d.note").as("note"),
        coalesce(size(col("d.refund_line_items")), lit(0)).as("refunded_product_cnt"),
        col("d.created_at").as("created_at"),
        col("d.processed_at").as("processed_at"))

  def refundLineItems(pages: Dataset[String]): DataFrame =
    pages.toDF("body")
      .select(from_json(col("body"), refundPage).as("p"))
      .select(explode(col("p.refunds")).as("d"))
      .select(col("d.id").as("refund_id"), explode(col("d.refund_line_items")).as("rli"))
      .select(
        col("rli.id").as("id"),
        col("refund_id"),
        col("rli.line_item.id").as("line_item_product_id"),
        col("rli.quantity").as("quantity"),
        col("rli.subtotal_set.shop_money.currency_code").as("currency"),
        col("rli.subtotal").cast(money).as("refund_amount"))

  /** Conform a normalized frame to the stored schema (field order + types +
    * nullability erasure) before upsert.
    */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)

  /** Empty frame with a table's exact schema (DDL bootstrap, S9). */
  def emptyTable(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
}
