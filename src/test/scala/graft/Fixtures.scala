package graft

/** Shopify API payload fixtures (FIXTURES.md §B shapes) driving the
  * offline golden end-to-end test: 2 customers (paginated), 3 products,
  * 3 orders covering the edge set called out in FIXTURES.md — duplicate
  * line items (union-dedup), two shipping lines (W2 dedup), empty
  * tax_lines, discount allocation, missing variant_title, a refund with
  * line items, and a gift-card transaction.
  */
object Fixtures {

  val base = "https://example.myshopify.com/admin/api/2021-07/"

  private val customersPage1 =
    """{"customers":[{"id":9000000001,"email":"ola@example.no","first_name":"Ola",
      |"last_name":"Nordmann","phone":null,"note":null,"total_spent":"1648.00",
      |"verified_email":true,"accepts_marketing":false,
      |"created_at":"2021-05-01T10:00:00Z","updated_at":"2021-05-01T10:00:00Z",
      |"default_address":{"name":"Ola Nordmann","address1":"Gata 1","city":"Oslo",
      |"zip":"0150","country":"Norway","phone":"+4740000000"}}]}""".stripMargin.replace("\n", "")

  private val customersPage2 =
    """{"customers":[{"id":9000000002,"email":"kari@example.no","first_name":"Kari",
      |"last_name":"Hansen","phone":"+4741111111","note":"VIP",
      |"total_spent":"847.00","verified_email":true,"accepts_marketing":true,
      |"created_at":"2021-05-01T11:00:00Z","updated_at":"2021-05-01T11:00:00Z",
      |"default_address":{"name":"Kari Hansen","address1":"Veien 2","city":"Bergen",
      |"zip":"5003","country":"Norway","phone":null}}]}""".stripMargin.replace("\n", "")

  private val products =
    """{"products":[
      |{"id":5000000001,"title":"Sweater","status":"active","product_type":"Apparel",
      | "vendor":"Brand","created_at":"2021-04-01T00:00:00Z","updated_at":"2021-04-01T00:00:00Z",
      | "variants":[{"id":6000000001,"product_id":5000000001,"price":"1499.00","title":"M",
      |  "sku":"SW-M","option1":"M","option2":null,"option3":null,
      |  "created_at":"2021-04-01T00:00:00Z","updated_at":"2021-04-01T00:00:00Z"}]},
      |{"id":5000000002,"title":"T-shirt","status":"active","product_type":"Apparel",
      | "vendor":"Brand","created_at":"2021-04-01T00:00:00Z","updated_at":"2021-04-01T00:00:00Z",
      | "variants":[{"id":6000000002,"product_id":5000000002,"price":"399.00","title":"L",
      |  "sku":"TS-L","option1":"L","option2":null,"option3":null,
      |  "created_at":"2021-04-01T00:00:00Z","updated_at":"2021-04-01T00:00:00Z"}]},
      |{"id":5000000003,"title":"Mug","status":"active","product_type":"Kitchen",
      | "vendor":"Brand","created_at":"2021-04-01T00:00:00Z","updated_at":"2021-04-01T00:00:00Z",
      | "variants":[{"id":6000000003,"product_id":5000000003,"price":"199.00","title":"Default",
      |  "sku":"MUG-1","option1":null,"option2":null,"option3":null,
      |  "created_at":"2021-04-01T00:00:00Z","updated_at":"2021-04-01T00:00:00Z"}]}]}""".stripMargin.replace("\n", "")

  /** Order #1042: duplicate line items (dedup is load-bearing) + TWO
    * shipping lines (W2 keeps s.id = 8000000001).
    */
  private val orders =
    """{"orders":[
      |{"id":4000000001,"name":"#1042","customer":{"id":9000000001},
      | "financial_status":"paid","fulfillment_status":"fulfilled",
      | "total_price":"1648.00","total_line_items_price":"1499.00",
      | "total_discounts":"0.00","total_tax":"329.60","taxes_included":true,"currency":"NOK",
      | "created_at":"2021-05-02T09:00:00Z","closed_at":null,"processed_at":"2021-05-02T09:00:00Z",
      | "billing_address":{"name":"Ola Nordmann","address1":"Gata 1","city":"Oslo","zip":"0150",
      |  "country":"Norway","phone":null,"latitude":59.91,"longitude":10.75},
      | "line_items":[
      |  {"id":7000000001,"product_id":5000000001,"title":"Sweater","variant_title":"M",
      |   "sku":"SW-M","price":"1499.00","quantity":1,"vendor":"Brand","taxable":true,
      |   "tax_lines":[{"price":"299.80","rate":0.25,"title":"MVA"}],
      |   "price_set":{"presentment_money":{"amount":"1499.00","currency_code":"NOK"}},
      |   "discount_allocations":[]},
      |  {"id":7000000002,"product_id":5000000001,"title":"Sweater","variant_title":"M",
      |   "sku":"SW-M","price":"1499.00","quantity":1,"vendor":"Brand","taxable":true,
      |   "tax_lines":[{"price":"299.80","rate":0.25,"title":"MVA"}],
      |   "price_set":{"presentment_money":{"amount":"1499.00","currency_code":"NOK"}},
      |   "discount_allocations":[]}],
      | "shipping_lines":[
      |  {"id":8000000001,"code":"standard","price":"149.00","discounted_price":"149.00",
      |   "title":"Standard","source":"shopify","phone":null,"tax_lines":[],
      |   "price_set":{"presentment_money":{"amount":"149.00","currency_code":"NOK"}}},
      |  {"id":8000000002,"code":"express","price":"99.00","discounted_price":"89.00",
      |   "title":"Express","source":"shopify","phone":null,"tax_lines":[],
      |   "price_set":{"presentment_money":{"amount":"99.00","currency_code":"NOK"}}}]},
      |{"id":4000000002,"name":"#1043","customer":{"id":9000000002},
      | "financial_status":"refunded","fulfillment_status":"fulfilled",
      | "total_price":"847.00","total_line_items_price":"798.00",
      | "total_discounts":"0.00","total_tax":"169.40","taxes_included":true,"currency":"NOK",
      | "created_at":"2021-05-03T10:00:00Z","closed_at":null,"processed_at":"2021-05-03T10:00:00Z",
      | "billing_address":{"name":"Kari Hansen","address1":"Veien 2","city":"Bergen","zip":"5003",
      |  "country":"Norway","phone":null,"latitude":60.39,"longitude":5.32},
      | "line_items":[
      |  {"id":7000000101,"product_id":5000000002,"title":"T-shirt","variant_title":"L",
      |   "sku":"TS-L","price":"399.00","quantity":2,"vendor":"Brand","taxable":true,
      |   "tax_lines":[{"price":"159.60","rate":0.25,"title":"MVA"}],
      |   "price_set":{"presentment_money":{"amount":"399.00","currency_code":"NOK"}},
      |   "discount_allocations":[]}],
      | "shipping_lines":[
      |  {"id":8000000101,"code":"standard","price":"49.00","discounted_price":"49.00",
      |   "title":"Standard","source":"shopify","phone":null,"tax_lines":[],
      |   "price_set":{"presentment_money":{"amount":"49.00","currency_code":"NOK"}}}]},
      |{"id":4000000003,"name":"#1044","customer":{"id":9000000001},
      | "financial_status":"paid","fulfillment_status":null,
      | "total_price":"99.00","total_line_items_price":"199.00",
      | "total_discounts":"19.90","total_tax":"0.00","taxes_included":true,"currency":"NOK",
      | "created_at":"2021-05-04T12:00:00Z","closed_at":null,"processed_at":"2021-05-04T12:00:00Z",
      | "billing_address":{"name":"Ola Nordmann","address1":"Gata 1","city":"Oslo","zip":"0150",
      |  "country":"Norway","phone":null,"latitude":59.91,"longitude":10.75},
      | "line_items":[
      |  {"id":7000000201,"product_id":5000000003,"title":"Mug","variant_title":null,
      |   "sku":"MUG-1","price":"199.00","quantity":1,"vendor":"Brand","taxable":false,
      |   "tax_lines":[],
      |   "price_set":{"presentment_money":{"amount":"199.00","currency_code":"NOK"}},
      |   "discount_allocations":[{"amount":"19.90"}]}],
      | "shipping_lines":[]}]}""".stripMargin.replace("\n", "")

  private val tx1042 =
    """{"transactions":[
      |{"id":3000000001,"order_id":4000000001,"status":"success","amount":"1648.00",
      | "currency":"NOK","error_code":null,"gateway":"vipps","kind":"sale",
      | "created_at":"2021-05-02T09:00:00Z","processed_at":"2021-05-02T09:00:05Z"},
      |{"id":3000000002,"order_id":4000000001,"status":"success","amount":"1648.00",
      | "currency":"NOK","error_code":null,"gateway":"vipps","kind":"capture",
      | "created_at":"2021-05-02T09:01:00Z","processed_at":"2021-05-02T09:01:05Z"},
      |{"id":3000000003,"order_id":4000000001,"status":"failure","amount":"1648.00",
      | "currency":"NOK","error_code":"card_declined","gateway":"stripe","kind":"sale",
      | "created_at":"2021-05-02T08:59:00Z","processed_at":"2021-05-02T08:59:01Z"}]}""".stripMargin.replace("\n", "")

  private val tx1043 =
    """{"transactions":[
      |{"id":3000000101,"order_id":4000000002,"status":"success","amount":"847.00",
      | "currency":"NOK","error_code":null,"gateway":"stripe","kind":"sale",
      | "created_at":"2021-05-03T10:00:00Z","processed_at":"2021-05-03T10:00:05Z"},
      |{"id":3000000102,"order_id":4000000002,"status":"success","amount":"798.00",
      | "currency":"NOK","error_code":null,"gateway":"stripe","kind":"refund",
      | "created_at":"2021-05-10T14:00:00Z","processed_at":"2021-05-10T14:00:05Z"}]}""".stripMargin.replace("\n", "")

  private val tx1044 =
    """{"transactions":[
      |{"id":3000000201,"order_id":4000000003,"status":"success","amount":"100.00",
      | "currency":"NOK","error_code":null,"gateway":"gift_card","kind":"sale",
      | "created_at":"2021-05-04T12:00:00Z","processed_at":"2021-05-04T12:00:05Z"},
      |{"id":3000000202,"order_id":4000000003,"status":"success","amount":"99.00",
      | "currency":"NOK","error_code":null,"gateway":"vipps","kind":"sale",
      | "created_at":"2021-05-04T12:00:10Z","processed_at":"2021-05-04T12:00:15Z"}]}""".stripMargin.replace("\n", "")

  private val refunds1043 =
    """{"refunds":[
      |{"id":2000000001,"note":"damaged item","transactions":[{"id":3000000102}],
      | "created_at":"2021-05-10T14:00:00Z","processed_at":"2021-05-10T14:00:05Z",
      | "refund_line_items":[
      |  {"id":1000000001,"quantity":2,"line_item":{"id":7000000101},"subtotal":"798.00",
      |   "subtotal_set":{"shop_money":{"currency_code":"NOK"}}}]}]}""".stripMargin.replace("\n", "")

  /** [[transportFixtures]] with a second, zero-amount line on #1043's
    * refund: the invoice view emits it as a '#1043-1' row whose PAID AMOUNT
    * is 0, not negative.
    */
  lazy val zeroRefundLineFixtures: Map[String, String] = transportFixtures.updated(
    s"${base}orders/4000000002/refunds.json", refunds1043.stripSuffix("]}]}") +
      """,{"id":1000000002,"quantity":1,"line_item":{"id":7000000101},"subtotal":"0.00",""" +
      """"subtotal_set":{"shop_money":{"currency_code":"NOK"}}}]}]}""")

  /** [[transportFixtures]] with a second refund of #1043, three days after
    * the first: a refund of its 49.00 shipping with no refund lines. The
    * view's '#1043-1' pair then carries two INVOICE DATEs, 2021-05-10 and
    * 2021-05-13.
    */
  lazy val lateRefundFixtures: Map[String, String] = transportFixtures
    .updated(s"${base}orders/4000000002/transactions.json", tx1043.stripSuffix("]}") +
      """,{"id":3000000103,"order_id":4000000002,"status":"success","amount":"49.00",""" +
      """"currency":"NOK","error_code":null,"gateway":"stripe","kind":"refund",""" +
      """"created_at":"2021-05-13T09:00:00Z","processed_at":"2021-05-13T09:00:05Z"}]}""")
    .updated(s"${base}orders/4000000002/refunds.json", refunds1043.stripSuffix("]}") +
      """,{"id":2000000002,"note":"shipping refunded","transactions":[{"id":3000000103}],""" +
      """"created_at":"2021-05-13T09:00:00Z","processed_at":"2021-05-13T09:00:05Z",""" +
      """"refund_line_items":[]}]}""")

  /** [[transportFixtures]] before #1043 was refunded: every order is
    * `paid`. A later sync with [[transportFixtures]] sees it `refunded`.
    */
  lazy val paidFixtures: Map[String, String] = transportFixtures.updated(s"${base}orders.json",
    orders.replace(""""financial_status":"refunded"""", """"financial_status":"paid""""))

  /** [[paidFixtures]] on a day with no product in the window: the list
    * holds no document, and no order is refunded.
    */
  lazy val paidNoProductFixtures: Map[String, String] =
    paidFixtures.updated(s"${base}products.json", """{"products":[]}""")

  private val emptyRefunds = """{"refunds":[]}"""
  private val emptyTx = """{"transactions":[]}"""

  /** url(+cursor) → body map for FixtureTransport; `::next` entries chain
    * pagination (exercises the Link-header cursor loop, S1).
    */
  val transportFixtures: Map[String, String] = Map(
    s"${base}customers.json" -> customersPage1,
    s"${base}customers.json::next" -> s"${base}customers.json?page_info=cursor2",
    s"${base}customers.json?page_info=cursor2" -> customersPage2,
    s"${base}products.json" -> products,
    s"${base}orders.json" -> orders,
    s"${base}orders/4000000001/transactions.json" -> tx1042,
    s"${base}orders/4000000002/transactions.json" -> tx1043,
    s"${base}orders/4000000003/transactions.json" -> tx1044,
    s"${base}orders/4000000002/refunds.json" -> refunds1043,
    s"${base}orders/4000000001/refunds.json" -> emptyRefunds,
    s"${base}orders/4000000003/refunds.json" -> emptyRefunds,
  )
}
