package opsbench

import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.ingest.ShopifyClient.{HttpResponse, Transport}

/** The Shopify REST surface the ingest uses, served from memory for one
  * [[Shop]] as it stands at instant `asOf`: the three list endpoints with
  * `created_at_min`/`created_at_max`, `limit`, `status` and `page_info`
  * cursors in `Link` headers, and the per-order `transactions` and `refunds`
  * sub-resources. Every request sleeps `delayMicros` first, so the
  * concurrency of the fan-outs shows up in wall time.
  */
final class UpstreamState(shop: Shop, val asOf: Long, val delayMicros: Long, base: String) {
  import Shop._

  private def customerDoc(c: Customer): String =
    s"""{"id":${c.id},"email":${q(s"${c.first}.${c.last}${c.id % 1000}@example.no".toLowerCase)},""" +
      s""""first_name":${q(c.first)},"last_name":${q(c.last)},"phone":null,"note":null,""" +
      s""""total_spent":"0.00","verified_email":true,"accepts_marketing":${c.id % 2 == 0},""" +
      s""""created_at":${q(ts(c.createdAt))},"updated_at":${q(ts(c.createdAt))},""" +
      s""""default_address":{"name":${q(c.first + " " + c.last)},"address1":"Gata ${c.id % 97}",""" +
      s""""city":${q(c.city)},"zip":"0150","country":"Norway","phone":"+47400${c.id % 100000}"}}"""

  private def productDoc(p: Product): String = {
    val vs = p.variants.map { v =>
      s"""{"id":${v.id},"product_id":${p.id},"price":"${money(v.priceC)}","title":${qo(v.title)},""" +
        s""""sku":${q(v.sku)},"option1":${qo(v.title)},"option2":null,"option3":null,""" +
        s""""created_at":${q(ts(p.createdAt))},"updated_at":${q(ts(p.createdAt))}}"""
    }.mkString(",")
    s"""{"id":${p.id},"title":${q(p.title)},"status":"active","product_type":${q(p.ptype)},""" +
      s""""vendor":"Brand","created_at":${q(ts(p.createdAt))},"updated_at":${q(ts(p.createdAt))},""" +
      s""""variants":[$vs]}"""
  }

  private def moneySet(c: Long) = s"""{"presentment_money":{"amount":"${money(c)}","currency_code":"NOK"}}"""

  private def orderDoc(o: Order): String = {
    val lines = o.lines.map { l =>
      val tax = if (l.taxable) s"""[{"price":"${money(l.netC / 5)}","rate":0.25,"title":"MVA"}]""" else "[]"
      val disc = if (l.discC > 0) s"""[{"amount":"${money(l.discC)}"}]""" else "[]"
      s"""{"id":${l.id},"product_id":${l.v.productId},"title":${q(l.productTitle)},""" +
        s""""variant_title":${qo(l.v.title)},"sku":${q(l.v.sku)},"price":"${money(l.v.priceC)}",""" +
        s""""quantity":${l.qty},"vendor":"Brand","taxable":${l.taxable},"tax_lines":$tax,""" +
        s""""price_set":${moneySet(l.v.priceC)},"discount_allocations":$disc}"""
    }.mkString(",")
    val ships = o.ships.map { s =>
      s"""{"id":${s.id},"code":${q(s.title.toLowerCase)},"price":"${money(s.priceC)}",""" +
        s""""discounted_price":"${money(s.discountedC)}","title":${q(s.title)},"source":"shopify",""" +
        s""""phone":null,"tax_lines":[],"price_set":${moneySet(s.priceC)}}"""
    }.mkString(",")
    val closed = if (o.fulfilledAt <= asOf) q(ts(o.fulfilledAt)) else "null"
    val fulfillment = if (o.fulfilledAt <= asOf) "\"fulfilled\"" else "null"
    val c = o.customer
    s"""{"id":${o.id},"name":${q(o.name)},"customer":{"id":${c.id}},""" +
      s""""financial_status":${q(o.financialStatus(asOf))},"fulfillment_status":$fulfillment,""" +
      s""""total_price":"${money(o.totalC)}","total_line_items_price":"${money(o.lines.map(_.grossC).sum)}",""" +
      s""""total_discounts":"${money(o.lines.map(_.discC).sum)}","total_tax":"${money(o.totalC / 5)}",""" +
      s""""taxes_included":true,"currency":"NOK","created_at":${q(ts(o.createdAt))},""" +
      s""""closed_at":$closed,"processed_at":${q(ts(o.createdAt))},""" +
      s""""billing_address":{"name":${q(c.first + " " + c.last)},"address1":"Gata ${c.id % 97}",""" +
      s""""city":${q(c.city)},"zip":"0150","country":"Norway","phone":null,"latitude":59.91,""" +
      s""""longitude":10.75},"line_items":[$lines],"shipping_lines":[$ships]}"""
  }

  private def txDoc(t: Tx): String =
    s"""{"id":${t.id},"order_id":${t.orderId},"status":${q(t.status)},"amount":"${money(t.amountC)}",""" +
      s""""currency":"NOK","error_code":${if (t.status == "failure") "\"card_declined\"" else "null"},""" +
      s""""gateway":${q(t.gateway)},"kind":${q(t.kind)},"created_at":${q(ts(t.createdAt))},""" +
      s""""processed_at":${q(ts(t.createdAt + 5))}}"""

  private def refundDoc(r: Refund): String = {
    val rls = r.lines.map { rl =>
      s"""{"id":${rl.id},"quantity":${rl.qty},"line_item":{"id":${rl.line.id}},""" +
        s""""subtotal":"${money(rl.amountC)}","subtotal_set":{"shop_money":{"currency_code":"NOK"}}}"""
    }.mkString(",")
    s"""{"id":${r.id},"note":${qo(r.note)},"transactions":[{"id":${r.tx.id}}],""" +
      s""""created_at":${q(ts(r.createdAt))},"processed_at":${q(ts(r.createdAt + 5))},""" +
      s""""refund_line_items":[$rls]}"""
  }

  /** (created_at, open, document) per list endpoint, in id order. */
  private val lists: Map[String, Vector[(Long, Boolean, String)]] = Map(
    "customers" -> shop.customerList.filter(_.createdAt <= asOf).map(c => (c.createdAt, true, customerDoc(c))),
    "products" -> shop.products.filter(_.createdAt <= asOf).map(p => (p.createdAt, true, productDoc(p))),
    "orders" -> shop.orders.filter(_.createdAt <= asOf)
      .map(o => (o.createdAt, o.fulfilledAt > asOf, orderDoc(o))))

  private val byOrder: Map[Long, Order] = shop.orders.filter(_.createdAt <= asOf).map(o => o.id -> o).toMap

  private val OrderSub = """orders/(\d+)/(transactions|refunds)\.json""".r

  def serve(url: String, params: Map[String, String]): HttpResponse = {
    if (!url.startsWith(base)) return HttpResponse(404, "Not Found", Map.empty, "{}")
    url.stripPrefix(base) match {
      case OrderSub(id, "transactions") =>
        ok(byOrder.get(id.toLong).fold("")(_.txsAt(asOf).map(txDoc).mkString(",")), "transactions")
      case OrderSub(id, "refunds") =>
        ok(byOrder.get(id.toLong).fold("")(_.refundsAt(asOf).map(refundDoc).mkString(",")), "refunds")
      case ep @ ("customers.json" | "products.json" | "orders.json") =>
        val name = ep.stripSuffix(".json")
        // page_info carries the original query; Shopify forbids repeating it
        val query = params.get("page_info").map(decode).getOrElse(params - "page_info")
        val offset = query.get("__offset").fold(0)(_.toInt)
        val limit = math.min(250, params.get("limit").fold(50)(_.toInt))
        val lo = query.get("created_at_min").fold(Long.MinValue)(parseTs)
        val hi = query.get("created_at_max").fold(Long.MaxValue)(parseTs)
        val anyStatus = name != "orders" || query.get("status").contains("any")
        val matching = lists(name).filter { case (t, open, _) => t >= lo && t <= hi && (anyStatus || open) }
        val page = matching.slice(offset, offset + limit).map(_._3)
        val headers =
          if (offset + limit >= matching.size) Map.empty[String, String]
          else {
            val cursor = encode(query + ("__offset" -> (offset + limit).toString))
            Map("Link" -> s"""<$base$ep?limit=$limit&page_info=$cursor>; rel="next"""")
          }
        HttpResponse(200, "OK", headers, s"""{"$name":[${page.mkString(",")}]}""")
      case _ => HttpResponse(404, "Not Found", Map.empty, "{}")
    }
  }

  private def ok(items: String, field: String) = HttpResponse(200, "OK", Map.empty, s"""{"$field":[$items]}""")

  private def encode(m: Map[String, String]): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      m.toSeq.sorted.map { case (k, v) => s"$k\u0001$v" }.mkString("\u0002").getBytes(StandardCharsets.UTF_8))

  private def decode(s: String): Map[String, String] =
    new String(Base64.getUrlDecoder.decode(s), StandardCharsets.UTF_8).split('\u0002')
      .map(_.split('\u0001')).map(a => a(0) -> a(1)).toMap
}

/** JVM-global registry and counters. Fan-out tasks deserialize their own
  * copies of the transport, so nothing that counts may live in a transport
  * instance.
  */
object Upstream {
  val Base = "https://bench.myshopify.com/admin/api/2021-07/"

  private val states = new ConcurrentHashMap[String, UpstreamState]()
  def register(key: String, s: UpstreamState): Unit = states.put(key, s)

  val listCalls = new AtomicLong
  val fanoutCalls = new AtomicLong
  val waitNanos = new AtomicLong
  val retries = new AtomicLong
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  def resetCounters(): Unit = {
    listCalls.set(0); fanoutCalls.set(0); waitNanos.set(0); retries.set(0); inflightMax.set(0)
  }

  /** The client's retry sleeper: counts, then sleeps. */
  val sleeper: Long => Unit = ms => { retries.incrementAndGet(); Thread.sleep(ms) }

  /** In-memory upstream, addressed by registry key. */
  final class SyntheticTransport(key: String) extends Transport {
    def get(url: String, params: Map[String, String]): HttpResponse = {
      val s = states.get(key)
      if (s.delayMicros > 0) java.util.concurrent.locks.LockSupport.parkNanos(s.delayMicros * 1000)
      s.serve(url, params)
    }
  }

  /** Decorator that meters any transport: call counts by kind, time inside
    * `get`, requests in flight, and one trace span per call.
    */
  final class MeteredTransport(inner: Transport) extends Transport {
    def get(url: String, params: Map[String, String]): HttpResponse = {
      val fanout = url.contains("/orders/")
      (if (fanout) fanoutCalls else listCalls).incrementAndGet()
      val now = inflight.incrementAndGet()
      inflightMax.accumulateAndGet(now, math.max)
      val t0 = System.nanoTime()
      try inner.get(url, params)
      finally {
        val t1 = System.nanoTime()
        inflight.decrementAndGet()
        waitNanos.addAndGet(t1 - t0)
        Trace.span("ingest", if (fanout) "get.fanout" else "get.list", t0, t1)
      }
    }
  }
}
