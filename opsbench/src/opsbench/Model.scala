package opsbench

import scala.collection.mutable

/** One `shopifyUpdate` call as the upstream sees it: the created_at window
  * (whole UTC days, inclusive) and the instant the upstream is read at.
  */
final case class SyncSpec(fromDay: Int, toDay: Int, asOf: Long) {
  def createdAtMin: String = Shop.ts(Shop.dayStart(fromDay))
  def createdAtMax: String = Shop.ts(Shop.dayEnd(toDay))
}

/** Expected store contents after a sequence of syncs: what the upstream
  * holds for each sync's window, keyed by id. Each stored order has the
  * transactions and refunds the upstream shows for it at the sync, whatever
  * financial status the store kept for the order.
  */
final class StoreModel(shop: Shop) {
  val ids: Map[String, mutable.Set[Long]] = Seq("customers", "orders", "products",
    "product_variants", "line_item_products", "transactions", "shipping", "refunds",
    "line_item_product_refunds", "discounts").map(_ -> mutable.Set.empty[Long]).toMap

  def copy(): StoreModel = {
    val m = new StoreModel(shop)
    ids.foreach { case (t, s) => m.ids(t) ++= s }
    m
  }

  def counts: Map[String, Long] = ids.map { case (t, s) => t -> s.size.toLong }

  /** Apply one sync; returns, per table, the rows the upstream holds for
    * its window (the batch a correct sync upserts).
    */
  def apply(spec: SyncSpec): Map[String, Long] = {
    val served = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def put(t: String, id: Long): Unit = { ids(t) += id; served(t) += 1 }
    def inWindow(t: Long) = t >= Shop.dayStart(spec.fromDay) && t <= Shop.dayEnd(spec.toDay) && t <= spec.asOf
    shop.customerList.filter(c => inWindow(c.createdAt)).foreach(c => put("customers", c.id))
    shop.products.filter(p => inWindow(p.createdAt)).foreach { p =>
      put("products", p.id); p.variants.foreach(v => put("product_variants", v.id))
    }
    val window = shop.ordersIn(spec.fromDay, spec.toDay).filter(o => inWindow(o.createdAt))
    window.foreach { o =>
      put("orders", o.id)
      o.lines.foreach(l => put("line_item_products", l.id))
      o.ships.foreach(s => put("shipping", s.id))
      o.txsAt(spec.asOf).foreach(t => put("transactions", t.id))
      o.refundsAt(spec.asOf).foreach { r =>
        put("refunds", r.id); r.lines.foreach(l => put("line_item_product_refunds", l.id))
      }
    }
    served.toMap
  }
}

/** Expected outcome of the invoice sequence (view → numbering → gateway
  * rename → checks → CSV) over a [[StoreModel]], computed row by row from
  * the generated documents with the view's documented semantics.
  */
object InvoiceOracle {
  final case class Row(orderNo: String, paidC: Long, count: Int, unitC: Long, discBp: Long,
                       prodNo: Option[String], gateway: String)

  final case class Expected(rows: Int, findings: Map[String, (Boolean, Seq[String])])

  private val significance = Map("sale" -> 1, "capture" -> 2, "authorization" -> 3)

  def expected(shop: Shop, m: StoreModel, fromDay: Int, toDay: Int): Expected = {
    val rows = mutable.ArrayBuffer.empty[Row]
    def inRange(t: Long) = { val d = Shop.dayOf(t); d >= fromDay && d <= toDay }
    for (o <- shop.orders if m.ids("orders").contains(o.id)) {
      val txs = (o.payments ++ o.refunds.map(_.tx)).filter(t => m.ids("transactions").contains(t.id))
      val stp1 = txs.filter(t => t.status == "success" && significance.contains(t.kind) &&
        t.gateway != "gift_card").sortBy(t => (significance(t.kind), t.id)).headOption
      for (p <- stp1 if inRange(o.createdAt)) {
        o.lines.foreach { l =>
          rows += Row(o.name, p.amountC, l.qty, l.v.priceC, l.discPct * 100L, Some(l.v.sku), p.gateway)
        }
        o.ships.sortBy(_.id).headOption.foreach { s =>
          val bp = if (s.priceC == 0) 0L else 10000L - s.discountedC * 10000L / s.priceC
          rows += Row(o.name, p.amountC, 1, s.priceC, bp, Some("SHIPPING"), p.gateway)
        }
        txs.filter(_.gateway == "gift_card").foreach { g =>
          rows += Row(o.name, p.amountC, 1, -g.amountC, 0L, Some("GIFTCARD"), p.gateway)
        }
      }
      val refunds = o.refunds.filter(r => m.ids("refunds").contains(r.id) &&
        m.ids("transactions").contains(r.tx.id))
      if (refunds.exists(r => inRange(r.createdAt)))
        for (r <- refunds; rl <- r.lines if m.ids("line_item_product_refunds").contains(rl.id))
          rows += Row(o.name + "-1", -rl.amountC, -rl.qty, rl.line.unitNetC, 0L,
            Some(rl.line.v.sku), r.tx.gateway)
    }
    val renamed = rows.map(r => r.copy(gateway = Shop.GatewayRenames.getOrElse(r.gateway, r.gateway)))
    val known = Shop.GatewayRenames.values.toSet
    def names(rs: Iterable[Row]) = rs.map(_.orderNo).toSeq.distinct.sorted

    val refundsF = names(renamed.filter(_.paidC <= 0))
    val giftF = names(renamed.filter(_.prodNo.contains("GIFTCARD")))
    val nums = renamed.filter(_.paidC >= 0).map(_.orderNo.drop(1).toLong).distinct
    val missing = if (nums.isEmpty) Nil else ((nums.min + 1) until nums.max).filterNot(nums.toSet).map("#" + _)
    // price: Σ count·unit·(100−disc)/100 vs the PAID AMOUNT of the row
    // min_by picks (min PROD NO, UNIT PRICE, PAID AMOUNT); flag > 1 %
    val priceF = renamed.groupBy(_.orderNo).toSeq.flatMap { case (no, rs) =>
      val paid = BigDecimal(rs.minBy(r => (r.prodNo.getOrElse(""), r.unitC, r.paidC)).paidC)
      val total = rs.map(r => BigDecimal(r.count) * r.unitC * (10000 - r.discBp) / 10000).sum
      if ((paid - total).abs > paid.abs * BigDecimal("0.01")) Some(no) else None
    }.sorted
    val gatewayF = names(renamed.filterNot(r => known.contains(r.gateway)))
    def f(xs: Seq[String]) = (xs.isEmpty, xs)
    Expected(renamed.size, Map(
      "refunds" -> f(refundsF), "gift_cards" -> f(giftF), "order_no" -> f(missing),
      "invoice_no" -> f(Nil), "none_values" -> f(Nil), "description_or_sku" -> f(Nil),
      "price" -> f(priceF), "unknown_gateway" -> f(gatewayF)))
  }

  /** Order names a finding's warnings mention, sorted and distinct. */
  def mentioned(warnings: Seq[String]): Seq[String] =
    warnings.flatMap(w => "#\\d+(?:-1)?".r.findAllIn(w)).distinct.sorted
}
