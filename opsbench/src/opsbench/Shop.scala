package opsbench

import java.time.{Instant, LocalDate, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Deterministic synthetic shop: customers, products, orders, payment and
  * refund transactions, generated from one seed. Money is held in integer
  * cents so every total, discount and refund is exact and reconciles with
  * the invoice price check.
  *
  * Time model: day `d` is the UTC day `Day0 + d`. Every document carries
  * an absolute instant; what the upstream shows depends on the instant it
  * is asked "as of" (refunds appear, orders get fulfilled and closed).
  */
object Shop {
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  private val Day0Sec = Day0.atStartOfDay(ZoneOffset.UTC).toEpochSecond
  val DaySec = 86400L

  def dayStart(d: Int): Long = Day0Sec + d * DaySec
  def dayEnd(d: Int): Long = dayStart(d + 1) - 1
  def dayOf(t: Long): Int = Math.floorDiv(t - Day0Sec, DaySec).toInt
  def date(d: Int): LocalDate = Day0.plusDays(d)

  // Shop-local offset, as the Shopify API renders it: seconds always present.
  private val Offset = ZoneOffset.ofHours(1)
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
  def ts(t: Long): String = OffsetDateTime.ofInstant(Instant.ofEpochSecond(t), Offset).format(Fmt)
  def parseTs(s: String): Long =
    if (s.length == 10) LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    else OffsetDateTime.parse(s).toEpochSecond

  def money(cents: Long): String = {
    val a = math.abs(cents)
    f"${if (cents < 0) "-" else ""}${a / 100}%d.${a % 100}%02d"
  }

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def qo(s: Option[String]): String = s.fold("null")(q)

  /** Invoice gateway renames; the rename targets are the known gateways. */
  val GatewayRenames: Map[String, String] = Map("vipps" -> "Vipps", "stripe" -> "Stripe")
}

final case class Customer(id: Long, createdAt: Long, first: String, last: String, city: String)
final case class Variant(id: Long, productId: Long, priceC: Long, title: Option[String], sku: String)
final case class Product(id: Long, createdAt: Long, title: String, ptype: String,
                         variants: Vector[Variant])
final case class Line(id: Long, v: Variant, productTitle: String, qty: Int, discPct: Int,
                      taxable: Boolean) {
  def grossC: Long = v.priceC * qty
  def discC: Long = grossC * discPct / 100
  def netC: Long = grossC - discC
  def unitNetC: Long = v.priceC * (100 - discPct) / 100
}
final case class ShipLine(id: Long, priceC: Long, discountedC: Long, title: String)
final case class Tx(id: Long, orderId: Long, kind: String, status: String, gateway: String,
                    amountC: Long, createdAt: Long)
final case class RefundLine(id: Long, line: Line, qty: Int) {
  def amountC: Long = line.unitNetC * qty
}
final case class Refund(id: Long, orderId: Long, tx: Tx, note: Option[String], createdAt: Long,
                        lines: Vector[RefundLine])
final case class Order(id: Long, number: Int, createdAt: Long, customer: Customer,
                       lines: Vector[Line], ships: Vector[ShipLine], payments: Vector[Tx],
                       refunds: Vector[Refund], fulfilledAt: Long, gateway: String, paidC: Long) {
  def name: String = "#" + number
  def day: Int = Shop.dayOf(createdAt)
  def totalC: Long = lines.map(_.netC).sum + ships.map(_.discountedC).sum
  def refundsAt(asOf: Long): Vector[Refund] = refunds.filter(_.createdAt <= asOf)
  def txsAt(asOf: Long): Vector[Tx] = payments ++ refundsAt(asOf).map(_.tx)
  def financialStatus(asOf: Long): String = {
    val r = refundsAt(asOf).map(_.tx.amountC).sum
    if (r == 0) "paid" else if (r >= paidC) "refunded" else "partially_refunded"
  }
}

/** The generated shop: `days` days of orders, `perDay` orders per day. Days
  * before `historyDays` come from `historySeed` (the stored history every
  * run shares); later days come from `seed` (each run's own new data).
  */
final class Shop(val historySeed: Long, val seed: Long, val historyDays: Int, val days: Int,
                 val perDay: Int) {
  import Shop._

  private var nCust, nProd, nVar, nOrder, nLine, nShip, nTx, nRefund, nRLine = 0L

  private val firstNames = Vector("Ola", "Kari", "Nora", "Emil", "Jakob", "Ingrid", "Lars", "Sofie")
  private val lastNames = Vector("Nordmann", "Hansen", "Johansen", "Olsen", "Larsen", "Berg")
  private val cities = Vector("Oslo", "Bergen", "Trondheim", "Stavanger", "Tromso")
  private val productWords = Vector("Sweater", "T-shirt", "Mug", "Cap", "Scarf", "Jacket",
    "Socks", "Poster", "Tote", "Mittens")
  private val notes = Vector(Some("damaged item"), Some(""), None, Some("wrong size"))

  val (products: Vector[Product], customerList: Vector[Customer], orders: Vector[Order]) = {
    val prods = Vector.newBuilder[Product]
    var available = Vector.empty[Product]
    var custs = Vector.empty[Customer]
    val ords = Vector.newBuilder[Order]
    var number = 1000
    def newProduct(r: SplittableRandom, at: Long): Product = {
      nProd += 1
      val pid = 7000000000L + nProd
      val word = productWords(r.nextInt(productWords.size))
      val nv = 1 + r.nextInt(3)
      val vs = (0 until nv).map { i =>
        nVar += 1
        val size = Vector("S", "M", "L")(i)
        Variant(7100000000L + nVar, pid, (99 + 50 * r.nextInt(30)) * 100L,
          if (nv == 1 && r.nextInt(4) == 0) None else Some(size), f"SKU-$nProd%04d-$size")
      }.toVector
      Product(pid, at, s"$word $nProd", if (r.nextBoolean()) "Apparel" else "Home", vs)
    }
    for (d <- 0 until days) {
      val r = new SplittableRandom((if (d < historyDays) historySeed else seed) * 1000003L + d)
      val nNew = if (d == 0) 24 else if (d % 5 == 0) 1 else 0
      for (i <- 0 until nNew) {
        val p = newProduct(r, dayStart(d) + 300 + i)
        prods += p; available :+= p
      }
      val times = Array.fill(perDay)(dayStart(d) + 3600 + r.nextInt(82000).toLong).sorted
      for (t <- times) {
        val cust =
          if (custs.isEmpty || r.nextInt(10) < 3) {
            nCust += 1
            val c = Customer(6000000000L + nCust, math.max(dayStart(d) + 1, t - 30 - r.nextInt(1800)),
              firstNames(r.nextInt(firstNames.size)), lastNames(r.nextInt(lastNames.size)),
              cities(r.nextInt(cities.size)))
            custs :+= c; c
          } else custs(r.nextInt(custs.size))
        nOrder += 1
        number += 1
        val oid = 4000000000L + nOrder
        // distinct variants per order: Shopify merges same-variant lines
        val nl = 1 + r.nextInt(3)
        val picked = scala.collection.mutable.LinkedHashSet.empty[Variant]
        while (picked.size < nl) {
          val p = available(r.nextInt(available.size))
          picked += p.variants(r.nextInt(p.variants.size))
        }
        val lines = picked.toVector.map { v =>
          nLine += 1
          val p = available.find(_.id == v.productId).get
          val disc = r.nextInt(10) match { case 7 | 8 => 10; case 9 => 20; case _ => 0 }
          Line(4100000000L + nLine, v, p.title, 1 + r.nextInt(3), disc, r.nextInt(10) != 0)
        }
        val nShips = r.nextInt(20) match { case 0 | 1 => 0; case 2 => 2; case _ => 1 }
        val ships = (0 until nShips).map { _ =>
          nShip += 1
          val price = Vector(4900L, 9900L, 14900L)(r.nextInt(3))
          ShipLine(4200000000L + nShip, price, if (r.nextInt(5) == 0) 0L else price,
            if (price == 4900L) "Standard" else if (price == 9900L) "Express" else "Home delivery")
        }.toVector
        val total = lines.map(_.netC).sum + ships.map(_.discountedC).sum
        val gateway = r.nextInt(20) match { case n if n < 9 => "vipps"; case n if n < 18 => "stripe"; case _ => "klarna" }
        val giftC = if (r.nextInt(100) < 8) math.min(10000L, total / 2) else 0L
        val paid = total - giftC
        def tx(kind: String, status: String, gw: String, amount: Long, at: Long): Tx = {
          nTx += 1; Tx(3000000000L + nTx, oid, kind, status, gw, amount, at)
        }
        val flow = r.nextInt(20)
        val pays = Vector.newBuilder[Tx]
        if (giftC > 0) pays += tx("sale", "success", "gift_card", giftC, t)
        if (flow == 0) {
          pays += tx("sale", "failure", "stripe", paid, t + 1)
          pays += tx("sale", "success", gateway, paid, t + 20)
        } else if (flow < 5) {
          pays += tx("authorization", "success", gateway, paid, t + 2)
          pays += tx("capture", "success", gateway, paid, t + 3600)
        } else pays += tx("sale", "success", gateway, paid, t + 2)
        // refunds: some days after the order, sometimes a second one later
        val refunds = Vector.newBuilder[Refund]
        val refundedQty = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
        var refundedC = 0L
        def refund(at: Long): Unit = {
          val open = lines.filter(l => refundedQty(l.id) < l.qty)
          if (open.nonEmpty) {
            val k = if (open.size >= 2 && r.nextInt(10) < 3) 2 else 1
            val i = r.nextInt(open.size)
            val chosen =
              if (k == 1) Vector(open(i))
              else { val j = (i + 1 + r.nextInt(open.size - 1)) % open.size; Vector(open(i), open(j)) }
            val rls = chosen.map { l =>
              nRLine += 1
              val q = 1 + r.nextInt(l.qty - refundedQty(l.id))
              RefundLine(2100000000L + nRLine, l, q)
            }
            val amount = rls.map(_.amountC).sum
            if (refundedC + amount <= paid) {
              rls.foreach(rl => refundedQty(rl.line.id) += rl.qty)
              refundedC += amount
              nRefund += 1
              refunds += Refund(2000000000L + nRefund, oid, tx("refund", "success", gateway, amount, at),
                notes(r.nextInt(notes.size)), at, rls)
            }
          }
        }
        if (r.nextInt(10) == 0) {
          val first = t + (1 + r.nextInt(5)) * DaySec + r.nextInt(3600)
          refund(first)
          if (r.nextInt(10) < 3) refund(first + (2 + r.nextInt(3)) * DaySec)
        }
        val fulfilled = t + (1 + r.nextInt(3)) * DaySec
        ords += Order(oid, number, t, cust, lines, ships, pays.result(), refunds.result(),
          fulfilled, gateway, paid)
      }
    }
    (prods.result(), custs, ords.result())
  }

  val ordersByDay: Map[Int, Vector[Order]] = orders.groupBy(_.day)
  def ordersIn(from: Int, to: Int): Vector[Order] = (from to to).flatMap(ordersByDay.getOrElse(_, Vector.empty)).toVector
}
