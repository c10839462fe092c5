package graft.verify

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference's runtime invariant suite (`/root/reference/tripletex.py:
  * 30-242`) — 8 checks over the numbered invoice frame, each returning a
  * pass/fail [[Finding]] with the reference's exact warning text.
  *
  * Divergence (documented, SURVEY §7.4 risk 7): `_none_values` in the
  * reference returns only the LAST column's status (`tripletex.py:42`, a
  * bug); here a missing value in ANY required column fails the check. The
  * warning messages are unchanged, and every order list in them is sorted.
  *
  * Scale: the eight checks are three Spark actions over the frame (which
  * `InvoiceNumbers.numberInvoices` hands over materialized): one global
  * aggregation with a conditional `collect_set` of ORDER NO per finding,
  * one gap pass (`lag`) over the distinct order and invoice numbers, and
  * the per-order price aggregation. Only the warning lists and the gap
  * bounds are collected.
  */
object Checks {

  final case class Finding(check: String, passed: Boolean, warnings: Seq[String])

  /** The eight findings and `tripletex.py:214-219`'s info counters:
    * distinct ordinary (PAID AMOUNT ≥ 0) and refund (< 0) orders.
    */
  final case class Report(findings: Seq[Finding], ordinary: Long, refund: Long)

  val requiredFields: Seq[String] = Seq(
    "CUSTOMER NO", "ORDER NO", "PAID AMOUNT", "ORDER LINE - COUNT",
    "ORDER LINE - UNIT PRICE", "ORDER LINE - VAT CODE", "PAYMENT TYPE",
    "INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE", "INVOICE NO")

  /** `tripletex.py:204-242` entry: empty-string → null normalization (P10)
    * then all 8 checks.
    */
  def verifyInvoices(raw: DataFrame, knownGateways: Option[Seq[String]]): Seq[Finding] =
    verify(raw, knownGateways).findings

  /** [[verifyInvoices]] with the order counters, taken in the same three
    * actions.
    */
  def verify(raw: DataFrame, knownGateways: Option[Seq[String]]): Report = {
    val df = normalizeEmpty(raw)
    val paid = col("PAID AMOUNT")
    // a struct per flagged row keeps a null ORDER NO, which collect_set drops
    def flagged(cond: Column, cols: String*): Column =
      sort_array(collect_set(when(cond, struct(cols.map(col): _*))))
    val unknownGateway = knownGateways.fold(lit(false))(gw =>
      !coalesce(col("PAYMENT TYPE").isin(gw: _*), lit(false)))
    // tripletex.py:128-139, 165-177, 45-62, 142-162 (P5), 214-219, then 30-42
    val aggs = Seq(
      "refunds" -> flagged(paid <= 0, "ORDER NO"),
      "gift_cards" -> flagged(col("ORDER LINE - PROD NO") === "GIFTCARD", "ORDER NO"),
      "description_or_sku" -> flagged(
        col("ORDER LINE - PROD NO").isNull && col("ORDER LINE - DESCRIPTION").isNull, "ORDER NO"),
      "unknown_gateway" -> flagged(unknownGateway, "ORDER NO", "PAYMENT TYPE"),
      "ordinary" -> size(collect_set(when(paid >= 0, col("ORDER NO")))),
      "refund" -> size(collect_set(when(paid < 0, col("ORDER NO"))))) ++
      requiredFields.map(f => f -> flagged(col(f).isNull, "ORDER NO"))
    val row = df.agg(aggs.head._2, aggs.tail.map(_._2): _*).head()
    val at = aggs.map(_._1).zipWithIndex.toMap
    def orders(name: String): Seq[String] = row.getSeq[Row](at(name)).map(_.getString(0))
    def listed(check: String, items: Seq[String])(text: Seq[String] => String): Finding =
      Finding(check, items.isEmpty, if (items.isEmpty) Nil else Seq(text(items)))
    val missingFields = requiredFields.flatMap { f =>
      val o = orders(f)
      if (o.isEmpty) None else Some(s"Required column $f is missing for orders ${o.mkString(", ")}")
    }
    val gateways = row.getSeq[Row](at("unknown_gateway"))
    val (orderGaps, invoiceGaps) = gaps(df)
    val findings = Seq(
      listed("refunds", orders("refunds"))(r =>
        s"The following ${r.length} orders are refunds: ${r.mkString(", ")}"),
      listed("gift_cards", orders("gift_cards"))(g =>
        s"The following ${g.length} orders include gift cards: ${g.mkString(", ")}."),
      listed("order_no", orderGaps.map("#" + _))(m =>
        s"The following ${m.length} orders are missing: ${m.mkString(", ")}"),
      listed("invoice_no", invoiceGaps.map(_.toString))(m =>
        s"The following ${m.length} invoice numbers are missing: ${m.mkString(", ")}"),
      Finding("none_values", missingFields.isEmpty, missingFields),
      listed("description_or_sku", orders("description_or_sku"))(e =>
        s"The following ${e.length} orders miss either " +
          s"'ORDER LINE - PROD NO' or 'ORDER LINE - DESCRIPTION': ${e.mkString(", ")}"),
      price(df),
      Finding("unknown_gateway", gateways.isEmpty,
        gateways.map(r => s"Order ${r.get(0)} has an unknown payment gateway: '${r.get(1)}'")))
    Report(findings, row.getInt(at("ordinary")), row.getInt(at("refund")))
  }

  def passed(findings: Seq[Finding]): Boolean = findings.forall(_.passed)

  /** P10 (`tripletex.py:210-211`): '' → null on string columns. */
  def normalizeEmpty(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType != StringType) col(f.name)
      else when(col(f.name) === "", lit(null)).otherwise(col(f.name)).as(f.name)
    }: _*)

  /** `tripletex.py:65-99`: the missing numbers, ascending, between the
    * smallest and largest order number of non-refund rows (F11 parse) and
    * between those of the invoice numbers — one `lag` pass over the
    * distinct numbers; the collected gaps are expanded one by one. Only
    * '#<digits>' names are parsed: a zero-amount refund row ('#5-1') passes
    * the amount filter, and ANSI mode throws on its cast (the reference's
    * `int(str[1:])` raises on it too).
    */
  private def gaps(df: DataFrame): (Seq[Long], Seq[Long]) = {
    val orderNo = col("ORDER NO")
    val nums = df.filter(col("PAID AMOUNT") >= 0)
      .select(lit(0).as("k"),
        when(orderNo.rlike("^#[0-9]+$"), substring(orderNo, 2, 18).cast("long")).as("n"))
      .union(df.select(lit(1).as("k"), col("INVOICE NO").cast("long").as("n")))
      .filter(col("n").isNotNull).distinct()
    val rows = nums
      .select(col("k"), col("n"),
        lag(col("n"), 1).over(Window.partitionBy(col("k")).orderBy(col("n"))).as("prev"))
      .filter(col("n") - col("prev") > 1)
      .collect()
    def missing(k: Int): Seq[Long] = rows.toSeq.filter(_.getInt(0) == k)
      .map(r => (r.getLong(2), r.getLong(1))).sorted
      .flatMap { case (prev, n) => prev + 1 until n }
    (missing(0), missing(1))
  }

  /** `tripletex.py:102-125`: per-order Σ(count×unit×(100−disc)/100) vs the
    * order's PAID AMOUNT (A2 `first`, made deterministic with min_by), flag
    * >1% deviation. A null DISCOUNT propagates null through the product and
    * `sum` skips it — exactly pandas' NaN-skipping sum, so null-discount
    * lines contribute nothing to lineitems_total. min_by keys on a stable
    * composite ending in PAID AMOUNT itself, so the selected VALUE is
    * deterministic even when every other column ties (multi-line refunds
    * carry per-line PAID AMOUNTs under one ORDER NO).
    */
  private def price(df: DataFrame): Finding = {
    val lineTotal = col("ORDER LINE - COUNT") * col("ORDER LINE - UNIT PRICE") *
      (lit(100) - col("ORDER LINE - DISCOUNT")) / lit(100)
    val grouped = df
      .withColumn("price_after_discount", lineTotal)
      .groupBy(col("ORDER NO"))
      .agg(
        min_by(col("PAID AMOUNT"),
          struct(col("INVOICE NO"), col("ORDER LINE - PROD NO"),
            col("ORDER LINE - UNIT PRICE"), col("PAID AMOUNT"))).as("paid_amount"),
        // pandas sum(skipna) of an all-NaN group is 0.0, Spark's is NULL
        coalesce(sum(col("price_after_discount")), lit(0)).as("lineitems_total"))
      .withColumn("diff", abs(col("paid_amount") - col("lineitems_total")))
      .filter(col("diff") > abs(col("paid_amount")) * 0.01)
      .orderBy(col("ORDER NO"))
    val rows = grouped.select(col("ORDER NO"), col("diff")).collect()
    Finding("price", rows.isEmpty,
      rows.map(r => s"Order ${r.get(0)} has a deviation between the total " +
        s"amount paid and the sum of all lineitems of ${r.get(1)}").toSeq)
  }
}
