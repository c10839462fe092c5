package graft.verify

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Edge-case coverage for the 8 invariant checks beyond the golden E2E
  * run: gap messages, null-gateway P5 semantics, empty-string
  * normalization, price-tolerance boundary rows, sorted order lists, null
  * keys and degenerate frames. Each case reads its finding from
  * `verifyInvoices`, the checks' one entry point.
  */
class ChecksSpec extends SparkSuite {
  import spark.implicits._

  private def frame(rows: Seq[(Int, String, Double, Int, Double, Double, String, Long, String)]) =
    rows.toDF("CUSTOMER NO", "ORDER NO", "PAID AMOUNT", "ORDER LINE - COUNT",
        "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT", "PAYMENT TYPE",
        "INVOICE NO", "ORDER LINE - PROD NO")
      .withColumn("ORDER LINE - VAT CODE", lit(3))
      .withColumn("ORDER LINE - DESCRIPTION", lit(null).cast("string"))
      .withColumn("ORDER LINE - PROD NAME", lit("x"))
      .withColumn("INVOICE DATE", lit("2021-05-01").cast("date"))
      .withColumn("DELIVERY DATE", lit("2021-05-01").cast("date"))
      .withColumn("ORDER DATE", lit("2021-05-01").cast("date"))
      .withColumn("DUE DATE", lit("2021-05-01").cast("date"))

  private def finding(df: org.apache.spark.sql.DataFrame, check: String,
                      gateways: Option[Seq[String]] = None): Checks.Finding =
    Checks.verifyInvoices(df, gateways).find(_.check == check).get

  test("order_no gap detection reports missing '#'-numbers of non-refund rows") {
    val df = frame(Seq(
      (1, "#100", 10.0, 1, 10.0, 0.0, "Vipps", 1L, "A"),
      (1, "#103", 10.0, 1, 10.0, 0.0, "Vipps", 2L, "A"),
      (1, "#102-1", -5.0, -1, 5.0, 0.0, "Vipps", 3L, "A"))) // refund: excluded
    val f = finding(df, "order_no")
    assert(!f.passed)
    assert(f.warnings.head == "The following 2 orders are missing: #101, #102")
  }

  test("invoice_no gap detection") {
    val df = frame(Seq(
      (1, "#1", 10.0, 1, 10.0, 0.0, "V", 100L, "A"),
      (1, "#2", 10.0, 1, 10.0, 0.0, "V", 104L, "A")))
    val f = finding(df, "invoice_no")
    assert(!f.passed)
    assert(f.warnings.head.contains("101, 102, 103"))
  }

  test("unknown_gateway keeps null payment types (pandas ~isin semantics)") {
    val df = frame(Seq(
      (1, "#1", 10.0, 1, 10.0, 0.0, null, 1L, "A"),
      (1, "#2", 10.0, 1, 10.0, 0.0, "Vipps", 2L, "A")))
    val f = finding(df, "unknown_gateway", Some(Seq("Vipps")))
    assert(!f.passed)
    assert(f.warnings.length == 1 && f.warnings.head.contains("#1"))
    assert(finding(df, "unknown_gateway", None).passed, "no allow-list → vacuous pass")
  }

  test("price check flags only >1% deviations and honors discounts") {
    val df = frame(Seq(
      // order #1: paid 100, line total = 2 × 50 × (100-0)/100 = 100 → ok
      (1, "#1", 100.0, 2, 50.0, 0.0, "V", 1L, "A"),
      // order #2: paid 100, line total = 1 × 100 × (100-10)/100 = 90 → 10% off
      (1, "#2", 100.0, 1, 100.0, 10.0, "V", 2L, "A"),
      // order #3: paid 100, lines 99.5 → 0.5% → inside tolerance
      (1, "#3", 100.0, 1, 99.5, 0.0, "V", 3L, "A")))
    val f = finding(df, "price")
    assert(!f.passed)
    assert(f.warnings.length == 1 && f.warnings.head.contains("#2"))
  }

  test("normalizeEmpty turns empty strings into nulls before checks") {
    val df = frame(Seq((1, "#1", 10.0, 1, 10.0, 0.0, "", 1L, "")))
    val n = Checks.normalizeEmpty(df)
    assert(n.filter(col("PAYMENT TYPE").isNull).count() == 1)
    assert(n.filter(col("ORDER LINE - PROD NO").isNull).count() == 1)
    // and none_values then reports PAYMENT TYPE as missing
    val f = finding(n, "none_values")
    assert(!f.passed && f.warnings.exists(_.startsWith("Required column PAYMENT TYPE")))
  }

  test("orderCounts splits ordinary vs refund-only orders") {
    val df = frame(Seq(
      (1, "#1", 10.0, 1, 10.0, 0.0, "V", 1L, "A"),
      (1, "#2-1", -10.0, -1, 10.0, 0.0, "V", 2L, "A")))
    val r = Checks.verify(df, None)
    assert((r.ordinary, r.refund) == (1L, 1L))
  }

  test("none_values and description_or_sku list their orders sorted") {
    val df = frame(Seq(
      (1, "#9", 10.0, 1, 10.0, 0.0, null, 1L, null),
      (1, "#10", 10.0, 1, 10.0, 0.0, null, 2L, null),
      (1, "#2", 10.0, 1, 10.0, 0.0, null, 3L, null),
      (1, "#10", 10.0, 1, 10.0, 0.0, null, 2L, null)))
    assert(finding(df, "none_values").warnings ==
      Seq("Required column PAYMENT TYPE is missing for orders #10, #2, #9"))
    assert(finding(df, "description_or_sku").warnings == Seq("The following 3 orders miss " +
      "either 'ORDER LINE - PROD NO' or 'ORDER LINE - DESCRIPTION': #10, #2, #9"))
  }

  test("a null ORDER NO is still named in none_values") {
    val df = frame(Seq(
      (1, null, 10.0, 1, 10.0, 0.0, "V", 1L, "A"),
      (1, "#2", 10.0, 1, 10.0, 0.0, "V", 2L, "A")))
    val f = finding(df, "none_values")
    assert(!f.passed)
    assert(f.warnings == Seq("Required column ORDER NO is missing for orders null"))
  }

  test("an empty frame passes all eight checks") {
    val df = frame(Nil)
    val findings = Checks.verifyInvoices(df, Some(Seq("Vipps")))
    assert(findings.map(_.check) == Seq("refunds", "gift_cards", "order_no", "invoice_no",
      "none_values", "description_or_sku", "price", "unknown_gateway"))
    assert(findings.forall(f => f.passed && f.warnings.isEmpty))
    val r = Checks.verify(df, None)
    assert((r.ordinary, r.refund) == (0L, 0L))
  }

  test("a frame of refunds only") {
    val df = frame(Seq(
      (1, "#7-1", -5.0, -1, 5.0, 0.0, "V", 1L, "A"),
      (1, "#3-1", -8.0, -1, 8.0, 0.0, "V", 2L, "A")))
    val r = Checks.verify(df, Some(Seq("V")))
    val byName = r.findings.map(f => f.check -> f).toMap
    assert(byName("refunds").warnings == Seq("The following 2 orders are refunds: #3-1, #7-1"))
    assert(byName("order_no").passed, "no non-refund rows → no order-number range")
    assert(byName("invoice_no").passed && byName("price").passed)
    assert((r.ordinary, r.refund) == (0L, 2L))
  }

  test("a single order passes every check") {
    val df = frame(Seq((1, "#5", 10.0, 1, 10.0, 0.0, "V", 7L, "A")))
    assert(Checks.passed(Checks.verifyInvoices(df, Some(Seq("V")))))
  }

  test("adjacent numbers and several gaps") {
    val df = frame(Seq(
      (1, "#1", 10.0, 1, 10.0, 0.0, "V", 10L, "A"),
      (1, "#2", 10.0, 1, 10.0, 0.0, "V", 11L, "A"),
      (1, "#4", 10.0, 1, 10.0, 0.0, "V", 13L, "A"),
      (1, "#7", 10.0, 1, 10.0, 0.0, "V", 16L, "A"),
      (1, "#7", 10.0, 1, 10.0, 0.0, "V", 16L, "A")))
    assert(finding(df, "order_no").warnings == Seq("The following 3 orders are missing: #3, #5, #6"))
    assert(finding(df, "invoice_no").warnings ==
      Seq("The following 3 invoice numbers are missing: 12, 14, 15"))
  }

  test("a null INVOICE NO is missing, not a gap") {
    val df = frame(Seq(
      (1, "#1", 10.0, 1, 10.0, 0.0, "V", 1L, "A"),
      (1, "#2", 10.0, 1, 10.0, 0.0, "V", 0L, "A"),
      (1, "#3", 10.0, 1, 10.0, 0.0, "V", 2L, "A")))
      .withColumn("INVOICE NO", when(col("ORDER NO") =!= "#2", col("INVOICE NO")))
    assert(finding(df, "invoice_no").passed)
    assert(finding(df, "none_values").warnings ==
      Seq("Required column INVOICE NO is missing for orders #2"))
  }
}
