package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's flagship relational workload: `tripletex_invoice`
  * (`/root/reference/setup.sql:192-394`) rebuilt as composable
  * DataFrame functions — one lazily-composed Catalyst plan instead of a
  * Postgres view, per SURVEY.md §3 E2.
  *
  * Documented divergences from Postgres (SURVEY §7.4 risk 4 — each pins a
  * deterministic order where PG was arbitrary):
  *  - W1 tie-break: transaction significance ranking adds `t.id` as final
  *    key (`setup.sql:196-205` leaves ties unordered).
  *  - W2: shipping dedup ranks by ("INVOICE DATE", s.id) and filters the
  *    real window rank (the reference's inner `WHERE rank = 1` binds to the
  *    constant `pl.rank`, a no-op — the work happens at the outer filter).
  *  - PG `CONCAT(...)` ignores NULL arguments (unlike `||` and unlike
  *    Spark's `concat`): reproduced via [[pgConcat]].
  *
  * All joins against dimension tables (orders, customers) are broadcast —
  * at scale the fact sides (transactions, line items) shuffle only where a
  * window or distinct demands it.
  */
object InvoiceView {

  /** Input tables, keyed by the reference's table names. */
  case class Tables(customers: DataFrame, orders: DataFrame, transactions: DataFrame,
                    lineItemProducts: DataFrame, shipping: DataFrame, refunds: DataFrame,
                    lineItemProductRefunds: DataFrame)

  /** F1 (`setup.sql:220`): CAST(RIGHT(CAST(id AS CHAR(12)), 9) AS INT).
    * PG CHAR(12) RIGHT-pads the decimal text with spaces (truncating past
    * 12 chars), so RIGHT(…,9) keeps characters 4..12 — digits 4 onward,
    * NOT the last nine digits. Property-tested against a driver-side PG
    * model across magnitudes. Divergence: ids shorter than 4 digits make
    * the slice blank — PG's int cast errors there; we yield null (no real
    * Shopify id is that short).
    */
  def tripletexId(id: Column): Column = {
    val char12 = rpad(substring(id.cast("string"), 1, 12), 12, " ")
    val right9 = trim(substring(char12, -9, 9))
    when(right9 === "", lit(null).cast("int")).otherwise(right9.cast("int"))
  }

  /** PG `CONCAT`: null arguments are treated as empty strings. */
  private def pgConcat(cols: Column*): Column =
    concat(cols.map(c => coalesce(c, lit(""))): _*)

  private val nullText = lit(null).cast("string")

  /** CTE success_transaction_payments (`setup.sql:193-213`): successful
    * non-gift-card payment transactions ranked by significance per order.
    */
  def successTransactionPayments(transactions: DataFrame): DataFrame = {
    val significance = when(col("kind") === "sale", 1)
      .when(col("kind") === "capture", 2)
      .when(col("kind") === "authorization", 3)
      .otherwise(10)
    val w = Window.partitionBy(col("order_id")).orderBy(significance.asc, col("id").asc)
    transactions
      .filter(col("status") === "success" &&
        col("kind").isin("sale", "capture", "authorization") &&
        col("gateway") =!= "gift_card")
      .withColumn("transaction_rank", row_number().over(w))
  }

  /** The 21-column shape shared by all four branches (`setup.sql:216-356`). */
  private val branchCols = Seq(
    "transaction_id", "order_id", "payment_tag", "CUSTOMER NO", "CUSTOMER NAME",
    "ORDER NO", "PAID AMOUNT", "ORDER LINE - COUNT", "ORDER LINE - PROD NAME",
    "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT", "ORDER LINE - VAT CODE",
    "ORDER LINE - DESCRIPTION", "ORDER LINE - PROD NO", "PAYMENT TYPE",
    "INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE", "rank", "priority")

  /** CTE gift_card_lines (`setup.sql:215-246`). */
  def giftCardLines(t: Tables, stp: DataFrame): DataFrame = {
    val tx = t.transactions.as("t").filter(col("gateway") === "gift_card")
    val stp1 = stp.filter(col("transaction_rank") === 1).as("stp")
    tx
      .join(broadcast(t.orders.as("o")), col("o.id") === col("t.order_id"), "left")
      .join(broadcast(t.customers.as("c")), col("c.id") === col("o.customer_id"), "left")
      .join(stp1, col("stp.order_id") === col("t.order_id"), "left")
      .filter(col("stp.transaction_rank") === 1)
      .select(
        col("t.id").as("transaction_id"),
        col("o.id").as("order_id"),
        lit("payment").as("payment_tag"),
        tripletexId(col("c.id")).as("CUSTOMER NO"),
        col("c.name").as("CUSTOMER NAME"),
        col("o.name").as("ORDER NO"),
        col("stp.amount").as("PAID AMOUNT"),
        lit(1).as("ORDER LINE - COUNT"),
        lit("Gift card").as("ORDER LINE - PROD NAME"),
        (-col("t.amount")).as("ORDER LINE - UNIT PRICE"),
        lit(0).cast("decimal(38,9)").as("ORDER LINE - DISCOUNT"),
        lit(3).as("ORDER LINE - VAT CODE"),
        nullText.as("ORDER LINE - DESCRIPTION"),
        lit("GIFTCARD").as("ORDER LINE - PROD NO"),
        col("stp.gateway").as("PAYMENT TYPE"),
        to_date(col("o.created_at")).as("INVOICE DATE"),
        to_date(col("t.processed_at")).as("DELIVERY DATE"),
        to_date(col("o.created_at")).as("ORDER DATE"),
        to_date(col("t.processed_at")).as("DUE DATE"),
        lit(1).as("rank"),
        lit(4).as("priority"))
  }

  /** CTE product_lines (`setup.sql:247-286`). The vestigial `discounts`
    * join (J4 — selects nothing, table always empty) is dropped; safe only
    * together with the union-distinct (SURVEY §7.4 risk 2).
    */
  def productLines(t: Tables, stp: DataFrame): DataFrame = {
    val stp1 = stp.filter(col("transaction_rank") === 1).as("t")
    stp1
      .join(broadcast(t.orders.as("o")), col("o.id") === col("t.order_id"), "left")
      .join(broadcast(t.customers.as("c")), col("c.id") === col("o.customer_id"), "left")
      .join(t.lineItemProducts.as("lip"), col("lip.order_id") === col("o.id"), "left")
      .select(
        col("t.id").as("transaction_id"),
        col("o.id").as("order_id"),
        lit("payment").as("payment_tag"),
        tripletexId(col("c.id")).as("CUSTOMER NO"),
        col("c.name").as("CUSTOMER NAME"),
        col("o.name").as("ORDER NO"),
        col("t.amount").as("PAID AMOUNT"),
        col("lip.quantity").as("ORDER LINE - COUNT"),
        when(nullif(col("lip.title"), lit("")).isNotNull &&
             nullif(col("lip.variant_title"), lit("")).isNotNull,
          pgConcat(col("lip.title"), lit(" - "), col("lip.variant_title")))
          .when(col("lip.title").isNotNull, col("lip.title"))
          .otherwise(nullText).as("ORDER LINE - PROD NAME"),
        col("lip.unit_price").as("ORDER LINE - UNIT PRICE"),
        (lit(100) * (lit(1) - ((col("lip.total_price") - col("lip.total_discount_amount")) /
          nullif(col("lip.total_price"), lit(0))))).as("ORDER LINE - DISCOUNT"),
        lit(3).as("ORDER LINE - VAT CODE"),
        nullText.as("ORDER LINE - DESCRIPTION"),
        col("lip.sku").cast("string").as("ORDER LINE - PROD NO"),
        col("t.gateway").as("PAYMENT TYPE"),
        to_date(col("o.created_at")).as("INVOICE DATE"),
        to_date(col("t.processed_at")).as("DELIVERY DATE"),
        to_date(col("o.created_at")).as("ORDER DATE"),
        to_date(col("t.processed_at")).as("DUE DATE"),
        lit(1).as("rank"),
        lit(1).as("priority"))
  }

  /** CTE refund_lines (`setup.sql:287-329`). */
  def refundLines(t: Tables): DataFrame = {
    val tx = t.transactions.as("t")
      .filter(col("status") === "success" && col("kind") === "refund")
    tx
      .join(t.refunds.as("r"), col("r.transaction_id") === col("t.id"), "inner")
      .join(t.lineItemProductRefunds.as("lipr"), col("lipr.refund_id") === col("r.id"), "left")
      .join(broadcast(t.orders.as("o")), col("o.id") === col("t.order_id"), "left")
      .join(broadcast(t.customers.as("c")), col("c.id") === col("o.customer_id"), "left")
      .join(t.lineItemProducts.as("lip"),
        col("lip.order_id") === col("r.order_id") &&
          col("lip.id") === col("lipr.line_item_product_id"), "left")
      .select(
        col("t.id").as("transaction_id"),
        col("o.id").as("order_id"),
        lit("refund").as("payment_tag"),
        tripletexId(col("c.id")).as("CUSTOMER NO"),
        col("c.name").as("CUSTOMER NAME"),
        pgConcat(col("o.name"), lit("-1")).as("ORDER NO"),
        (-coalesce(col("lipr.refund_amount"), col("t.amount"))).as("PAID AMOUNT"),
        (-coalesce(col("lipr.quantity"), lit(1))).as("ORDER LINE - COUNT"),
        when(col("lip.title").isNotNull,
          pgConcat(col("lip.title"), lit(" - "), col("lip.variant_title")))
          .otherwise(nullText).as("ORDER LINE - PROD NAME"),
        coalesce(round(col("lipr.refund_amount") / col("lipr.quantity"), 2), col("t.amount"))
          .as("ORDER LINE - UNIT PRICE"),
        lit(0).cast("decimal(38,9)").as("ORDER LINE - DISCOUNT"),
        lit(3).as("ORDER LINE - VAT CODE"),
        coalesce(nullif(col("r.note"), lit("")), lit("Refund with unspecified reason"))
          .as("ORDER LINE - DESCRIPTION"),
        col("lip.sku").cast("string").as("ORDER LINE - PROD NO"),
        col("t.gateway").as("PAYMENT TYPE"),
        to_date(col("r.created_at")).as("INVOICE DATE"),
        to_date(col("r.processed_at")).as("DELIVERY DATE"),
        to_date(col("o.created_at")).as("ORDER DATE"),
        to_date(col("r.processed_at")).as("DUE DATE"),
        lit(1).as("rank"),
        lit(2).as("priority"))
  }

  /** CTE shipping_lines (`setup.sql:330-357`): product_lines ⨝ shipping,
    * deduplicated to one shipping row per order by the W2 window (with the
    * deterministic s.id tie-break). The reference's inner `WHERE rank = 1`
    * binds to pl.rank (constant 1, no-op); the effective dedup is the outer
    * rank filter — here applied directly on the window rank, same result.
    *
    * Rewritten WITHOUT the pl input (r7): every column this branch projects
    * from pl is constant per order — they all derive from the rank-1 stp
    * row, orders, and customers, never from a line item — and the
    * reference's (INVOICE DATE, s.id) dedup ordering reduces to s.id alone
    * because INVOICE DATE (o.created_at) is also constant per order. So the
    * branch is stp1 ⨝ orders ⨝ customers ⨝ (rank-1 shipping row per order),
    * which drops a whole product_lines recomputation (lineitem scan +
    * per-order window + lip dedup exchange) and shrinks the W2 window to
    * the shipping table alone. Equality with the pl-joined form is
    * spec-asserted (InvoiceViewSpec) and oracle-checked (the DuckDB mirror
    * still runs the reference's pl-joined CTE).
    */
  def shippingLines(t: Tables, stp: DataFrame): DataFrame = {
    val stp1 = stp.filter(col("transaction_rank") === 1).as("t")
    val sw = Window.partitionBy(col("order_id")).orderBy(col("id").asc)
    val s1 = t.shipping.withColumn("ship_rank", row_number().over(sw))
      .filter(col("ship_rank") === 1).as("s")
    stp1
      .join(broadcast(t.orders.as("o")), col("o.id") === col("t.order_id"), "left")
      .join(broadcast(t.customers.as("c")), col("c.id") === col("o.customer_id"), "left")
      .join(s1, col("s.order_id") === col("o.id"), "inner")
      .select(
        col("t.id").as("transaction_id"),
        col("o.id").as("order_id"),
        lit("payment").as("payment_tag"),
        tripletexId(col("c.id")).as("CUSTOMER NO"),
        col("c.name").as("CUSTOMER NAME"),
        col("o.name").as("ORDER NO"),
        col("t.amount").as("PAID AMOUNT"),
        lit(1).as("ORDER LINE - COUNT"),
        nullText.as("ORDER LINE - PROD NAME"),
        col("s.price").as("ORDER LINE - UNIT PRICE"),
        coalesce(lit(100) * (lit(1) - (col("s.discounted_price") / nullif(col("s.price"), lit(0)))),
          lit(0)).as("ORDER LINE - DISCOUNT"),
        lit(3).as("ORDER LINE - VAT CODE"),
        col("s.title").as("ORDER LINE - DESCRIPTION"),
        lit("SHIPPING").as("ORDER LINE - PROD NO"),
        col("t.gateway").as("PAYMENT TYPE"),
        to_date(col("o.created_at")).as("INVOICE DATE"),
        to_date(col("t.processed_at")).as("DELIVERY DATE"),
        to_date(col("o.created_at")).as("ORDER DATE"),
        to_date(col("t.processed_at")).as("DUE DATE"),
        lit(1).as("rank"),
        lit(3).as("priority"))
  }

  /** The 8-column lip projection product_lines actually consumes, deduped —
    * the pushed-down form of the view's UNION-distinct (see
    * [[tripletexInvoice]]). One canonical definition so the view and the
    * pair-index twin build PLAN-IDENTICAL subtrees (cache/exchange reuse).
    */
  private def dedupedLip(lip: DataFrame): DataFrame =
    lip.select(
      col("order_id"), col("quantity"), col("title"), col("variant_title"),
      col("unit_price"), col("total_price"), col("total_discount_amount"),
      col("sku"))
      // one order_id exchange serves BOTH the distinct and the downstream
      // order_id join: hash-partitioning on order_id (a subset of the 8
      // dedup keys) satisfies the aggregate's clustered distribution, so
      // the distinct runs single-phase with no 8-column exchange, and the
      // product_lines join finds its side already partitioned (the stp
      // side arrives order_id-partitioned from its rank window). Two
      // exchanges of line-level data become one.
      .repartition(col("order_id"))
      .distinct()

  /** Align a branch to the canonical 21-column shape with unified types
    * (PG's set-op type resolution made the branches union-compatible).
    */
  private[graft] def aligned(df: DataFrame): DataFrame = {
    val money = Seq("PAID AMOUNT", "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT")
    val typed = money.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("decimal(38,9)")))
    typed.select(branchCols.map(col): _*)
  }

  /** The full view (`setup.sql:358-394`): UNION-distinct of the four
    * branches (load-bearing dedup), outer rank filter, money rounding,
    * final projection + sort. `priority` participates in the sort only.
    */
  /** `sorted = false` skips the view's trailing ORDER BY
    * (`setup.sql:392-393`) for consumers that immediately re-sort (the
    * numbering pipeline): a global range sort below a persist() would be
    * materialized, not optimized away.
    */
  def tripletexInvoice(t: Tables, sorted: Boolean = true,
                       persist: Boolean = true,
                       pushedDistinct: Boolean = true): DataFrame = {
    // stp feeds product_lines and gift_card_lines; product_lines feeds the
    // union and shipping_lines — persisting both roughly halves the
    // pipeline's cold time (measured by profiling the view). The final
    // view is NOT persisted: its consumers traverse it once, and columnar
    // cache construction for the wide result costs more than recomputing.
    // ── Pushed-distinct rewrite (default) ─────────────────────────────────
    // The trailing UNION-distinct (`setup.sql:358-365`, load-bearing dedup)
    // is a wide 21-column hash-shuffle over every line-level row. It can be
    // pushed below the joins because:
    //  (1) the four branches are pairwise DISJOINT row sets — each carries
    //      its own `priority` literal (1..4) as a row column — so the
    //      global distinct ≡ union of per-branch distincts;
    //  (2) product_lines rows are unique once its lip input is deduped on
    //      the 8 columns the branch projects: stp rank-1 is unique per
    //      order (row_number), orders/customers join by PRIMARY KEY, and
    //      t.id rides in every row — so duplicates can only originate in
    //      the narrow lip projection;
    //  (3) shipping_lines (ship_rank=1 per order) and gift_card_lines (one
    //      row per gift transaction id) are structurally duplicate-free;
    //  (4) refund_lines keeps a branch-LOCAL distinct (tiny: one row per
    //      refund line) — two distinct lipr rows can reference different
    //      lip rows that project identically.
    // Equality with the literal wide distinct is spec-asserted
    // (InvoiceViewSpec), including on inputs with planted duplicate line
    // items. Caveat: assumes money inputs are already at ≤ (38,9) decimal
    // scale (true for every Shopify-normalized table) — otherwise the
    // pre-cast dedup could be finer than the post-cast one; pass
    // pushedDistinct=false for exotic inputs.
    // Persist policy (measured on the view's variants): persist the
    // NARROW shared inputs — stp (one row per successful payment) and the
    // deduped 8-column lip projection — never the wide `pl`. Caching the
    // wide view costs more to build than its consumers save, and racing
    // broadcast subtrees double-build it; the narrow caches are cheap to
    // build and serve every consumer (union, shipping, pair index).
    val stp0 = successTransactionPayments(t.transactions)
    val stp = if (persist) stp0.persist() else stp0
    val plInput = if (pushedDistinct) {
      val lipDedup0 = dedupedLip(t.lineItemProducts)
      t.copy(lineItemProducts = if (persist) lipDedup0.persist() else lipDedup0)
    } else t
    val pl0 = productLines(plInput, stp)
    // wide-distinct path keeps the legacy pl persist (its distinct consumes
    // pl twice as often); pushed path reads pl straight through
    val pl = if (persist && !pushedDistinct) pl0.persist() else pl0
    val refunds0 = aligned(refundLines(t))
    val refunds = if (pushedDistinct) refunds0.distinct() else refunds0
    val unionAll = aligned(pl)
      .unionByName(refunds)
      .unionByName(aligned(shippingLines(t, stp)))
      .unionByName(aligned(giftCardLines(t, stp)))
    val deduped = (if (pushedDistinct) unionAll else unionAll.distinct())
      .filter(col("rank") === 1)
    val unioned =
      if (sorted) deduped.orderBy(col("INVOICE DATE").desc, col("order_id").asc,
        col("CUSTOMER NAME").asc, col("priority").asc)
      else deduped
    unioned.select(
      col("transaction_id"), col("order_id"), col("payment_tag"),
      col("CUSTOMER NO"), col("CUSTOMER NAME"), col("ORDER NO"),
      round(col("PAID AMOUNT"), 2).as("PAID AMOUNT"),
      col("ORDER LINE - COUNT"),
      col("ORDER LINE - PROD NAME"),
      round(col("ORDER LINE - UNIT PRICE"), 2).as("ORDER LINE - UNIT PRICE"),
      round(col("ORDER LINE - DISCOUNT"), 2).as("ORDER LINE - DISCOUNT"),
      col("ORDER LINE - VAT CODE"),
      col("ORDER LINE - DESCRIPTION"),
      col("ORDER LINE - PROD NO"),
      col("PAYMENT TYPE"),
      col("INVOICE DATE"), col("DELIVERY DATE"), col("ORDER DATE"), col("DUE DATE"))
  }

  /** Narrow 3-column twin of the view for pair-index building: the DISTINCT
    * set of (ORDER NO, payment_tag, INVOICE DATE) triples the view carries —
    * the only thing [[InvoiceNumbers.numberInvoicesIndexed]] consumes (it
    * date-filters, distincts the pairs, and numbers them).
    *
    * Slimmed to TWO branches (r7). The view's four branches yield:
    *  - product_lines: (o.name, 'payment', date(o.created_at)) per rank-1
    *    payment order — lip only multiplies rows, never changes the triple;
    *  - shipping_lines / gift_card_lines: the SAME triple for a SUBSET of
    *    those orders (both require the rank-1 stp row and project the same
    *    o.name / o.created_at) — no new triples;
    *  - refund_lines: (o.name||'-1', 'refund', date(r.created_at)) per
    *    refund ⨝ transaction — lipr/lip multiply rows only.
    * So the distinct triple set ≡ payment branch ∪ refund branch, and the
    * index needs no lineitem, customers, or shipping input at all
    * (triple-set equality with the literal 4-branch union is
    * spec-asserted, GoldenE2ESpec).
    */
  def tripletexInvoicePairDates(t: Tables): DataFrame = {
    val stp1 = successTransactionPayments(t.transactions)
      .filter(col("transaction_rank") === 1).as("t")
    val payment = stp1
      .join(broadcast(t.orders.as("o")), col("o.id") === col("t.order_id"), "left")
      .select(col("o.name").as("ORDER NO"), lit("payment").as("payment_tag"),
        to_date(col("o.created_at")).as("INVOICE DATE"))
    val refundTriples = t.transactions.as("t")
      .filter(col("status") === "success" && col("kind") === "refund")
      .join(t.refunds.as("r"), col("r.transaction_id") === col("t.id"), "inner")
      .join(broadcast(t.orders.as("o")), col("o.id") === col("t.order_id"), "left")
      .select(pgConcat(col("o.name"), lit("-1")).as("ORDER NO"),
        lit("refund").as("payment_tag"),
        to_date(col("r.created_at")).as("INVOICE DATE"))
    payment.unionByName(refundTriples)
  }

  /** View tripletex_customer_map (`setup.sql:396-404`). */
  def tripletexCustomerMap(customers: DataFrame): DataFrame =
    customers.select(
      col("id").as("shopify_id"),
      tripletexId(col("id")).as("tripletex_id"),
      col("name").as("name"),
      col("phone").as("phone"),
      col("email").as("email"))
}
