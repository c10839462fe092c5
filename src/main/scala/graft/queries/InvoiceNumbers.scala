package graft.queries

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Invoice-number assignment (`/root/reference/db.py:409-483`): date-window
  * the view, build a distinct ("ORDER NO", payment_tag) index, number it
  * with a start offset, and RIGHT JOIN back — the range restriction of the
  * full view happens *via the join* (filtering-by-join, SURVEY §3 E2), not
  * by filtering `ti` itself. Reproduced exactly.
  *
  * Divergence (documented, SURVEY §2.5 W3): the reference numbers with
  * `ROW_NUMBER() OVER ()` — arbitrary order. We impose
  * ORDER BY ("ORDER NO", payment_tag): deterministic, still dense from
  * `invoiceStartId`.
  *
  * Scale note: the global row_number runs on the *grouped index* (one row
  * per order+tag), orders of magnitude smaller than the line-level view —
  * a single-partition window over it is the right trade at any SF.
  *
  * [[numberInvoices]] returns the numbered frame materialized: an eager
  * `localCheckpoint` computes it once, in one Spark action, and cuts its
  * lineage. The gateway rename, the checks and the CSV export then plan
  * over the checkpointed rows, never over the view and its store scans.
  * The rows live in the block manager until the frame is unreferenced or
  * its RDD is unpersisted.
  */
object InvoiceNumbers {

  def numberInvoices(view: DataFrame, fromDate: LocalDate, toDate: LocalDate,
                     invoiceStartId: Long): DataFrame = {
    val inRange = view.filter(
      col("INVOICE DATE").between(lit(fromDate.toString).cast("date"),
        lit(toDate.toString).cast("date")))
    val ind = inRange
      .groupBy(col("ORDER NO"), col("payment_tag")).agg(count(lit(1)).as("__n")).drop("__n")
      .withColumn("INVOICE NO",
        row_number().over(Window.orderBy(col("ORDER NO"), col("payment_tag"))) +
          lit(invoiceStartId) - 1)
    view.as("ti")
      .join(ind.as("ind"), Seq("ORDER NO", "payment_tag"), "right")
      .select(
        col("ti.transaction_id").as("transaction_id"),
        col("ti.order_id").as("order_id"),
        col("ti.CUSTOMER NO").as("CUSTOMER NO"),
        col("ti.CUSTOMER NAME").as("CUSTOMER NAME"),
        col("ORDER NO"),
        col("ti.PAID AMOUNT").as("PAID AMOUNT"),
        col("ti.PAYMENT TYPE").as("PAYMENT TYPE"),
        col("ti.ORDER LINE - COUNT").as("ORDER LINE - COUNT"),
        col("ti.ORDER LINE - PROD NAME").as("ORDER LINE - PROD NAME"),
        col("ti.ORDER LINE - UNIT PRICE").as("ORDER LINE - UNIT PRICE"),
        col("ti.ORDER LINE - DISCOUNT").as("ORDER LINE - DISCOUNT"),
        col("ti.ORDER LINE - VAT CODE").as("ORDER LINE - VAT CODE"),
        col("ti.ORDER LINE - DESCRIPTION").as("ORDER LINE - DESCRIPTION"),
        col("ti.ORDER LINE - PROD NO").as("ORDER LINE - PROD NO"),
        col("ti.INVOICE DATE").as("INVOICE DATE"),
        col("ti.DELIVERY DATE").as("DELIVERY DATE"),
        col("ti.ORDER DATE").as("ORDER DATE"),
        col("ti.DUE DATE").as("DUE DATE"),
        col("ind.INVOICE NO").as("INVOICE NO"))
      .orderBy(col("INVOICE NO"), col("CUSTOMER NAME"))
      .localCheckpoint()
  }

  /** F15 (`tripletex.py:194-201`): map-driven gateway rename with identity
    * fallback.
    */
  def replaceInvoiceGateway(df: DataFrame, renames: Map[String, String]): DataFrame = {
    val c = renames.foldLeft(col("PAYMENT TYPE")) { case (acc, (from, to)) =>
      when(col("PAYMENT TYPE") === from, to).otherwise(acc)
    }
    df.withColumn("PAYMENT TYPE", c)
  }
}
