package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ingest.Normalize

/** The parquet-backed equivalent of the reference's Postgres database: 9+1
  * tables under one directory, with per-table upsert key / partial
  * update-column metadata (SURVEY §2.12) and idempotent DDL bootstrap (S9 —
  * `/root/reference/setup.sql`, `dbsetup.sh`).
  *
  * Tables flagged `dayPartitioned` (orders, transactions, refunds — the
  * ones every date-bounded path touches) are laid out partitioned by a
  * derived `__day = to_date(created_at)` column: upserts rewrite only the
  * touched day partitions and [[readBounded]] prunes the scan to the
  * requested date range (PartitionFilters, asserted in GoldenE2ESpec).
  * `__day` is purely physical — [[read]] drops it, so consumers see the
  * exact declared schema either way.
  */
final class ShopifyStore(spark: SparkSession, dir: String) {

  private val DayCol = "__day"

  def path(table: String): String = s"$dir/$table"

  private def withDay(df: DataFrame): DataFrame =
    df.withColumn(DayCol, to_date(col("created_at")))

  /** S9: create any missing table as an empty parquet dir with the exact
    * declared schema — idempotent, like `CREATE TABLE IF NOT EXISTS`.
    * (Partitioned tables bootstrap as empty FLAT dirs — an empty
    * partitioned write leaves no readable schema — and migrate to the
    * partitioned layout on their first non-empty upsert.)
    */
  def init(): Unit =
    Schemas.tables.foreach { t =>
      if (!TableStore.exists(spark, path(t.name)))
        TableStore.atomicWrite(spark, Normalize.emptyTable(spark, t.schema), path(t.name))
    }

  /** Raw physical read: includes `__day` when the layout is partitioned.
    * The declared schema goes to the reader, so no footer is opened to
    * infer one; partition discovery appends `__day`.
    */
  private def rawRead(table: String): DataFrame = {
    val meta = Schemas.byName(table)
    if (!TableStore.exists(spark, path(table)))
      Normalize.emptyTable(spark, meta.schema)
    else TableStore.read(spark, path(table), Some(meta.schema))
  }

  def read(table: String): DataFrame = {
    val raw = rawRead(table)
    if (raw.columns.contains(DayCol)) raw.drop(DayCol) else raw
  }

  /** S4 date-bounded read (`db.py:81-113`): on a partitioned layout the
    * bounds hit the `__day` partition column, so untouched day partitions'
    * files are never opened; on a flat layout this degrades to the pushed
    * `to_date(created_at)` filter.
    */
  def readBounded(table: String, createdAtMin: Option[String],
                  createdAtMax: Option[String]): DataFrame = {
    val raw = rawRead(table)
    val day: Column =
      if (raw.columns.contains(DayCol)) col(DayCol) else to_date(col("created_at"))
    val bounded = (createdAtMin, createdAtMax) match {
      case (Some(lo), Some(hi)) => raw.filter(day.between(lit(lo).cast("date"), lit(hi).cast("date")))
      case (Some(lo), None)     => raw.filter(day >= lit(lo).cast("date"))
      case (None, Some(hi))     => raw.filter(day <= lit(hi).cast("date"))
      case _                    => raw
    }
    if (bounded.columns.contains(DayCol)) bounded.drop(DayCol) else bounded
  }

  /** S5: batch upsert honoring the table's key + partial update columns
    * (and the partitioned layout for day-partitioned tables).
    */
  def upsert(table: String, incoming: DataFrame): Unit = {
    val meta = Schemas.byName(table)
    val conformed = Normalize.conform(incoming, meta.schema)
    val deduped = TableStore.dedupeByKey(conformed, meta.keys, meta.keys.head)
    if (!meta.dayPartitioned) {
      TableStore.upsert(spark, path(table), deduped, meta.keys, meta.updateColumns,
        Some(meta.schema))
    } else {
      // __day is pinned at first insert (never an update column — made
      // explicit for the updateColumns=None "all non-key" default too):
      // the partitioned merge only reads the batch's touched partitions,
      // so a conflict row whose created_at moved to a different day could
      // never find its stored copy anyway — upsertPartitioned's documented
      // partition-immutability constraint. Shopify's created_at is
      // set-once, so the pinned day and created_at agree in practice.
      val allNonKey = meta.schema.fieldNames.toSeq.filterNot(meta.keys.contains)
      val updCols = Some(meta.updateColumns.getOrElse(allNonKey).filterNot(_ == DayCol))
      val batch = withDay(deduped)
      val flatExisting = TableStore.exists(spark, path(table)) &&
        TableStore.detectPartitionColumns(spark, path(table)).isEmpty
      if (flatExisting) {
        // one-time layout migration (covers the init() empty bootstrap):
        // merge against the flat table, rewrite partitioned via tmp+swap.
        // An empty batch is the identity, and an empty partitionBy write
        // would leave an unreadable (schema-less) directory behind.
        if (deduped.isEmpty) return
        val existing = withDay(rawRead(table))
        val merged = TableStore.mergePlan(existing, batch, meta.keys, updCols)
        TableStore.atomicWritePartitioned(spark, merged, path(table), DayCol)
      } else {
        // its one partition-discovery action also tells an empty batch
        TableStore.upsertPartitioned(spark, path(table), batch, meta.keys,
          DayCol, updCols)
      }
    }
  }

  /** The invoice view over the current store state. */
  def invoiceTables: graft.queries.InvoiceView.Tables =
    graft.queries.InvoiceView.Tables(
      customers = read("customers"),
      orders = read("orders"),
      transactions = read("transactions"),
      lineItemProducts = read("line_item_products"),
      shipping = read("shipping"),
      refunds = read("refunds"),
      lineItemProductRefunds = read("line_item_product_refunds"))
}
