package graft.store

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{ActionPlans, SparkSuite}
import graft.model.Schemas

/** The bounded read of a day-partitioned table lists and reads only the
  * window's day directories: past Spark's parallel partition-discovery
  * threshold (32 paths) it starts no listing job of its own, and it
  * returns what the whole table filtered by the same bounds returns.
  */
class BoundedReadSpec extends SparkSuite with ActionPlans {

  /** `orders` with one order a day for 40 days from 2024-01-01, the
    * first half at 00:30 UTC and the second half at 23:30 UTC.
    */
  private lazy val store: ShopifyStore = {
    val s = new ShopifyStore(spark, Files.createTempDirectory("bounded-read").toString)
    s.init()
    val orders = spark.range(40).select(Schemas.orders.fields.toSeq.map { f =>
      f.name match {
        case "id" => (col("id") + 1000).as("id")
        case "created_at" => timestamp_seconds(lit(1704069000L) + col("id") * 86400 +
          when(col("id") >= 20, 23 * 3600).otherwise(0)).as("created_at")
        case n => lit(null).cast(f.dataType).as(n)
      }
    }: _*)
    s.upsert("orders", orders)
    s
  }

  private def shape(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
  private val declared = Schemas.orders.fields.map(f => f.name -> f.dataType).toSeq

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** What the bounded read returned before it listed only the window:
    * the whole table, filtered by the bounds cast to dates.
    */
  private def filtered(lo: Option[String], hi: Option[String]): DataFrame = {
    val day = to_date(col("created_at"))
    store.read("orders")
      .filter(lo.fold(lit(true))(l => day >= lit(l).cast("date")))
      .filter(hi.fold(lit(true))(h => day <= lit(h).cast("date")))
  }

  private def orphans(body: => Unit) = jobs(body).filter(_._1.isEmpty)

  test("the table is past the listing threshold: a whole read lists in a job of its own") {
    assert(new java.io.File(store.path("orders")).listFiles().count(_.getName.startsWith("__day=")) == 40)
    assert(orphans(store.read("orders").collect()).nonEmpty)
  }

  test("a bounded read starts no job outside a SQL execution") {
    var got = Seq.empty[Row]
    assert(orphans {
      got = store.readBounded("orders", Some("2024-01-10"), Some("2024-01-12")).collect().toSeq
    }.isEmpty)
    assert(got.map(_.getAs[Long]("id")).sorted == Seq(1009L, 1010L, 1011L))
  }

  test("a bounded read returns the rows of the whole read under the same bounds") {
    for ((lo, hi) <- Seq(
      Some("2024-01-01") -> Some("2024-02-09"),
      Some("2024-01-19") -> Some("2024-01-22"),
      Some("2024-02-05") -> None,
      None -> Some("2024-01-02"),
      Some("2024-01-15") -> Some("2024-01-15"))) {
      val bounded = store.readBounded("orders", lo, hi)
      assert(shape(bounded) == declared, s"$lo..$hi")
      assert(rows(bounded) == rows(filtered(lo, hi)), s"$lo..$hi")
    }
  }

  test("a window with no stored day reads empty with the declared schema") {
    var n = -1L
    assert(orphans {
      val empty = store.readBounded("orders", Some("2030-01-01"), Some("2030-01-31"))
      assert(shape(empty) == declared)
      n = empty.count()
    }.isEmpty)
    assert(n == 0)
  }

  test("offset timestamps as bounds pick the days their date part names") {
    val (lo, hi) = (Some("2024-01-03T00:00:00+01:00"), Some("2024-01-05T00:00:00+01:00"))
    val bounded = store.readBounded("orders", lo, hi)
    assert(rows(bounded) == rows(filtered(lo, hi)))
    assert(bounded.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1002L, 1003L, 1004L))
    val late = store.readBounded("orders", Some("2024-01-25T00:00:00+01:00"),
      Some("2024-01-26T23:59:59+01:00"))
    assert(rows(late) == rows(filtered(Some("2024-01-25"), Some("2024-01-26"))))
    assert(late.count() == 2)
  }
}
