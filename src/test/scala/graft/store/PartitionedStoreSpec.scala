package graft.store

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.{ActionPlans, SparkSuite}
import org.apache.spark.sql.functions._

class PartitionedStoreSpec extends SparkSuite with ActionPlans {
  import spark.implicits._

  private def base = Seq(
    (1L, "2021-01-01", 10.0), (2L, "2021-01-01", 20.0),
    (3L, "2021-01-02", 30.0), (4L, "2021-01-03", 40.0),
  ).toDF("id", "day", "price")

  test("partitioned upsert rewrites only the touched partitions") {
    val dir = Files.createTempDirectory("ptable").toString + "/t"
    TableStore.upsertPartitioned(spark, dir, base, Seq("id"), "day")
    // capture the untouched partition's file listing + mtimes
    def listing(day: String) = {
      val d = Paths.get(dir, s"day=$day")
      Files.list(d).toArray.map(_.toString).sorted.toSeq ->
        Files.list(d).toArray.map(p => Files.getLastModifiedTime(
          Paths.get(p.toString)).toMillis).sorted.toSeq
    }
    val before0103 = listing("2021-01-03")
    Thread.sleep(1100) // mtime resolution guard
    val batch = Seq(
      (2L, "2021-01-01", 99.0),   // conflict in 01-01
      (5L, "2021-01-02", 50.0),   // new row in 01-02
    ).toDF("id", "day", "price")
    TableStore.upsertPartitioned(spark, dir, batch, Seq("id"), "day")
    val out = TableStore.read(spark, dir).orderBy("id")
      .select($"id", $"day", $"price").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq(
      (1L, "2021-01-01", 10.0), (2L, "2021-01-01", 99.0),
      (3L, "2021-01-02", 30.0), (4L, "2021-01-03", 40.0),
      (5L, "2021-01-02", 50.0)).sortBy(_._1))
    assert(listing("2021-01-03") == before0103,
      "untouched partition files must not be rewritten")
  }

  test("partitioned upsert equals flat upsert semantically") {
    val d1 = Files.createTempDirectory("p1").toString + "/t"
    val d2 = Files.createTempDirectory("p2").toString + "/t"
    val batch = Seq((2L, "2021-01-01", 99.0), (9L, "2021-01-09", 90.0))
      .toDF("id", "day", "price")
    TableStore.upsertPartitioned(spark, d1, base, Seq("id"), "day")
    TableStore.upsertPartitioned(spark, d1, batch, Seq("id"), "day")
    TableStore.upsert(spark, d2, base, Seq("id"))
    TableStore.upsert(spark, d2, batch, Seq("id"))
    // partition-column type inference reads `day` back as DateType from
    // the partitioned layout — normalize to string for the comparison
    val a = TableStore.read(spark, d1)
      .select($"id", $"day".cast("string").as("day"), $"price")
      .orderBy("id").collect().toSeq
    val b = TableStore.read(spark, d2)
      .select($"id", $"day".cast("string").as("day"), $"price")
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("a _-prefixed partition column (__day) is a partition dir, not hidden metadata") {
    // the ingest layouts partition by `__day` — Spark's file index exempts
    // `name=value` dirs from metadata hiding, and so must every store
    // walk: the multi-level swap once saw an EMPTY stage here, dropped
    // every live partition, and renamed nothing in (GoldenE2E regression)
    val d = Files.createTempDirectory("upart").toString + "/t"
    val b1 = Seq((1L, "2021-01-01", 1.0), (2L, "2021-01-02", 2.0))
      .toDF("id", "__day", "price")
    TableStore.upsertPartitioned(spark, d, b1, Seq("id"), "__day")
    assert(TableStore.detectPartitionColumns(spark, d) == Seq("__day"),
      "an __day= layout must DETECT as partitioned (the DML router depends on it)")
    assert(TableStore.rowCountFromFooters(spark, d) == 2L,
      "footer counts must walk __day= dirs")
    // the second upsert is the crash site: swap saw zero staged leaves
    TableStore.upsertPartitioned(spark, d,
      Seq((2L, "2021-01-02", 20.0), (3L, "2021-01-03", 3.0)).toDF("id", "__day", "price"),
      Seq("id"), "__day")
    assert(TableStore.read(spark, d)
      .select($"id", $"price").as[(Long, Double)].collect().sorted
      === Array((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    val (pcols, tuples) = TableStore.partitionTuples(spark, d)
    assert(pcols == Seq("__day") && tuples.flatten.sorted ==
      Seq("2021-01-01", "2021-01-02", "2021-01-03"))
  }

  test("an empty batch on an existing table changes no file and no row") {
    val dir = Files.createTempDirectory("pempty").toString + "/t"
    TableStore.upsertPartitioned(spark, dir, base, Seq("id"), "day")
    def files = {
      val root = Paths.get(dir)
      val it = Files.walk(root)
      try it.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
        .toSeq.sorted
      finally it.close()
    }
    def rows = TableStore.read(spark, dir).orderBy("id").collect().toSeq
    val (filesBefore, rowsBefore) = (files, rows)
    Thread.sleep(1100) // mtime resolution guard
    val ran = executions {
      TableStore.upsertPartitioned(spark, dir, base.limit(0), Seq("id"), "day")
    }
    // one action finds no partition; nothing is staged or swapped
    assert(ran.size == 1, ran.map(_.analyzed.nodeName))
    assert(ran.flatMap(writePaths).isEmpty)
    assert(files == filesBefore)
    assert(rows == rowsBefore)
  }
}
