package graft.store

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.{Fixtures, SparkSuite}
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.model.Schemas

/** Reads return exactly the declared schema — names, types and order —
  * whatever the layout on disk: they plan against the declared schema
  * instead of inferring one from the files.
  */
class ShopifyStoreSpec extends SparkSuite {

  private def shape(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
  private def declared(table: String) =
    Schemas.byName(table).schema.fields.map(f => f.name -> f.dataType).toSeq

  private def assertDeclared(store: ShopifyStore, table: String): Unit = {
    assert(shape(store.read(table)) == declared(table), table)
    assert(shape(store.readBounded(table, Some("2021-05-01"), Some("2021-05-31"))) ==
      declared(table), table)
    assert(shape(store.readBounded(table, None, None)) == declared(table), table)
  }

  test("an init()-bootstrapped empty table reads with its declared schema") {
    val store = new ShopifyStore(spark, Files.createTempDirectory("schema-init").toString)
    store.init()
    for (t <- Seq("customers", "orders", "refunds")) {
      assertDeclared(store, t)
      assert(store.read(t).count() == 0)
    }
  }

  test("flat and day-partitioned tables read with their declared schema") {
    val dir = Files.createTempDirectory("schema-synced").toString
    val store = new ShopifyStore(spark, dir)
    IngestPipeline.shopifyUpdate(spark, store, new ShopifyClient(
        new ShopifyClient.FixtureTransport(Fixtures.transportFixtures), Fixtures.base),
      createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
    // flat: one directory of files
    assert(TableStore.detectPartitionColumns(spark, store.path("customers")).isEmpty)
    assertDeclared(store, "customers")
    assert(store.read("customers").count() == 2)
    // day-partitioned: __day comes back by partition discovery, and the
    // bounded read filters on it before dropping it
    assert(TableStore.detectPartitionColumns(spark, store.path("orders")) == Seq("__day"))
    assertDeclared(store, "orders")
    assert(store.readBounded("orders", Some("2021-05-03"), Some("2021-05-04")).count() == 2)
    assert(store.read("orders").count() == 3)
  }
}
