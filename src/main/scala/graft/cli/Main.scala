package graft.cli

import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import graft.ingest.{IngestPipeline, Normalize, ShopifyClient}
import graft.io.InvoiceCsv
import graft.queries.{InvoiceNumbers, InvoiceView}
import graft.store.ShopifyStore
import graft.verify.Checks
import graft.viz.Heatmap

/** CLI dispatch (E1–E3 + tripletex-verify —
  * `/root/reference/shopifydb.py:24-53,250-272`):
  *
  * {{{
  * graft.cli.Main shopify-update      --store DIR --fixtures FILE [--from-date D] [--to-date D]
  * graft.cli.Main tripletex-generate  --store DIR --from-date D --to-date D
  *                                    --invoice-start-id N --out FILE [--gateway from=to ...]
  * graft.cli.Main tripletex-verify    --in FILE [--gateway from=to ...]
  * graft.cli.Main heatmap             --store DIR --out FILE
  * }}}
  *
  * The reference's `eval(log_level)` (`shopifydb.py:255-259`) is replaced
  * by plain log configuration (SURVEY §2.11).
  */
object Main {

  private def parseArgs(args: Seq[String]): (Map[String, String], Seq[(String, String)]) = {
    var flags = Map.empty[String, String]
    var gateways = Vector.empty[(String, String)]
    var rest = args
    while (rest.nonEmpty) {
      rest match {
        case "--gateway" +: v +: tail =>
          // the reference pairs with ':' (`shopifydb.py` arghandler);
          // '=' accepted too
          val Array(f, t) = v.split("[:=]", 2)
          gateways :+= (f -> t); rest = tail
        case k +: v +: tail if k.startsWith("--") =>
          flags += (k.stripPrefix("--") -> v); rest = tail
        case other +: _ =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    (flags, gateways)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: <subcommand> [--flag value ...]")
    val (flags, gateways) = parseArgs(args.toSeq.drop(1))
    val spark = session()
    try run(spark, args(0), flags, gateways)
    finally spark.stop()
  }

  def run(spark: SparkSession, cmd: String, flags: Map[String, String],
          gateways: Seq[(String, String)]): Unit = cmd match {

    case "shopify-update" =>
      val store = new ShopifyStore(spark, flags("store"))
      val fixtures = ujsonLoad(flags("fixtures"))
      val client = new ShopifyClient(
        new ShopifyClient.FixtureTransport(fixtures),
        baseUrl = flags.getOrElse("base-url", "https://example.myshopify.com/admin/api/2021-07/"))
      IngestPipeline.shopifyUpdate(spark, store, client,
        flags.get("from-date"), flags.get("to-date"))

    case "tripletex-generate" =>
      val store = new ShopifyStore(spark, flags("store"))
      val view = InvoiceView.tripletexInvoice(store.invoiceTables)
      val numbered = InvoiceNumbers.numberInvoices(view,
        LocalDate.parse(flags("from-date")), LocalDate.parse(flags("to-date")),
        flags.getOrElse("invoice-start-id", "1").toLong)
      val renamed = InvoiceNumbers.replaceInvoiceGateway(numbered, gateways.toMap)
      val findings = Checks.verifyInvoices(renamed, knownGateways(gateways))
      findings.flatMap(_.warnings).foreach(w => System.err.println(s"WARNING: $w"))
      InvoiceCsv.write(renamed, flags("out"))

    case "tripletex-verify" =>
      val report = Checks.verify(InvoiceCsv.read(spark, flags("in")), knownGateways(gateways))
      report.findings.flatMap(_.warnings).foreach(w => System.err.println(s"WARNING: $w"))
      System.err.println(
        s"There are ${report.ordinary} ordinary orders and ${report.refund} refund-only orders")
      if (Checks.passed(report.findings))
        System.err.println("No irregularities detected in the invoices")
      else
        System.err.println("Invoices contain one or more notices that should be checked manually")

    case "heatmap" =>
      val store = new ShopifyStore(spark, flags("store"))
      Heatmap.save(store.read("shipping"), flags("out"))

    case other =>
      throw new IllegalArgumentException(s"unknown subcommand: $other")
  }

  /** After renames the allow-list is the rename targets (`shopifydb.py:
    * 128-139` passes the gateway map's values through to verification).
    */
  private def knownGateways(gateways: Seq[(String, String)]): Option[Seq[String]] =
    if (gateways.isEmpty) None else Some(gateways.map(_._2))

  /** Minimal flat {"key": "value"} JSON loader for fixture files (values
    * are full page bodies). Zero-dependency by design.
    */
  private def ujsonLoad(path: String): Map[String, String] = {
    val body = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    // Parse with Spark's bundled Jackson (already on the classpath)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(body)
    val names = node.fieldNames()
    val b = Map.newBuilder[String, String]
    while (names.hasNext) {
      val k = names.next()
      val v = node.get(k)
      b += (k -> (if (v.isTextual) v.asText else v.toString))
    }
    b.result()
  }
}
