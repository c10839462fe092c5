package graft.cli

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.{Fixtures, SparkSuite}

/** Drives the four CLI subcommands end-to-end (E1–E3 +
  * tripletex-verify) through Main.run — the user-facing surface.
  */
class MainSpec extends SparkSuite {

  private lazy val workDir = Files.createTempDirectory("cli").toString
  private lazy val storeDir = s"$workDir/store"

  private lazy val fixturesFile: String = {
    // flat {url: body} JSON via Jackson (same parser Main uses)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    Fixtures.transportFixtures.foreach { case (k, v) => node.put(k, v) }
    val f = s"$workDir/fixtures.json"
    Files.writeString(java.nio.file.Paths.get(f), mapper.writeValueAsString(node))
    f
  }

  test("shopify-update ingests from a fixture file") {
    Main.run(spark, "shopify-update", Map(
      "store" -> storeDir, "fixtures" -> fixturesFile,
      "base-url" -> Fixtures.base,
      "from-date" -> "2021-05-01", "to-date" -> "2021-05-31"), Nil)
    assert(new graft.store.ShopifyStore(spark, storeDir).read("orders").count() == 3)
  }

  test("tripletex-generate writes the invoice CSV") {
    val out = s"$workDir/invoices.csv"
    Main.run(spark, "tripletex-generate", Map(
      "store" -> storeDir, "from-date" -> "2021-05-01", "to-date" -> "2021-05-31",
      "invoice-start-id" -> "100", "out" -> out),
      Seq("vipps" -> "Vipps", "stripe" -> "Stripe"))
    val lines = Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.get(0).split(";").length == 17)
    assert(lines.size() == 8) // header + 7 invoice lines
  }

  test("tripletex-verify re-checks a written CSV") {
    Main.run(spark, "tripletex-verify", Map("in" -> s"$workDir/invoices.csv"),
      Seq("vipps" -> "Vipps", "stripe" -> "Stripe"))
  }

  test("heatmap renders HTML from the store") {
    val out = s"$workDir/heatmap.html"
    Main.run(spark, "heatmap", Map("store" -> storeDir, "out" -> out), Nil)
    assert(Files.readString(java.nio.file.Paths.get(out)).contains("<canvas"))
  }

  test("unknown subcommand fails cleanly") {
    intercept[IllegalArgumentException] {
      Main.run(spark, "bogus", Map.empty, Nil)
    }
  }

  test("Main.session is the benchmark's session factory: local[SPARK_GRAFT_CPUS]") {
    // opsbench/src/opsbench/OpsBench.scala reaches this private method by
    // reflection, so a rename compiles everywhere and fails only there
    assert(Main.getClass.getDeclaredMethod("session").getParameterCount == 0)
    // one SparkContext per JVM: the factory runs in a child JVM, with a
    // CPU count no host default or test session shares
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xm") || a.startsWith("-agentlib"))
    val pb = new ProcessBuilder((Seq(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"), MainSessionProbe.getClass.getName.stripSuffix("$")))
      .asJava)
    pb.environment().put("SPARK_GRAFT_CPUS", "3")
    val dir = java.nio.file.Paths.get(workDir)
    val (outFile, log) = (Files.createTempFile(dir, "probe", ".out"), Files.createTempFile(dir, "probe", ".log"))
    pb.redirectOutput(outFile.toFile).redirectError(log.toFile)
    val proc = pb.start()
    val done = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly().waitFor()
    val out = Files.readAllLines(outFile).asScala.toList
    def why = (out ++ Files.readAllLines(log).asScala.takeRight(40)).mkString("\n")
    assert(done && proc.exitValue == 0, why)
    assert(out.contains("master=local[3] shuffle.partitions=3"), why)
  }
}

/** Prints the master and shuffle partitions of the session `Main.session`
  * returns, reached the way the benchmark reaches it.
  */
object MainSessionProbe {
  def main(args: Array[String]): Unit = {
    val m = Main.getClass.getDeclaredMethod("session")
    m.setAccessible(true)
    val s = m.invoke(Main).asInstanceOf[org.apache.spark.sql.SparkSession]
    try println(s"master=${s.sparkContext.master} " +
      s"shuffle.partitions=${s.conf.get("spark.sql.shuffle.partitions")}")
    finally s.stop()
  }
}
