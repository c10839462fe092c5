package graft.cli

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.{Fixtures, SparkSuite}
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.store.ShopifyStore

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

  test("a --gateway value without ':' or '=' fails with the expected form") {
    // parsing runs before Main.session, so no session is built or stopped
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("tripletex-verify", "--gateway", "shopify"))
    }
    assert(e.getMessage.contains("from:to") && e.getMessage.contains("shopify"))
  }

  /** Runs `probe`'s main with `args` in a child JVM (one SparkContext per
    * JVM, and codegen's class cache is sized once per JVM) on the test JVM's
    * options and classpath; returns its stdout lines and a failure report.
    */
  private def childJvm(probe: AnyRef, cpus: Int, args: String*): (List[String], String) = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xm") || a.startsWith("-agentlib"))
    val pb = new ProcessBuilder((Seq(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"), probe.getClass.getName.stripSuffix("$")) ++ args)
      .asJava)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    val dir = java.nio.file.Paths.get(workDir)
    val (outFile, log) = (Files.createTempFile(dir, "probe", ".out"), Files.createTempFile(dir, "probe", ".log"))
    pb.redirectOutput(outFile.toFile).redirectError(log.toFile)
    val proc = pb.start()
    val done = proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly().waitFor()
    val out = Files.readAllLines(outFile).asScala.toList
    val why = (out ++ Files.readAllLines(log).asScala.takeRight(40)).mkString("\n")
    assert(done && proc.exitValue == 0, why)
    (out, why)
  }

  test("Main.session is the benchmark's session factory: local[SPARK_GRAFT_CPUS]") {
    // opsbench/src/opsbench/OpsBench.scala reaches this private method by
    // reflection, so a rename compiles everywhere and fails only there
    assert(Main.getClass.getDeclaredMethod("session").getParameterCount == 0)
    // a CPU count no host default or test session shares
    val (out, why) = childJvm(MainSessionProbe, cpus = 3)
    assert(out.contains("master=local[3] shuffle.partitions=3"), why)
  }

  test("Main.session keeps generated classes: a second tripletex-generate compiles nothing") {
    val (out, why) = childJvm(WarmCodegenProbe, cpus = 2, workDir)
    val Seq(first, second) = out.collectFirst { case s"compiles first=$a second=$b" => Seq(a, b) }
      .getOrElse(fail(why)).map(_.toLong)
    assert(first > 0, why)
    assert(second == 0, why)
  }
}

/** The session `Main.session` returns, reached the way the benchmark
  * reaches it.
  */
private object MainSession {
  def apply(): org.apache.spark.sql.SparkSession = {
    val m = Main.getClass.getDeclaredMethod("session")
    m.setAccessible(true)
    m.invoke(Main).asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}

/** Prints the master and shuffle partitions of `Main.session`'s session. */
object MainSessionProbe {
  def main(args: Array[String]): Unit = {
    val s = MainSession()
    try println(s"master=${s.sparkContext.master} " +
      s"shuffle.partitions=${s.conf.get("spark.sql.shuffle.partitions")}")
    finally s.stop()
  }
}

/** Ingests the golden fixtures into a store under `args(0)`, then runs
  * `tripletex-generate` twice on `Main.session`'s session and prints the
  * Janino compiles of each pass.
  */
object WarmCodegenProbe {
  def main(args: Array[String]): Unit = {
    val s = MainSession()
    val dir = Files.createTempDirectory(java.nio.file.Paths.get(args(0)), "warm").toString
    try {
      IngestPipeline.shopifyUpdate(s, new ShopifyStore(s, s"$dir/store"),
        new ShopifyClient(new ShopifyClient.FixtureTransport(Fixtures.transportFixtures), Fixtures.base),
        createdAtMin = Some("2021-05-01"), createdAtMax = Some("2021-05-31"))
      def generate(out: String): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        Main.run(s, "tripletex-generate", Map(
          "store" -> s"$dir/store", "from-date" -> "2021-05-01", "to-date" -> "2021-05-31",
          "invoice-start-id" -> "100", "out" -> s"$dir/$out"),
          Seq("vipps" -> "Vipps", "stripe" -> "Stripe"))
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val first = generate("first.csv")
      println(s"compiles first=$first second=${generate("second.csv")}")
    } finally s.stop()
  }
}
