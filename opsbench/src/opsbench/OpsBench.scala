package opsbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.ingest.{IngestPipeline, ShopifyClient}
import graft.io.InvoiceCsv
import graft.model.Schemas
import graft.queries.{InvoiceNumbers, InvoiceView}
import graft.store.ShopifyStore
import graft.verify.Checks

/** Closed-loop benchmark of the three dataflows through their public entry
  * points. One process, one client: each op starts when the previous one
  * has finished and its output has been checked.
  *
  * {{{
  * opsbench.OpsBench --workload daily_sync|weekly_resync|invoice_month
  *   --seed N --seconds S --trace 0|1 --snapshot STORE --work DIR --result FILE
  *   --days D --per-day N --warmup W --min-ops M --delay-us U
  * opsbench.OpsBench --workload seed-store --work DIR --result FILE
  *   --days D --per-day N --delay-us U
  * }}}
  * `opsbench/run.py` and `opsbench/build.py` pass these.
  */
object OpsBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, snapshot: String, result: String, days: Int, perDay: Int,
                        warmup: Int, minOps: Int, delayMicros: Long)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    // the seed-store step has no run settings
    def run(k: String) = m.getOrElse(k, "0")
    Args(m("workload"), run("seed").toLong, run("seconds").toDouble, run("trace") == "1",
      m("work"), run("snapshot"), m("result"), m("days").toInt, m("per-day").toInt,
      run("warmup").toInt, run("min-ops").toInt, m("delay-us").toLong)
  }

  /** Per-op record; `layer` holds the traced per-layer metrics. */
  final case class OpRec(phase: String, traced: Boolean, wallS: Double, cpuS: Double, jitS: Double,
                         gcS: Double, compiles: Long, apiCalls: Long, heapMb: Double, heapLeftMb: Double,
                         storeKbPerOrder: Double, ok: Boolean, problems: Seq[String],
                         layer: Map[String, Double])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Hadoop FileSystem statistics over all schemes: bytes read, written. */
  private def fsStats: (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fixed single-thread integer work; reported as a diagnostic only. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println()
    (System.nanoTime() - t0) / 1e6
  }

  /** The CLI's own session factory, so that the program's session settings
    * are measured too; benchmark-only settings (local dirs, listeners)
    * arrive as `spark.*` system properties.
    */
  private def session(): SparkSession = {
    val m = graft.cli.Main.getClass.getDeclaredMethod("session")
    m.setAccessible(true)
    m.invoke(graft.cli.Main).asInstanceOf[SparkSession]
  }

  private def countCheck(store: ShopifyStore, expected: Map[String, Long]): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val got = Schemas.tables.map(t => store.read(t.name).select(lit(t.name).as("t")))
      .reduce(_ unionByName _).groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Schemas.tables.map(_.name).flatMap { t =>
      val (g, e) = (got.getOrElse(t, 0L), expected.getOrElse(t, 0L))
      if (g == e) None else Some(s"$t: store has $g rows, expected $e")
    }
  }

  private def client(key: String) = new ShopifyClient(
    new Upstream.MeteredTransport(new Upstream.SyntheticTransport(key)), Upstream.Base,
    sleeper = Upstream.sleeper)

  /** The stored history every run starts from: days [0, H) of the history
    * seed, as the upstream showed them at the end of day H-1.
    */
  private def historySpec(h: Int) = SyncSpec(0, h - 1, Shop.dayEnd(h - 1))

  /** Build step: ingest the history through the program into `dir` and
    * check its row counts. Runs restore copies of this directory.
    */
  def seedStore(a: Args): Unit = {
    val dir = Paths.get(a.work).toAbsolutePath.resolve("store")
    val spark = session()
    val shop = new Shop(HistorySeed, HistorySeed, a.days, a.days, a.perDay)
    val spec = historySpec(a.days)
    val model = new StoreModel(shop)
    model.apply(spec)
    Upstream.register("seed", new UpstreamState(shop, spec.asOf, 0L, Upstream.Base))
    val store = new ShopifyStore(spark, dir.toString)
    IngestPipeline.shopifyUpdate(spark, store, client("seed"),
      Some(spec.createdAtMin), Some(spec.createdAtMax))
    val bad = countCheck(store, model.counts)
    spark.stop()
    if (bad.nonEmpty) throw new IllegalStateException("seeded store is wrong: " + bad.mkString("; "))
    Files.write(Paths.get(a.result), Json(Map("counts" -> model.counts, "digest" -> treeDigest(dir))).getBytes("UTF-8"))
  }

  val HistorySeed = 20240101L

  /** A run's inputs and expected outputs, all from the generator. */
  final case class Inputs(shop: Shop, seeded: StoreModel, opSpec: Option[SyncSpec], afterOp: StoreModel,
                          batchRows: Double, windowOrders: Int, invFrom: Int, invTo: Int,
                          invStart: Long, invoiceExpected: InvoiceOracle.Expected)

  private def inputs(a: Args): Inputs = {
    val H = a.days
    val shop = new Shop(HistorySeed, a.seed, H, H + 8, a.perDay)
    val seeded = new StoreModel(shop)
    seeded.apply(historySpec(H))
    val opSpec = a.workload match {
      case "daily_sync" => Some(SyncSpec(H, H, Shop.dayEnd(H)))
      case "weekly_resync" => Some(SyncSpec(H - 7, H - 1, Shop.dayEnd(H + 6)))
      case _ => None
    }
    val afterOp = seeded.copy()
    val batch = opSpec.map(afterOp.apply).getOrElse(Map.empty)
    // The invoice window is the last 30 stored days for every seed: where it
    // sits decides which checks find something and so how much work the op
    // does. The seed sets the first invoice number instead.
    val invTo = H - 1
    val invFrom = invTo - 29
    val invStart = 1000L + Math.floorMod(a.seed, 100000L)
    opSpec.foreach(s => Upstream.register("op", new UpstreamState(shop, s.asOf, a.delayMicros, Upstream.Base)))
    Inputs(shop, seeded, opSpec, afterOp, batch.values.sum.toDouble,
      opSpec.fold(0)(s => shop.ordersIn(s.fromDay, s.toDay).size), invFrom, invTo, invStart,
      InvoiceOracle.expected(shop, seeded, invFrom, invTo))
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "seed-store") return seedStore(a)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kind = a.workload match {
      case "daily_sync" | "weekly_resync" | "invoice_month" => a.workload
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val work = Paths.get(a.work).toAbsolutePath
    val storeDir = work.resolve("store")
    val snapDir = Paths.get(a.snapshot).toAbsolutePath
    val snapSum = treeDigest(snapDir)
    val csvPath = work.resolve("out").resolve("invoices.csv")
    Files.createDirectories(csvPath.getParent)
    val probeStart = cpuProbeMs()

    def restore(): Unit = { deleteTree(storeDir); copyTree(snapDir, storeDir) }
    // ---- set-up: the session and the synthetic upstream with the expected
    // outputs; repeated after the measured ops. Restoring the store is part
    // of every op's untimed preparation, not of the set-up.
    val setUpParts = ArrayBuffer.empty[Seq[Double]]
    def setUp(): (SparkSession, Inputs) = {
      val t0 = System.nanoTime()
      val spark = session()
      val t1 = System.nanoTime()
      val in = inputs(a)
      val t2 = System.nanoTime()
      setUpParts += Seq(t2 - t0, t1 - t0, t2 - t1).map(_ / 1e9)
      (spark, in)
    }
    val sessionStartMs = System.currentTimeMillis()
    val (spark, in) = setUp()
    import in._
    val H = a.days
    if (a.trace) Trace.captureCodegenLog()
    Trace.storeRoot = storeDir.toString
    val cpus = spark.sparkContext.defaultParallelism

    val store = new ShopifyStore(spark, storeDir.toString)
    val problems = ArrayBuffer.empty[String]
    // the build checked the seeded store's row counts and recorded its digest
    val seededDigest = """"digest":"([0-9a-f]+)"""".r
      .findFirstMatchIn(new String(Files.readAllBytes(snapDir.resolveSibling("seeded.json")), "UTF-8"))
      .map(_.group(1))
    if (!seededDigest.contains(snapSum)) problems += "snapshot differs from the seeded store"

    var csvDigest: Option[(Int, String)] = None
    val invTags = Shop.GatewayRenames

    /** One op: the timed call(s), then its output checks (untimed). */
    def op(phase: String, idx: Int, traced: Boolean): OpRec = {
      restore()
      HeapWatch.fullGc()
      HeapWatch.reset()
      if (a.trace) { Trace.drain(spark); Trace.reset() }
      Upstream.resetCounters()
      val filesBefore = if (traced) dataFiles(storeDir) else Set.empty[String]
      Trace.enabled = traced
      Trace.op = idx
      val (c0, j0, g0, k0, f0) = (os.getProcessCpuTime, jitMs, gcMs, compiles, fsStats)
      val t0 = System.nanoTime()
      var findings: Seq[Checks.Finding] = Nil
      kind match {
        case "invoice_month" =>
          val tables = Trace.timed("store", "invoiceTables")(store.invoiceTables)
          val renamed = Trace.timed("queries", "view+numbering") {
            val view = InvoiceView.tripletexInvoice(tables)
            val numbered = InvoiceNumbers.numberInvoices(view, Shop.date(invFrom), Shop.date(invTo), invStart)
            InvoiceNumbers.replaceInvoiceGateway(numbered, invTags)
          }
          findings = Trace.timed("verify", "verifyInvoices")(
            Checks.verifyInvoices(renamed, Some(invTags.values.toSeq)))
          Trace.timed("io", "InvoiceCsv.write")(InvoiceCsv.write(renamed, csvPath.toString))
        case _ =>
          val s = opSpec.get
          Trace.timed("ingest", "shopifyUpdate")(IngestPipeline.shopifyUpdate(spark, store, client("op"),
            Some(s.createdAtMin), Some(s.createdAtMax)))
      }
      val t1 = System.nanoTime()
      val (c1, j1, g1, k1, f1) = (os.getProcessCpuTime, jitMs, gcMs, compiles, fsStats)
      // what the op left live (its caches too) counts as well
      val leftMb = HeapWatch.fullGc()
      val heapMb = math.max(HeapWatch.peakMb, leftMb)
      Trace.span("op", "op", t0, t1)
      var layer = Map.empty[String, Double]
      if (a.trace) Trace.drain(spark)
      if (traced) layer = layerMetrics(idx, filesBefore, k1 - k0, j1 - j0, g1 - g0) ++ Map(
        "fs.read_kb" -> (f1._1 - f0._1) / 1024.0, "fs.write_kb" -> (f1._2 - f0._2) / 1024.0)
      Trace.op = -1
      Trace.enabled = false

      // ---- output checks
      val bad = ArrayBuffer.empty[String]
      kind match {
        case "invoice_month" =>
          invoiceExpected.findings.foreach { case (check, (passed, names)) =>
            findings.find(_.check == check) match {
              case None => bad += s"finding $check missing"
              case Some(f) =>
                val got = InvoiceOracle.mentioned(f.warnings)
                if (f.passed != passed || got != names)
                  bad += s"finding $check: passed=${f.passed} orders=${got.take(8).mkString(",")}; " +
                    s"expected passed=$passed orders=${names.take(8).mkString(",")}"
            }
          }
          val (rows, digest) = csvRowsAndDigest(csvPath)
          if (rows != invoiceExpected.rows) bad += s"csv has $rows rows, expected ${invoiceExpected.rows}"
          csvDigest match {
            case None => csvDigest = Some(rows -> digest)
            case Some(first) => if (first != (rows -> digest)) bad += "csv differs from the first op's csv"
          }
        case _ =>
          bad ++= countCheck(store, afterOp.counts)
      }
      // release the op's cached data, so that every op starts alike
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val storeKb = treeBytes(storeDir) / 1024.0
      val ordersStored = afterOp.counts("orders").toDouble
      if (bad.nonEmpty) System.err.println(s"[opsbench] $phase op $idx failed: ${bad.mkString("; ")}")
      OpRec(phase, traced, (t1 - t0) / 1e9, (c1 - c0) / 1e9, (j1 - j0) / 1e3, (g1 - g0) / 1e3,
        k1 - k0, Upstream.listCalls.get + Upstream.fanoutCalls.get, heapMb, leftMb, storeKb / ordersStored,
        bad.isEmpty, bad.toSeq, layer)
    }

    def layerMetrics(idx: Int, filesBefore: Set[String], compiled: Long,
                     jitDeltaMs: Long, gcDeltaMs: Long): Map[String, Double] = {
      val execs = Trace.opExecs(idx)
      val spans = Trace.spans.asScala.filter(_.op == idx).toSeq
      def call(layer: String) = spans.filter(s => s.layer == layer && !s.name.startsWith("get.") && s.name != "exec")
        .map(s => (s.endNs - s.startNs) / 1e9).sum
      val verifyWin = spans.find(_.name == "verifyInvoices")
      val storeExecs = execs.filter(_.store)
      val after = dataFiles(storeDir)
      val rowsWritten = storeExecs.map(_.rowsWritten.get).sum.toDouble
      val lists = Upstream.listCalls.get.toDouble
      val fanouts = Upstream.fanoutCalls.get.toDouble
      val self = Trace.selfTimes(spans)
      Map(
        "ingest.list_calls" -> lists,
        "ingest.fanout_calls" -> fanouts,
        "ingest.inflight_max" -> Upstream.inflightMax.get.toDouble,
        "ingest.wait_s" -> Upstream.waitNanos.get / 1e9,
        "ingest.retries" -> Upstream.retries.get.toDouble,
        "ingest.call_s" -> call("ingest"),
        "ingest.api_calls_per_order" -> (if (windowOrders == 0) 0.0 else (lists + fanouts) / windowOrders),
        "store.rows_written" -> rowsWritten,
        "store.rewrite_amp" -> (if (batchRows == 0) 0.0 else rowsWritten / batchRows),
        "store.kb_written" -> storeExecs.map(_.bytesWritten.get).sum / 1024.0,
        "store.files_written" -> (after -- filesBefore).size.toDouble,
        "store.files_total" -> after.size.toDouble,
        "store.write_s" -> storeExecs.filter(_.endMs > 0).map(x => (x.endMs - x.startMs) / 1e3).sum,
        "store.rows_read" -> Trace.rowsRead.get.toDouble,
        "queries.plan_s" -> execs.map(_.plan.planMs).sum / 1e3,
        "queries.store_scans" -> execs.map(_.plan.scans).sum.toDouble,
        "queries.rows_scanned" -> execs.map(_.plan.scanRows).sum.toDouble,
        "queries.shuffle_kb" -> Trace.shuffleBytes.get / 1024.0,
        "verify.call_s" -> call("verify"),
        "verify.actions" -> verifyWin.fold(0.0)(w => execs.count { x =>
          val s = Trace.msToNanos(x.startMs); s >= w.startNs - 1000000L && s <= w.endNs }.toDouble),
        "io.call_s" -> call("io"),
        "io.csv_kb" -> (if (kind == "invoice_month") Files.size(csvPath) / 1024.0 else 0.0),
        "spark.jobs" -> Trace.jobs.get.toDouble,
        "spark.tasks" -> Trace.tasks.get.toDouble,
        "spark.task_s" -> Trace.taskNanos.get / 1e9,
        "spark.codegen_compiles" -> compiled.toDouble,
        "spark.codegen_s" -> Trace.codegenNanos.get / 1e9,
        "jvm.jit_s" -> jitDeltaMs / 1e3,
        "jvm.gc_s" -> gcDeltaMs / 1e3,
      ) ++ Seq("bench", "ingest", "store", "queries", "verify", "io").map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0))
    }

    // ---- warm-up, then the measured ops
    val recs = ArrayBuffer.empty[OpRec]
    val warmupStartMs = System.currentTimeMillis()
    for (i <- 0 until a.warmup) recs += op("warmup", i, traced = false)
    val firstTimedMs = System.currentTimeMillis()
    val deadlineMs = jvmStartMs + 150000L
    var measured = 0.0
    var i = 0
    def enough = measured >= a.seconds && recs.count(_.phase == "timed") >= a.minOps * (if (a.trace) 2 else 1)
    while (!enough && System.currentTimeMillis() < deadlineMs) {
      // traced runs interleave traced and untraced ops (T U U T ...) so that
      // a trend over the run does not bias the tracing overhead
      val r = op("timed", a.warmup + i, traced = a.trace && (i % 4 == 0 || i % 4 == 3))
      recs += r
      measured += r.wallS
      i += 1
    }
    // the later set-ups, each with a fresh session
    var last = spark
    for (_ <- 1 until SetUps) {
      last.stop()
      HeapWatch.fullGc() // so that no set-up pays for collecting the last one's garbage
      last = setUp()._1
    }
    val snapOk = treeDigest(snapDir) == snapSum
    if (!snapOk) problems += "snapshot changed during the run"
    val probeEnd = cpuProbeMs()
    val runS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- results
    val timed = recs.filter(_.phase == "timed").toSeq
    val plain = timed.filterNot(_.traced)
    val traced = timed.filter(_.traced)
    val attempted = recs.size
    val failed = recs.count(!_.ok)
    val half = plain.size / 2
    val e2e = Map(
      "setup_s" -> median(setUpParts.map(_.head).toSeq),
      "op_p50_s" -> median(plain.map(_.wallS)),
      "cpu_s_per_op" -> median(plain.map(_.cpuS)),
      "heap_peak_mb" -> median(plain.map(_.heapMb)),
      "store_kb_per_order" -> median(plain.map(_.storeKbPerOrder)),
      "fail_ratio" -> failed.toDouble / attempted,
      "api_calls_per_order" -> (if (windowOrders == 0) 0.0 else median(plain.map(_.apiCalls.toDouble)) / windowOrders),
    )
    val layer: Map[String, Double] =
      if (!a.trace) Map.empty
      else traced.flatMap(_.layer.keys).distinct.map(k => k -> median(traced.map(_.layer(k)))).toMap ++ Map(
        "trace.op_p50_s" -> median(traced.map(_.wallS)),
        "trace.overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS))))
    if (a.trace) writeSpans(Paths.get(a.result + ".spans.jsonl"))
    val detail = Map[String, Any](
      "workload" -> kind, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "sizes" -> Map("history_days" -> H, "orders_per_day" -> a.perDay, "warmup_ops" -> a.warmup,
        "delay_us" -> a.delayMicros, "cpus" -> cpus, "window_orders" -> windowOrders,
        "batch_rows" -> batchRows, "orders_in_store" -> afterOp.counts("orders")),
      "expected_counts" -> afterOp.counts,
      "expected_invoice_rows" -> invoiceExpected.rows,
      "csv" -> csvDigest.fold(Map.empty[String, Any])(d => Map("rows" -> d._1, "digest" -> d._2)),
      "snapshot_unchanged" -> snapOk,
      "run_s" -> runS,
      "setup_parts_s" -> Map("jvm" -> (sessionStartMs - jvmStartMs) / 1e3,
        "set_ups" -> setUpParts.map(p => Map("total" -> p(0), "session" -> p(1), "inputs" -> p(2))).toSeq,
        "warmup" -> (firstTimedMs - warmupStartMs) / 1e3,
        "jvm_start_to_first_op" -> (firstTimedMs - jvmStartMs) / 1e3),
      "invoice_window" -> Seq(Shop.date(invFrom).toString, Shop.date(invTo).toString),
      "invoice_start" -> invStart,
      "cpu_probe_ms" -> Map("start" -> probeStart, "end" -> probeEnd),
      "warmup_trend" -> Map(
        "first_half_p50_s" -> median(plain.take(half).map(_.wallS)),
        "second_half_p50_s" -> median(plain.drop(plain.size - half).map(_.wallS)),
        "first_half_jit_s" -> median(plain.take(half).map(_.jitS)),
        "second_half_jit_s" -> median(plain.drop(plain.size - half).map(_.jitS))),
      "problems" -> (problems ++ recs.flatMap(_.problems)).distinct.take(20),
      "ops" -> recs.map(r => Map("phase" -> r.phase, "traced" -> r.traced, "wall_s" -> r.wallS,
        "cpu_s" -> r.cpuS, "jit_s" -> r.jitS, "gc_s" -> r.gcS, "codegen_compiles" -> r.compiles,
        "api_calls" -> r.apiCalls,
        "heap_mb" -> r.heapMb, "heap_left_mb" -> r.heapLeftMb, "ok" -> r.ok)),
    )
    val out = Map[String, Any](
      "correct" -> (problems.isEmpty && failed == 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e, "per_layer" -> layer, "detail" -> detail)
    Files.write(Paths.get(a.result), Json(out).getBytes("UTF-8"))
    last.stop()
  }

  /** The largest heap occupancy left by a collection the JVM started since
    * [[reset]], and the occupancy left by [[fullGc]]: every collection
    * reports the heap it left behind through a GC notification. Pauses of a
    * concurrent cycle move no objects and are skipped.
    */
  private object HeapWatch {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private var peak = 0L
    private var explicit = 0L
    private var explicitUsed = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized {
            if (info.getGcCause == "System.gc()") { explicit += 1; explicitUsed = used }
            else if (!info.getGcName.contains("Concurrent")) peak = math.max(peak, used)
            notifyAll()
          }
        }, null, null))

    /** A full collection; returns, in MB, the heap it left, once its
      * notification (and so every earlier one) has been handled.
      */
    def fullGc(): Double = {
      val before: Long = synchronized(explicit)
      System.gc()
      val deadline = System.currentTimeMillis() + 10000L
      synchronized {
        while (explicit == before && System.currentTimeMillis() < deadline) wait(50L)
        explicitUsed / 1048576.0
      }
    }
    def reset(): Unit = synchronized { peak = 0L }
    def peakMb: Double = { val p: Long = synchronized(peak); p / 1048576.0 }
  }

  // ---- filesystem helpers

  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else { val s = Files.walk(root); try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally s.close() }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def treeBytes(root: Path): Long = walk(root).map(Files.size).sum

  /** Data files of the store, relative to it (checksum sidecars skipped). */
  def dataFiles(root: Path): Set[String] =
    walk(root).map(p => root.relativize(p).toString)
      .filterNot(n => n.endsWith(".crc") || n.split('/').last.startsWith("_") || n.split('/').last.startsWith("."))
      .toSet

  def treeDigest(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    walk(root).map(p => root.relativize(p).toString -> p).sortBy(_._1).foreach { case (n, p) =>
      md.update(n.getBytes("UTF-8")); md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Data-row count and an order-insensitive digest of a CSV file: the sum
    * of per-line SHA-256 prefixes, plus the header.
    */
  def csvRowsAndDigest(p: Path): (Int, String) = {
    val lines = Files.readAllLines(p).asScala.toSeq
    def h(s: String) = java.nio.ByteBuffer.wrap(
      MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))).getLong
    val body = lines.drop(1).filter(_.nonEmpty)
    (body.size, f"${h(lines.headOption.getOrElse(""))}%016x${body.map(h).sum}%016x")
  }

  /** One JSON line per span. `parent` is the id of the shortest span of the
    * same op that encloses it (the op span encloses the layer calls, a
    * layer call its executions, an execution the requests it made).
    */
  private def writeSpans(p: Path): Unit = {
    val all = Trace.spans.asScala.toVector.zipWithIndex
    val w = Files.newBufferedWriter(p)
    try all.groupBy(_._1.op).values.foreach { ops =>
      ops.foreach { case (s, id) =>
        val parent = ops.filter { case (o, oid) =>
          oid != id && o.startNs <= s.startNs && o.endNs >= s.endNs &&
            (o.endNs - o.startNs) > (s.endNs - s.startNs)
        }.sortBy { case (o, _) => o.endNs - o.startNs }.headOption.map(_._2)
        w.write(Json(Map("id" -> id, "parent" -> parent, "op" -> s.op, "layer" -> s.layer,
          "name" -> s.name, "start_us" -> s.startNs / 1000, "dur_us" -> (s.endNs - s.startNs) / 1000)))
        w.newLine()
      }
    } finally w.close()
  }

  /** Minimal JSON rendering for the result file. */
  def Json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => Json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(Json).mkString("[", ",", "]")
    case other => Json(other.toString)
  }
}
