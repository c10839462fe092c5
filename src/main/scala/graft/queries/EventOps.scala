package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Event/time-series queries over `events` — the batch twins of the
  * streaming operators (tumbling buckets) plus lead/lag-style session
  * analysis, all oracle-checked.
  */
object EventOps {

  /** Tumbling 5-minute event-time buckets (epoch-aligned integer division
    * — identical bucketing to Structured Streaming's `window()`), grouped
    * counts + exact-decimal value sums.
    */
  def timeBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("bucket", expr("unix_micros(ts) div 300000000"))
      .groupBy($"bucket", $"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast(MoneyDec)), 2).cast("double").as("total_value"))
      .withColumn("window_start", timestamp_micros($"bucket" * 300000000L))
      .select($"window_start", $"event_type", $"n", $"total_value")
      .orderBy($"window_start", $"event_type")
  }

  val timeBucketsSql: String =
    """SELECT make_timestamp(bucket * 300000000) AS window_start, event_type,
      | COUNT(*) AS n,
      | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
      |FROM (SELECT *, epoch_us(ts) // 300000000 AS bucket FROM events) t
      |GROUP BY bucket, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** Per-user event gaps via lag(): the session-boundary analysis that
    * feeds gap-based sessionization (new session when gap > 30 min).
    */
  def sessionGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("gap_sec",
        when($"prev_ts".isNull, lit(null).cast("long"))
          .otherwise(expr("unix_micros(ts) div 1000000") - expr("unix_micros(prev_ts) div 1000000")))
      .withColumn("new_session", coalesce($"gap_sec" > 1800, lit(true)))
      .select($"user_id", $"event_id", $"ts", $"gap_sec", $"new_session")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val sessionGapsSql: String =
    """SELECT user_id, event_id, ts,
      | CASE WHEN prev_ts IS NULL THEN NULL
      |      ELSE epoch_us(ts) // 1000000 - epoch_us(prev_ts) // 1000000 END AS gap_sec,
      | COALESCE((CASE WHEN prev_ts IS NULL THEN NULL
      |      ELSE epoch_us(ts) // 1000000 - epoch_us(prev_ts) // 1000000 END) > 1800, TRUE) AS new_session
      |FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM events) t
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Session counts per user: running session ids from the boundary flags
    * (sum-over-window of new_session markers), rolled up.
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull, 1)
          .when(expr("unix_micros(ts) - unix_micros(prev_ts)") > 1800L * 1000000, 1)
          .otherwise(0))
      .groupBy($"user_id")
      .agg(sum($"new_session").cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val sessionCountsSql: String =
    """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events) t1) t2
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q54: as-of join — every event annotated with the user's most recent
    * purchase at or before it (id + value). Purchases are pre-deduped to
    * one per (user, ts) — max event_id wins — matching the operator's
    * uniqueness contract; the oracle is DuckDB's native ASOF JOIN.
    */
  def asofPurchase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("__pid"))
      .join(ev.select($"event_id".as("__pid"), $"value".as("ref_value")), "__pid")
      .select($"user_id", $"ts", $"__pid".as("ref_id"), $"ref_value")
    graft.operators.AsofJoin.asofLeft(
        ev.select($"event_id", $"user_id", $"ts", $"event_type"),
        purchases, Seq("user_id"), "ts", Seq("ref_id", "ref_value"))
      .select($"event_id", $"ref_id", $"ref_value")
      .orderBy($"event_id")
  }

  val asofPurchaseSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, MAX(event_id) AS ref_id
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, ts),
      |pr AS (
      |  SELECT p.user_id, p.ts, p.ref_id, e.value AS ref_value
      |  FROM p JOIN events e ON e.event_id = p.ref_id)
      |SELECT l.event_id, pr.ref_id, pr.ref_value
      |FROM events l
      |ASOF LEFT JOIN pr ON l.user_id = pr.user_id AND l.ts >= pr.ts
      |ORDER BY l.event_id""".stripMargin

  /** q55: point-in-interval range join — events counted into half-hour
    * maintenance windows starting at each even hour, via the bucketed
    * equi-join form (raw inequality joins plan as nested loops). Windows
    * derive from the event time span so every SF exercises matches.
    */
  def rangeJoinWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val hourUs = 3600L * 1000000L
    val windows = ev
      .select(floor(unix_micros($"ts") / (2 * hourUs)).as("h2"))
      .distinct()
      .select(
        timestamp_micros($"h2" * 2 * hourUs).as("w_start"),
        timestamp_micros($"h2" * 2 * hourUs + hourUs / 2).as("w_end"))
    graft.operators.RangeJoin.pointInInterval(
        ev.select($"event_id", $"ts"), windows,
        keyCols = Nil, tsCol = "ts", startCol = "w_start", endCol = "w_end",
        payload = Nil, bucketMs = 30 * 60 * 1000L)
      .groupBy($"w_start")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"w_start")
  }

  val rangeJoinWindowsSql: String =
    """WITH w AS (
      |  SELECT DISTINCT
      |    epoch_ms((epoch_us(ts) // 7200000000) * 7200000) AS w_start,
      |    epoch_ms((epoch_us(ts) // 7200000000) * 7200000 + 1800000) AS w_end
      |  FROM events)
      |SELECT w.w_start, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events e JOIN w ON w.w_start <= e.ts AND e.ts < w.w_end
      |GROUP BY w.w_start
      |ORDER BY w.w_start""".stripMargin

  /** Run `body` (a complete streaming-query execution) at `n` shuffle
    * partitions, restoring the session's setting after. Stateful streaming
    * operators allocate one state-store instance PER shuffle partition PER
    * stateful operator, and every micro-batch commits every instance to
    * the checkpoint — at the session's batch-tuned 32 partitions the
    * replay harnesses spent most of their wall time in empty-store
    * commits (q84: 17.9 s at 32 partitions, ~3 s at 8). A real deployment
    * sizes this to state volume/throughput; these replays carry ~100k
    * rows across ≤8 micro-batches, so 8 bounds the commit fan-out while
    * still exercising multi-partition state.
    */
  private def withStreamShuffle[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    // All replay checkpoints live on the local temp filesystem; route their
    // file traffic through the fork-free NIO manager (see
    // [[org.apache.spark.sql.graft.NioCheckpointFileManager]] — the default
    // Hadoop local-FS managers fork chmod/readlink per checkpoint file,
    // ~1,500 forks per micro-batch measured on the q145 harness). Scoped
    // here, with the prior value restored, like the shuffle setting.
    val fmKey = org.apache.spark.sql.graft.NioCheckpointFileManager.ConfKey
    val prevFm = spark.conf.getOption(fmKey)
    spark.conf.set(fmKey, org.apache.spark.sql.graft.NioCheckpointFileManager.ClassName)
    try body finally {
      spark.conf.set(key, prev)
      prevFm match {
        case Some(v) => spark.conf.set(fmKey, v)
        case None    => spark.conf.unset(fmKey)
      }
    }
  }

  // One temp root per JVM for q71's fixtures and run dirs, deleted on JVM
  // exit — earlier rounds leaked a fresh createTempDirectory per invocation
  // (4 dirs per bench run, never reclaimed).
  // package-private: StateStoreSpec introspects run checkpoints post-hoc
  private[queries] lazy val streamUpsertRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_stream_upsert")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursive(p)))
    p
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => try java.nio.file.Files.delete(f) catch { case _: Throwable => () })
    }

  /** Per-trial replica-seed restore: hard-link when possible, copy as the
    * fallback — safe because every store write is new-file-then-rename
    * (see the MergeOps twin for the full argument).
    */
  private def copyRecursive(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(from).iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f))
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(dst)
      else {
        java.nio.file.Files.deleteIfExists(dst)
        try java.nio.file.Files.createLink(dst, f)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(f, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  // Immutable fixtures staged once per (JVM, sfDir): the 4-file source
  // parquet the stream replays, and a pristine copy of the seeded target.
  // Only a query's first run pays this cost, so a repeated run measures the
  // streaming path itself, not fixture staging.
  private val streamUpsertStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamUpsertFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamUpsertStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val ev = events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
      val fix = streamUpsertRoot.resolve(
        "fix_" + java.lang.Integer.toHexString(dir.hashCode))
      val seed = ev.filter(pmod($"event_id", lit(2)) === 0)
        .select($"event_id", lit(-1L).as("user_id"),
          lit("seeded").as("event_type"), lit(-1.0).as("value"))
      seed.write.mode("overwrite").parquet(fix.resolve("seed_tbl").toString)
      ev.repartitionByRange(4, $"event_id").write.mode("overwrite")
        .parquet(fix.resolve("src").toString)
      fix
    })

  /** q71: the streaming upsert path executed END-TO-END — not the batch
    * twin. The events table is staged as multiple parquet files, replayed
    * by Structured Streaming (`maxFilesPerTrigger=1` under
    * `Trigger.AvailableNow`, so several real micro-batches execute) through
    * [[graft.streaming.EventStream.upsertSink]] into a parquet table that
    * was pre-seeded with corrupted copies of the even-id rows — forcing the
    * merge to take the conflict-UPDATE path for half the keys and the
    * INSERT path for the other half. event_id is globally unique, so the
    * final table is deterministic regardless of micro-batch boundaries,
    * and the oracle is simply the events projection: any seeded value
    * surviving (broken update) or any id missing (broken insert/recovery)
    * hash-mismatches. Fixture staging (source files + pristine seeded
    * table) happens once per JVM outside the timed path; each invocation
    * only resets the run dir and replays the stream.
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value").schema
    val fix = streamUpsertFixtures(spark, dir)
    // A single run dir, overwritten per invocation: the previous run's
    // seeded table + checkpoint are deleted first, so disk usage is bounded
    // by one copy instead of accumulating (the returned frame stays
    // readable until the next invocation; callers materialize it anyway).
    val run = streamUpsertRoot.resolve("run")
    deleteRecursive(run)
    val target = run.resolve("events_tbl")
    java.nio.file.Files.createDirectories(target)
    copyRecursive(fix.resolve("seed_tbl"), target) // cheap NIO copy, no Spark job
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val query = graft.streaming.EventStream.upsertSink(
      stream, target.toString, Seq("event_id"), run.resolve("ckpt").toString)
    query.awaitTermination()
    spark.read.parquet(target.toString).orderBy($"event_id")
  } }

  val streamUpsertSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // q182 fixtures, staged once per (JVM, sfDir): a seeded replica (missing
  // the %5==4 rows, values corrupted on %5==0) and the 4-file CDC feed the
  // stream replays (D for %5==1, U restoring %5==0, I adding %5==4). Every
  // key carries exactly ONE op across the whole feed, so the final replica
  // is deterministic regardless of micro-batch boundaries.
  private val streamCdcStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamCdcFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamCdcStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val ev = events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
      val fix = streamUpsertRoot.resolve(
        "fixcdc_" + java.lang.Integer.toHexString(dir.hashCode))
      val m5 = pmod($"event_id", lit(5))
      val seed = ev.filter(m5 =!= 4)
        .withColumn("value", when(m5 === 0, lit(-1.0)).otherwise($"value"))
      seed.write.mode("overwrite").parquet(fix.resolve("replica_seed").toString)
      val feed = ev.filter(m5 === 1)
        .select(lit("D").as("op"), $"event_id", $"user_id", $"event_type", $"value")
        .unionByName(ev.filter(m5 === 0)
          .select(lit("U").as("op"), $"event_id", $"user_id", $"event_type", $"value"))
        .unionByName(ev.filter(m5 === 4)
          .select(lit("I").as("op"), $"event_id", $"user_id", $"event_type", $"value"))
      feed.repartitionByRange(4, $"event_id").write.mode("overwrite")
        .parquet(fix.resolve("feed").toString)
      fix
    })

  /** q182: the CDC replication loop END-TO-END on the real micro-batch
    * path — the round-8 pieces (q96 changelog production, q174 batch
    * apply, q71 streaming upsert) wired together: a changelog FEED
    * replayed by Structured Streaming (`maxFilesPerTrigger=1` under
    * `Trigger.AvailableNow` → several real micro-batches) maintains a
    * replica via `foreachBatch { TableStore.applyCdc }`
    * ([[graft.streaming.EventStream.cdcSink]]). The replica starts WRONG
    * three ways — rows missing (%5==4), rows that must die (%5==1), rows
    * with corrupted values (%5==0) — and every op class must land for the
    * final state to hash-match the primary-derived oracle. Keys are
    * globally unique across the feed, so micro-batch boundaries can't
    * change the result; applyCdc's one-swap-per-batch keeps every
    * intermediate replica state consistent.
    */
  def streamCdcReplica(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamCdcFixtures(spark, dir)
    val feedSchema = spark.read.parquet(fix.resolve("feed").toString).schema
    val run = streamUpsertRoot.resolve("runCdc")
    deleteRecursive(run)
    val replica = run.resolve("replica_tbl")
    java.nio.file.Files.createDirectories(replica)
    copyRecursive(fix.resolve("replica_seed"), replica)
    val feed = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("feed").toString)
    val query = graft.streaming.EventStream.cdcSink(
      feed, replica.toString, Seq("event_id"), run.resolve("ckpt").toString)
    query.awaitTermination()
    spark.read.parquet(replica.toString).orderBy($"event_id")
  } }

  val streamCdcReplicaSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |WHERE event_id % 5 <> 1
      |ORDER BY event_id""".stripMargin

  /** q227: EXACTLY-ONCE CDC replication — q182's streaming loop through
    * [[graft.streaming.EventStream.cdcSinkExactlyOnce]], whose batch
    * ledger ([[graft.store.TableStore.applyCdcExactlyOnce]]) records each
    * applied batch id INSIDE the same atomic swap as the data. After the
    * stream completes, the query simulates the crash-replay `foreachBatch`
    * cannot rule out: batch id 0 arrives AGAIN, now carrying poison
    * values (the non-idempotent-feed nightmare at-least-once cannot
    * survive). The ledger must skip it — a failed skip either trips the
    * in-query require or floods the replica with poison and
    * hash-mismatches the primary-derived oracle.
    */
  def streamCdcExactlyOnce(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamCdcFixtures(spark, dir)
    val feedSchema = spark.read.parquet(fix.resolve("feed").toString).schema
    val run = streamUpsertRoot.resolve("runCdcX1")
    deleteRecursive(run)
    val replica = run.resolve("replica_tbl")
    java.nio.file.Files.createDirectories(replica)
    copyRecursive(fix.resolve("replica_seed"), replica)
    val feed = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("feed").toString)
    val query = graft.streaming.EventStream.cdcSinkExactlyOnce(
      feed, replica.toString, Seq("event_id"), run.resolve("ckpt").toString)
    query.awaitTermination()
    // the replay: same batch id, poisoned content — must be skipped
    val poison = spark.read.parquet(fix.resolve("feed").toString)
      .withColumn("value", lit(-777.0))
    val applied = graft.store.TableStore.applyCdcExactlyOnce(
      spark, replica.toString, poison, Seq("event_id"), batchId = 0)
    require(!applied, "batch ledger failed: replayed batch id 0 re-applied")
    // a genuinely NEW batch id still applies (the ledger gates replays,
    // not progress): an empty-feed batch advances the ledger watermark
    val advanced = graft.store.TableStore.applyCdcExactlyOnce(
      spark, replica.toString, poison.limit(0), Seq("event_id"), batchId = 99)
    require(advanced, "batch ledger wrongly blocked a new batch id")
    spark.read.parquet(replica.toString).orderBy($"event_id")
  } }

  val streamCdcExactlyOnceSql: String = streamCdcReplicaSql

  /** q249: exactly-once CDC into a MERGE-ON-READ replica — q227's loop
    * and poison-replay contract with ZERO per-batch rewrites: each
    * micro-batch deletion-vector-masks the old rows and appends upserts
    * as new part files, the batch ledger committing INSIDE the same
    * sidecar swap as the mask
    * ([[graft.streaming.EventStream.cdcSinkMorExactlyOnce]] →
    * [[graft.operators.DeletionVectors.morApplyCdc]]). The poisoned
    * replay of batch 0 must be ledger-skipped; per-batch write
    * amplification is O(batch) instead of the COW apply's
    * O(replica footprint) — the debt lands on `dvRead`'s broadcast
    * anti-join and is collected by `compact`, which is also exercised
    * here: the graded rows are read AFTER a compaction that must
    * preserve exactly the masked-state content (and the ledger).
    */
  def streamCdcMorExactlyOnce(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamCdcFixtures(spark, dir)
    val feedSchema = spark.read.parquet(fix.resolve("feed").toString).schema
    val run = streamUpsertRoot.resolve("runCdcMor")
    deleteRecursive(run)
    val replica = run.resolve("replica_tbl")
    java.nio.file.Files.createDirectories(replica)
    // MoR replica is a PLAIN parquet dir (no store protocol files): seed
    // it directly from the fixture's seed content
    spark.read.parquet(fix.resolve("replica_seed").toString)
      .write.mode("overwrite").parquet(replica.toString)
    val feed = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("feed").toString)
    val query = graft.streaming.EventStream.cdcSinkMorExactlyOnce(
      feed, replica.toString, "event_id", run.resolve("ckpt").toString)
    query.awaitTermination()
    // the replay: same batch id, poisoned content — must be ledger-skipped
    val poison = spark.read.parquet(fix.resolve("feed").toString)
      .withColumn("value", lit(-777.0))
    val applied = graft.operators.DeletionVectors.morApplyCdc(
      spark, replica.toString, poison, "event_id", batchId = 0)
    require(!applied, "MoR batch ledger failed: replayed batch id 0 re-applied")
    // compaction materializes the masks, preserves content AND the ledger
    graft.operators.DeletionVectors.compact(spark, replica.toString)
    val replayAfterCompact = graft.operators.DeletionVectors.morApplyCdc(
      spark, replica.toString, poison, "event_id", batchId = 0)
    require(!replayAfterCompact, "compaction dropped the batch ledger")
    graft.operators.DeletionVectors.dvRead(spark, replica.toString)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  } }

  val streamCdcMorExactlyOnceSql: String = streamCdcReplicaSql

  // q187 fixtures: q182's seed/feed over a DAY-PARTITIONED replica with
  // exact integer cents, staged once per (JVM, sfDir)
  private val streamCdcPartStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamCdcPartFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamCdcPartStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val ev = events(spark, dir).select($"event_id", $"user_id",
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        to_date($"ts").cast("string").as("day"))
      val fix = streamUpsertRoot.resolve(
        "fixcdcp_" + java.lang.Integer.toHexString(dir.hashCode))
      val m5 = pmod($"event_id", lit(5))
      val seed = ev.filter(m5 =!= 4)
        .withColumn("cents", when(m5 === 0, lit(-1L)).otherwise($"cents"))
      seed.write.mode("overwrite").partitionBy("day")
        .parquet(fix.resolve("replica_seed").toString)
      val feed = ev.filter(m5 === 1)
        .select(lit("D").as("op"), $"event_id", $"user_id", $"cents", $"day")
        .unionByName(ev.filter(m5 === 0)
          .select(lit("U").as("op"), $"event_id", $"user_id", $"cents", $"day"))
        .unionByName(ev.filter(m5 === 4)
          .select(lit("I").as("op"), $"event_id", $"user_id", $"cents", $"day"))
      feed.repartitionByRange(4, $"event_id").write.mode("overwrite")
        .parquet(fix.resolve("feed").toString)
      fix
    })

  /** q187: the partitioned CDC replication loop on the real micro-batch
    * path — q182's streaming harness against q181's partition-pruned sink
    * ([[graft.streaming.EventStream.cdcSinkPartitioned]] →
    * `foreachBatch { applyCdcPartitioned }`): each micro-batch discovers
    * the days its deletes live in ∪ its upserts land in and rewrites ONLY
    * those partition dirs — the shape a continuously-replicating 100 TB
    * table requires (per-batch whole-table rewrites were the round-8
    * gap). The replica starts wrong three ways (missing %5==4 rows,
    * doomed %5==1 rows, corrupted cents on %5==0); the graded artifact is
    * the post-replication ON-DISK state per day against the
    * primary-derived oracle. Keys are unique across the feed, so
    * micro-batch boundaries cannot change the result.
    */
  def streamCdcPartitioned(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamCdcPartFixtures(spark, dir)
    val feedSchema = spark.read.parquet(fix.resolve("feed").toString).schema
    val run = streamUpsertRoot.resolve("runCdcPart")
    deleteRecursive(run)
    val replica = run.resolve("replica_tbl")
    java.nio.file.Files.createDirectories(replica)
    copyRecursive(fix.resolve("replica_seed"), replica)
    val feed = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("feed").toString)
    val query = graft.streaming.EventStream.cdcSinkPartitioned(
      feed, replica.toString, Seq("event_id"), "day", run.resolve("ckpt").toString)
    query.awaitTermination()
    spark.read.parquet(replica.toString)
      .groupBy($"day".cast("string").as("day"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
        sum($"event_id").as("id_checksum"))
      .orderBy($"day")
  } }

  val streamCdcPartitionedSql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(SUM(event_id) AS BIGINT) AS id_checksum
      |FROM events
      |WHERE event_id % 5 <> 1
      |GROUP BY day
      |ORDER BY day""".stripMargin

  // q276 fixture: a TWO-LEVEL (etype, tenday) replica — the canonical
  // (source, day) lakehouse layout — seeded without the held-out 'view'
  // quarter, plus a 4-file CDC feed confined to etype='view' (updates,
  // deletes, re-inserts), so every leaf outside 'view' must survive the
  // whole replication byte-identical.
  private val streamCdc2LStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamCdc2LFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamCdc2LStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val ev = events(spark, dir).select($"event_id", $"user_id",
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        $"event_type".as("etype"),
        expr("CAST((dayofmonth(ts) - 1) div 10 AS INT)").as("tenday"))
      val fix = streamUpsertRoot.resolve(
        "fixcdc2l_" + java.lang.Integer.toHexString(dir.hashCode))
      val m4 = pmod($"event_id", lit(4))
      ev.filter(m4 =!= 3).write.mode("overwrite")
        .partitionBy("etype", "tenday")
        .parquet(fix.resolve("replica_seed").toString)
      val view = ev.filter($"etype" === "view")
      val feed = view.filter(m4 === 0) // doubled-and-shifted cents
        .select(lit("U").as("op"), $"event_id", $"user_id",
          ($"cents" * 2 + 7).as("cents"), $"etype", $"tenday")
        .unionByName(view.filter(m4 === 1) // doomed rows
          .select(lit("D").as("op"), $"event_id", $"user_id", $"cents",
            $"etype", $"tenday"))
        .unionByName(view.filter(m4 === 3) // the held-out quarter returns
          .select(lit("I").as("op"), $"event_id", $"user_id", $"cents",
            $"etype", $"tenday"))
      feed.repartitionByRange(4, $"event_id").write.mode("overwrite")
        .parquet(fix.resolve("feed").toString)
      fix
    })

  /** q276: the EXACTLY-ONCE CDC replication loop into a TWO-LEVEL
    * (etype, tenday) partitioned replica on the real micro-batch path —
    * the streaming closure of the round-14 multi-level store work:
    * [[graft.streaming.EventStream.cdcSinkPartitionedExactlyOnce]] with
    * `Seq("etype", "tenday")` routes each micro-batch through the
    * leaf-pruned CDC apply with the batch ledger riding the partition
    * stage. The feed's mutations are confined to `etype='view'`, and the
    * graded query require-asserts that every LEAF outside 'view' keeps
    * its exact (path, mtime, length) listing across all four
    * micro-batches — leaf-precise pruning on the streaming path — then
    * REPLAYS the whole stream from a fresh checkpoint and asserts the
    * table is byte-identical (the ledger skips every replayed batch:
    * exactly-once, not at-least-once). Output is the on-disk replica
    * aggregated per leaf vs the primary-derived oracle.
    */
  def streamCdcTwoLevel(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamCdc2LFixtures(spark, dir)
    val feedSchema = spark.read.parquet(fix.resolve("feed").toString).schema
    val run = streamUpsertRoot.resolve("runCdc2L")
    deleteRecursive(run)
    val replica = run.resolve("replica_tbl")
    java.nio.file.Files.createDirectories(replica)
    copyRecursive(fix.resolve("replica_seed"), replica)
    def leaves(keep: String => Boolean): Seq[(String, Long, Long)] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory && f.getName.contains("=")) walk(f)
          else if (f.isFile && f.getName.endsWith(".parquet")) Seq(f) else Nil)
      walk(replica.toFile).map(f => (f.getPath, f.lastModified(), f.length()))
        .filter(t => keep(t._1)).sortBy(_._1)
    }
    val untouchedBefore = leaves(p => !p.contains("etype=view"))
    require(untouchedBefore.nonEmpty, "fixture needs non-view leaves")
    def replay(ckpt: String): Unit = {
      val feed = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 1).parquet(fix.resolve("feed").toString)
      graft.streaming.EventStream.cdcSinkPartitionedExactlyOnce(
        feed, replica.toString, Seq("event_id"), Seq("etype", "tenday"),
        run.resolve(ckpt).toString).awaitTermination()
    }
    replay("ckpt")
    require(leaves(p => !p.contains("etype=view")) == untouchedBefore,
      "a leaf outside etype=view changed — streaming CDC must prune at LEAF precision")
    require(graft.store.TableStore.detectPartitionColumns(spark, replica.toString)
      == Seq("etype", "tenday"), "the two-level layout must survive replication")
    val afterFirst = leaves(_ => true)
    replay("ckpt2") // fresh checkpoint replays batch ids 0..3 from zero
    require(leaves(_ => true) == afterFirst,
      "a replayed batch re-applied — the ledger must make replication " +
        "exactly-once, not at-least-once")
    spark.read.parquet(replica.toString)
      .groupBy($"etype".cast("string").as("etype"), $"tenday".cast("int").as("tenday"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
        sum($"event_id").as("id_checksum"))
      .orderBy($"etype", $"tenday")
  } }

  val streamCdcTwoLevelSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
      |    event_type AS etype,
      |    CAST((date_part('day', ts) - 1) // 10 AS INT) AS tenday
      |  FROM events),
      |final AS (
      |  SELECT event_id, cents, etype, tenday FROM base
      |  WHERE etype <> 'view' AND event_id % 4 <> 3
      |  UNION ALL
      |  SELECT event_id,
      |    CASE WHEN event_id % 4 = 0 THEN cents * 2 + 7 ELSE cents END AS cents,
      |    etype, tenday
      |  FROM base WHERE etype = 'view' AND event_id % 4 IN (0, 2, 3))
      |SELECT etype, tenday, COUNT(*) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(event_id) AS BIGINT) AS id_checksum
      |FROM final
      |GROUP BY etype, tenday
      |ORDER BY etype, tenday""".stripMargin

  // q84 fixture: the full events projection INCLUDING ts (q71's fixture
  // drops it), staged once per (JVM, sfDir) as 4 event_id-ranged files so
  // AvailableNow + maxFilesPerTrigger=1 replays several real micro-batches
  // in arbitrary event-time order.
  private val streamJoinStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamJoinFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamJoinStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "joinfix_" + java.lang.Integer.toHexString(dir.hashCode))
      events(spark, dir)
        .select($"event_id", $"user_id", $"ts", $"event_type")
        .repartitionByRange(4, $"event_id")
        .write.mode("overwrite").parquet(fix.resolve("src").toString)
      fix
    })

  /** q84: STREAM-STREAM event-time interval join, executed end-to-end on
    * the real micro-batch path — view events joined to purchase events of
    * the same user within [view.ts, view.ts + 30 min), via
    * [[graft.streaming.EventStream.intervalJoin]]. Two independent
    * readStream instances replay the staged 4-file fixture
    * (`maxFilesPerTrigger = 1` under `Trigger.AvailableNow`), so the join
    * buffers state across several genuine micro-batches whose file order
    * is NOT event-time order — any state mishandling (premature eviction,
    * lost buffer) drops pairs and hash-mismatches against the batch
    * oracle. The watermark delay (40 days) covers the whole replayed
    * span, making stream ≡ batch exactly; production bounds state with a
    * real lateness budget instead (documented on intervalJoin).
    */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type").schema
    val fix = streamJoinFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runJoin")
    deleteRecursive(run)
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val views = src().filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts")
    val purchases = src().filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val joined = graft.streaming.EventStream.intervalJoin(
        views, purchases, Seq("user_id"),
        windowMs = 30L * 60L * 1000L, watermarkDelay = "40 days")
      .select(col("l.view_id"), col("r.purchase_id"))
    val out = run.resolve("out")
    val query = joined.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString).orderBy($"view_id", $"purchase_id")
  } }

  // q145 fixture: ts-RANGE-partitioned event files (in-event-time-order
  // replay) plus a far-future sentinel row staged LAST (newest mtime —
  // FileStreamSource batches oldest-first), whose only job is to advance
  // both sides' watermarks past every join window so the outer rows flush
  // before AvailableNow terminates.
  private val streamOuterStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamOuterFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamOuterStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "outerfix_" + java.lang.Integer.toHexString(dir.hashCode))
      val src = fix.resolve("src")
      val base = events(spark, dir)
        .select($"event_id", $"user_id", $"ts", $"event_type")
      base.repartitionByRange(4, $"ts")
        .write.mode("overwrite").parquet(src.toString)
      val maxTs = base.agg(max($"ts")).head().getTimestamp(0)
      // THREE sentinels: the watermark advanced by a batch's max event
      // time only takes effect in the NEXT batch, and AvailableNow
      // terminates after the last data batch — with a single sentinel the
      // outer rows stay in state forever (observed: matches emitted, zero
      // nulls). Sentinel 1 raises the watermark past every window, the
      // sentinel-2 batch applies it and flushes the unmatched state, and
      // sentinel 3 absorbs the one-batch lag the engine shows between
      // state removal and outer-row emission. Each must also sort AFTER the data files in
      // the source's oldest-first mtime order — force increasing mtimes.
      Seq(1, 2, 3).foreach { i =>
        val before = java.nio.file.Files.list(src).toArray.toSet
        val ts = new java.sql.Timestamp(maxTs.getTime + i * 1000L * 24 * 3600 * 1000)
        // the sentinels must SURVIVE the event-type filters (Catalyst
        // pushes non-event-time predicates below the watermark node, so a
        // filtered-out sentinel never advances anything — observed): they
        // are a real view and a real purchase on impossible user ids,
        // excluded from the RESULT by the view_id >= 0 filter after the
        // join (the sentinel purchase matches nothing and vanishes; the
        // sentinel view's outer row is dropped there)
        Seq((-2L * i, -2L, ts, "view"), (-2L * i - 1, -3L, ts, "purchase"))
          .toDF("event_id", "user_id", "ts", "event_type")
          .coalesce(1).write.mode("append").parquet(src.toString)
        val later = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 60000L)
        java.nio.file.Files.list(src).toArray.toSet.diff(before).foreach { p =>
          java.nio.file.Files.setLastModifiedTime(
            p.asInstanceOf[java.nio.file.Path], later)
        }
      }
      fix
    })

  /** q145: LEFT OUTER stream-stream interval join on the real micro-batch
    * path — every view pairs with same-user purchases in the next 30
    * minutes, and views with NO such purchase emit (view_id, null) when
    * the watermark passes their window
    * ([[graft.streaming.EventStream.intervalJoinOuter]]). The outer rows
    * only exist if state eviction works: emitted too early they'd
    * duplicate later matches, never evicted they'd never appear (and the
    * hash would mismatch the batch left-join oracle either way). Replay
    * is event-time-ordered (ts-range files, oldest-first source order)
    * with a 35-day watermark delay covering any residual disorder, and
    * the staged sentinel advances the final watermark past every window
    * — both watermarks apply BEFORE the event-type filters so the
    * sentinel can advance them while staying out of the join inputs.
    */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type").schema
    val fix = streamOuterFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runOuter")
    deleteRecursive(run)
    // ONE source instance, both sides derived from it (stream self-join):
    // with two independent readStream instances the global watermark is
    // the MIN over both sources' nodes, and under AvailableNow the
    // sources do not consume files in lockstep — observed: one source
    // finished before ever reading the sentinels, pinning the min
    // watermark at end-of-data − delay and swallowing every outer row.
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
      .withWatermark("ts", "35 days")
    val views = stream.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts")
    val purchases = stream.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val joined = graft.streaming.EventStream.intervalJoinOuter(
        views, purchases, Seq("user_id"), windowMs = 30L * 60L * 1000L)
      .filter(col("l.view_id") >= 0) // drop the watermark-sentinel view
      .select(col("l.view_id"), col("r.purchase_id"))
    val out = run.resolve("out")
    val query = joined.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString).orderBy($"view_id", $"purchase_id")
  } }

  val streamOuterJoinSql: String =
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id
      |FROM events v LEFT JOIN events p
      |  ON p.event_type = 'purchase'
      | AND p.user_id = v.user_id
      | AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE
      |WHERE v.event_type = 'view'
      |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin

  /** q208: FULL OUTER stream-stream interval join — the reconciliation
    * completion of the join trio (q84 inner, q145 left-outer): views with
    * no purchase in the next 30 minutes emit (view_id, null), AND
    * purchases preceded by no view emit (null, purchase_id) — the
    * two-feed audit where orphans on EITHER side are findings. Right-side
    * outer rows exercise the state-expiry direction q145 cannot: the
    * engine derives the purchase-state watermark from the range condition
    * (l.ts > r.ts − window) and emits the orphan only when no future view
    * could still claim it. Same single-source + three-sentinel ritual as
    * q145 ([[streamOuterFixtures]]); both sentinel families are dropped
    * AFTER the join (null-safe ≥ 0 guards on both sides) so they advance
    * watermarks without polluting the result.
    */
  def streamFullOuterJoin(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type").schema
    val fix = streamOuterFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runFullOuter")
    deleteRecursive(run)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
      .withWatermark("ts", "35 days")
    val views = stream.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts")
    val purchases = stream.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val joined = graft.streaming.EventStream.intervalJoinFull(
        views, purchases, Seq("user_id"), windowMs = 30L * 60L * 1000L)
      // drop BOTH sentinel families: the sentinel view's left-outer row
      // and the sentinel purchase's right-outer row (negative ids)
      .filter((col("l.view_id").isNull || col("l.view_id") >= 0) &&
        (col("r.purchase_id").isNull || col("r.purchase_id") >= 0))
      .select(col("l.view_id"), col("r.purchase_id"))
    val out = run.resolve("out")
    val query = joined.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString).orderBy($"view_id", $"purchase_id")
  } }

  val streamFullOuterJoinSql: String =
    """WITH v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'),
      |     p AS (SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT v.view_id, p.purchase_id
      |FROM v FULL JOIN p
      |  ON p.user_id = v.user_id
      | AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE
      |ORDER BY view_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  val streamIntervalJoinSql: String =
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id
      |FROM events v JOIN events p
      |  ON v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.user_id = v.user_id
      | AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE
      |ORDER BY view_id, purchase_id""".stripMargin

  /** q107: STREAM-STATIC enrichment join executed on the real micro-batch
    * path — the one streaming join shape q84 (stream-stream) doesn't
    * cover. A static per-user profile (event count + exact-decimal value
    * total, built in batch) enriches the replayed event stream via
    * [[graft.streaming.EventStream.enrichStream]]; the static side is
    * re-planned per micro-batch (broadcast when small), the stream side
    * keeps NO join state. Replay uses the q84 4-file fixture under
    * `maxFilesPerTrigger=1`, so several genuine micro-batches each join
    * the dim independently — a dim row lost or duplicated in any batch
    * hash-mismatches the batch oracle. Left join: events without a
    * profile would survive with nulls (none exist here, which the oracle
    * equally asserts).
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type").schema
    val dim = events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_user_events"),
        round(sum($"value".cast(MoneyDec)), 2).cast("double").as("user_total"))
    val fix = streamJoinFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runStatic")
    deleteRecursive(run)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val enriched = graft.streaming.EventStream
      .enrichStream(stream, dim, Seq("user_id"))
      .select($"event_id", $"event_type", $"n_user_events", $"user_total")
    val out = run.resolve("out")
    val query = enriched.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString).orderBy($"event_id")
  } }

  val streamStaticJoinSql: String =
    """WITH dim AS (
      |  SELECT user_id, COUNT(*) AS n_user_events,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS user_total
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.event_type, d.n_user_events, d.user_total
      |FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
      |ORDER BY e.event_id""".stripMargin

  /** q109: ordered funnel — the conversion analysis of event pipelines:
    * how many users progressed view → click → purchase IN ORDER (each
    * stage strictly after the previous stage's FIRST occurrence). Three
    * aggregates all keyed on user_id: after the first shuffle the
    * stage-2/3 joins and group-bys reuse the same hash partitioning, so
    * the funnel costs one event shuffle plus per-user-sized intermediate
    * joins — no windows over the full event stream, no cross products.
    * The "first occurrence" anchor makes the result order-deterministic;
    * the oracle recomputes the identical three-CTE cascade.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("mv"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"mv")
      .groupBy($"user_id").agg(min($"ts").as("mc"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"mc")
      .groupBy($"user_id").agg(min($"ts").as("mp"))
    val stages = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
      .map { case (name, df) => df.agg(lit(name).as("stage"),
        count(lit(1)).as("n_users")) }
    stages.reduce(_ unionByName _).orderBy($"stage")
  }

  val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS mv FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS mc FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.mv GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS mp FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.mc GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
      |  UNION ALL SELECT '2_click', COUNT(*) FROM c
      |  UNION ALL SELECT '3_purchase', COUNT(*) FROM p) t
      |ORDER BY stage""".stripMargin

  /** q110: cohort retention — users cohorted by first-activity day; for
    * each (cohort_day, day_offset) the distinct users active that day.
    * The first-day aggregate, the per-day activity distinct, and their
    * join all key on user_id — one event shuffle reused three times —
    * and only the final (cohort, offset) roll-up reshuffles, on rows
    * already reduced to user-day grain. Day arithmetic happens in DATE
    * space (UTC session), matching DuckDB's naive CAST(ts AS DATE).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).select($"user_id", to_date($"ts").as("day"))
    val firsts = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val activity = ev.distinct()
    activity.join(firsts, "user_id")
      .select($"cohort_day", datediff($"day", $"cohort_day").as("day_offset"), $"user_id")
      .groupBy($"cohort_day", $"day_offset")
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val cohortRetentionSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |firsts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, day FROM ev)
      |SELECT f.cohort_day,
      | CAST(a.day - f.cohort_day AS INTEGER) AS day_offset,
      | COUNT(DISTINCT a.user_id) AS n_active
      |FROM activity a JOIN firsts f ON a.user_id = f.user_id
      |GROUP BY f.cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** q86: trailing 1-hour per-user aggregates via a RANGE window frame —
    * the value-based frame (`rangeBetween(-3600, 0)` over event-time
    * seconds) rather than the row-count frames used elsewhere. RANGE
    * includes all timestamp peers, so the result is order-deterministic
    * under ties by construction; sums run in decimal so the trailing
    * totals are exact.
    */
  def rangeFrameTrailing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_sec")
      .rangeBetween(-3600, 0)
    events(spark, dir)
      .withColumn("ts_sec", expr("unix_micros(ts) div 1000000"))
      .withColumn("trailing_n", count(lit(1)).over(w))
      .withColumn("trailing_value",
        round(sum($"value".cast(MoneyDec)).over(w), 2).cast("double"))
      .select($"event_id", $"user_id", $"ts", $"trailing_n", $"trailing_value")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val rangeFrameTrailingSql: String =
    """SELECT event_id, user_id, ts,
      | COUNT(*) OVER w AS trailing_n,
      | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) OVER w, 2) AS DOUBLE) AS trailing_value
      |FROM (SELECT *, epoch_us(ts) // 1000000 AS ts_sec FROM events) t
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts, event_id""".stripMargin

  // q88 fixture: (event_id, user_id, value_dec decimal(38,6)) in 4
  // event_id-ranged files. The double→decimal cast happens HERE, by
  // Spark, so the streaming state machine only ever adds exact decimals
  // (order-independent) and the oracle's CAST(value AS DECIMAL(38,6))
  // matches by construction.
  private val streamStateStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamStateFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamStateStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "statefix_" + java.lang.Integer.toHexString(dir.hashCode))
      events(spark, dir)
        .select($"event_id", $"user_id", $"value".cast(MoneyDec).as("value_dec"))
        .repartitionByRange(4, $"event_id")
        .write.mode("overwrite").parquet(fix.resolve("src").toString)
      fix
    })

  /** q88: per-user aggregates computed on the STATEFUL streaming path —
    * [[graft.streaming.EventStream.runningUserAggs]] (mapGroupsWithState,
    * O(1) state per user) over a 4-file replay (`maxFilesPerTrigger=1`
    * under AvailableNow, so state genuinely carries across several
    * micro-batches), each batch's updated aggregates upserted into a
    * parquet table keyed on user_id. The in-state sum is exact decimal,
    * so the converged table equals the batch GROUP BY regardless of
    * micro-batch boundaries — the oracle is that plain GROUP BY; any
    * state loss (dropped count), double-count (replayed batch), or
    * broken upsert hash-mismatches.
    */
  def streamStateAgg(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamStateFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runState")
    deleteRecursive(run)
    val target = run.resolve("user_aggs")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value_dec",
        org.apache.spark.sql.types.DataType.fromDDL("decimal(38,6)"))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val aggs = graft.streaming.EventStream.runningUserAggs(
      stream.as[graft.streaming.EventStream.UserEventDec])
    val query = graft.streaming.EventStream.upsertSink(
      aggs.toDF(), target.toString, Seq("user_id"), run.resolve("ckpt").toString)
    query.awaitTermination()
    spark.read.parquet(target.toString)
      .select($"user_id", $"n_events",
        round($"total_value", 2).cast("double").as("total_value"))
      .orderBy($"user_id")
  } }

  val streamStateAggSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // q195 fixture: the q88 shape plus event_type, so the processor's
  // MapState (per-type counters) has something real to key on.
  private val streamTwsStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamTwsFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamTwsStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "twsfix_" + java.lang.Integer.toHexString(dir.hashCode))
      events(spark, dir)
        .select($"event_id", $"user_id", $"event_type",
          $"value".cast(MoneyDec).as("value_dec"))
        .repartitionByRange(4, $"event_id")
        .write.mode("overwrite").parquet(fix.resolve("src").toString)
      fix
    })

  /** Run `body` with the RocksDB state-store provider (required by
    * transformWithState), restoring the session's provider after.
    */
  private def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** q195: the q88 contract on Spark 4's `transformWithState` API — the
    * arbitrary-stateful-processing successor with TYPED COMPOSITE state:
    * three ValueStates (count, exact decimal sum, max event id) plus a
    * MapState of per-event-type counters per user, held in RocksDB (the
    * provider the operator requires). Replayed across 4 real micro-batches
    * (`maxFilesPerTrigger=1` under AvailableNow), each batch's updated
    * aggregates upserted into a parquet table keyed on user_id. Every
    * state update is associative and exact, so the converged table equals
    * the batch GROUP BY whatever the batch boundaries — a lost MapState
    * entry, double-counted replay, or mis-merged ValueState
    * hash-mismatches against the oracle.
    */
  def streamTransformWithState(spark: SparkSession, dir: String): DataFrame =
    streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) { withRocksDbStateStore(spark) {
      import spark.implicits._
      val fix = streamTwsFixtures(spark, dir)
      val run = streamUpsertRoot.resolve("runTws")
      deleteRecursive(run)
      val target = run.resolve("user_tws")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value_dec",
          org.apache.spark.sql.types.DataType.fromDDL("decimal(38,6)"))))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
      val aggs = graft.streaming.EventStream.userStatsTws(
        stream.as[graft.streaming.EventStream.UserEventTyped])
      val query = graft.streaming.EventStream.upsertSink(
        aggs.toDF(), target.toString, Seq("user_id"), run.resolve("ckpt").toString)
      query.awaitTermination()
      spark.read.parquet(target.toString)
        .select($"user_id", $"n_events",
          round($"total_value", 2).cast("double").as("total_value"),
          $"n_types", $"n_purchases", $"max_event_id")
        .orderBy($"user_id")
    } } }

  val streamTransformWithStateSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value,
      | CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
      | CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
      | MAX(event_id) AS max_event_id
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // q90 fixture: the events projection in 3 ranged files PLUS a fourth
  // file re-delivering every third event — the at-least-once delivery
  // shape a streaming dedup exists for. Duplicates are byte-identical to
  // their originals, so whichever copy the state keeps, the final set is
  // deterministic.
  private val streamDedupStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamDedupFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamDedupStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "dedupfix_" + java.lang.Integer.toHexString(dir.hashCode))
      val ev = events(spark, dir)
        .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      ev.repartitionByRange(3, $"event_id")
        .write.mode("overwrite").parquet(fix.resolve("src").toString)
      ev.filter(pmod($"event_id", lit(3)) === 0).coalesce(1)
        .write.mode("append").parquet(fix.resolve("src").toString)
      fix
    })

  /** q90: streaming exact dedup end-to-end —
    * [[graft.streaming.EventStream.dedupStream]] (dropDuplicates state on
    * event_id) over a replay whose fixture re-delivers every third event
    * in a SEPARATE file, so duplicates arrive in different micro-batches
    * than their originals and only cross-batch state catches them. The
    * watermark delay covers the whole replayed span (exactness — the q84
    * posture); production uses `dropDuplicatesWithinWatermark` to bound
    * state to the redelivery horizon instead. Oracle: the events table
    * itself (event_id is unique), so any missed duplicate (extra row) or
    * over-dropped key (missing row) hash-mismatches.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value").schema
    val fix = streamDedupFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runDedup")
    deleteRecursive(run)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val deduped = graft.streaming.EventStream.dedupStream(
      stream, Seq("event_id"), watermark = "3650 days", withinWatermark = false)
    val out = run.resolve("out")
    val query = deduped.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString).orderBy($"event_id")
  } }

  // q213 fixture: ts-range files interleaved with PROMPT duplicate
  // redeliveries — file k's dups staged right after file k (mtime order),
  // so every duplicate arrives while its key is still inside the
  // watermark horizon and the bounded-state dedup stays exact
  private val dedupWmStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def dedupWmFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    dedupWmStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "dedupwmfix_" + java.lang.Integer.toHexString(dir.hashCode))
      val src = fix.resolve("src")
      val ev = events(spark, dir)
        .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      // quartile ts cuts keep the fixture builder shuffle-shaped (no
      // global window); exact boundaries don't matter — the oracle is
      // DISTINCT regardless, only "dups arrive promptly" does
      val evU = ev.withColumn("tsu", unix_micros($"ts").cast("double"))
      val cuts = evU.stat.approxQuantile("tsu", Array(0.25, 0.5, 0.75), 0.001)
      val lo = Seq(None, Some(cuts(0)), Some(cuts(1)), Some(cuts(2)))
      val hi = Seq(Some(cuts(0)), Some(cuts(1)), Some(cuts(2)), None)
      java.nio.file.Files.createDirectories(src)
      var seq = 0
      (0 until 4).foreach { k =>
        val f = evU
          .filter(lo(k).map($"tsu" >= lit(_)).getOrElse(lit(true)))
          .filter(hi(k).map($"tsu" < lit(_)).getOrElse(lit(true)))
          .drop("tsu")
        // staging order IS arrival order (oldest-first mtimes): originals,
        // then THIS range's redeliveries right behind them
        Seq(f, f.filter(pmod($"event_id", lit(3)) === 0)).foreach { part =>
          val before = java.nio.file.Files.list(src).toArray.toSet
          part.coalesce(1).write.mode("append").parquet(src.toString)
          seq += 1
          val later = java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + seq * 60000L)
          java.nio.file.Files.list(src).toArray.toSet.diff(before).foreach { p =>
            java.nio.file.Files.setLastModifiedTime(
              p.asInstanceOf[java.nio.file.Path], later)
          }
        }
      }
      fix
    })

  /** q213: BOUNDED-state streaming dedup — `dropDuplicatesWithinWatermark`,
    * the production variant of q90 whose state holds only the watermark
    * horizon instead of every key ever seen (at 100 TB/day the difference
    * between a fixed-size store and an unbounded one). The fixture
    * redelivers every third event immediately after its original file, so
    * each duplicate lands while its key is still within the horizon and
    * the output must equal the batch DISTINCT exactly; a dup that slipped
    * past eviction (horizon too small / eviction too eager) or an
    * over-dropped key hash-mismatches. StateStoreSpec proves the state
    * actually SHRANK below the distinct-key count after the run — the
    * eviction q90 deliberately disables.
    */
  def streamDedupBounded(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value").schema
    val fix = dedupWmFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runDedupWm")
    deleteRecursive(run)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    // horizon DERIVED from the observed event-time span: the fixture
    // redelivers within one quartile range, so span/4 plus a day of slack
    // covers the redelivery distance whatever span a fixture generator
    // produces (a fixed "10 days" was only exact because the current
    // generator fixes the span at 30 days — round-9 advice: a longer-span
    // fixture would evict originals before their duplicates arrive and
    // silently diverge from the DISTINCT oracle)
    val b = events(spark, dir)
      .agg(unix_micros(min($"ts")).as("lo"), unix_micros(max($"ts")).as("hi")).head()
    val horizonSec = (b.getLong(1) - b.getLong(0)) / 1000000L / 4L + 86400L
    val deduped = graft.streaming.EventStream.dedupStream(
      stream, Seq("event_id"), watermark = s"$horizonSec seconds", withinWatermark = true)
    val out = run.resolve("out")
    val query = deduped.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString).orderBy($"event_id")
  } }

  /** q212: streaming STATE-STORE introspection — the operational surface
    * a 100 TB streaming deployment debugs with: after the q90-style dedup
    * replay completes, `spark.read.format("statestore")` opens the
    * checkpoint's state files directly (Spark 4 State Data Source) and
    * the query audits WHAT the operator is holding — here the
    * dropDuplicates key set, which with an exactness watermark must be
    * precisely one key per distinct event_id. A leaked duplicate key, a
    * key dropped by premature eviction, or a state file unreadable after
    * the run each break the count/min/max against the batch oracle. The
    * reader is partition-parallel over the state files (one per shuffle
    * partition), so the audit scales with the state, not the stream.
    */
  def stateStoreRead(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value").schema
    val fix = streamDedupFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runStateRead")
    deleteRecursive(run)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val deduped = graft.streaming.EventStream.dedupStream(
      stream, Seq("event_id"), watermark = "3650 days", withinWatermark = false)
    val query = deduped.writeStream
      .format("parquet")
      .option("path", run.resolve("out").toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.format("statestore").load(run.resolve("ckpt").toString)
      .select(col("key.event_id").as("event_id"))
      .agg(count(lit(1)).as("n_state_keys"),
        count_distinct(col("event_id")).as("n_distinct_keys"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  } }

  val stateStoreReadSql: String =
    """SELECT COUNT(*) AS n_state_keys, COUNT(DISTINCT event_id) AS n_distinct_keys,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events""".stripMargin

  val streamDedupSql: String =
    """SELECT event_id, user_id, ts, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // q92 fixture: (ts, event_type, value) in 4 event_id-ranged files —
  // arrival order is deliberately NOT event-time order; the full-span
  // watermark makes the replay exact anyway (the q84 posture).
  private val streamWindowStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamWindowFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamWindowStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "winfix_" + java.lang.Integer.toHexString(dir.hashCode))
      events(spark, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
        .repartitionByRange(4, $"event_id")
        .write.mode("overwrite").parquet(fix.resolve("src").toString)
      fix
    })

  /** q92: the watermarked event-time windowed aggregation executed on the
    * real micro-batch path — [[graft.streaming.EventStream.windowedCounts]]
    * (tumbling 5-minute windows, the q37 streaming twin) over a 4-file
    * replay whose arrival order is NOT event-time order, update-mode
    * rows upserted into a parquet table keyed on (window_start,
    * event_type). Each emission is the window's cumulative aggregate
    * (exact decimal sum state, rounded only at output), so the converged
    * table equals the batch bucket aggregation for any micro-batch
    * partitioning. The watermark delay covers the replayed span — with a
    * short delay the out-of-order files would make Spark drop
    * legitimately late rows, and the hash would catch it; production
    * chooses the delay as its lateness budget (documented on
    * windowedCounts).
    */
  def streamWindowedAgg(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val schema = events(spark, dir)
      .select($"event_id", $"ts", $"event_type", $"value").schema
    val fix = streamWindowFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runWindow")
    deleteRecursive(run)
    val target = run.resolve("window_aggs")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val windowed = graft.streaming.EventStream.windowedCounts(
      stream, windowLength = "5 minutes", watermark = "3650 days")
    val query = graft.streaming.EventStream.upsertSink(
      windowed, target.toString, Seq("window_start", "event_type"),
      run.resolve("ckpt").toString)
    query.awaitTermination()
    spark.read.parquet(target.toString)
      .orderBy($"window_start", $"event_type")
  } }

  val streamWindowedAggSql: String =
    """SELECT make_timestamp(bucket * 300000000) AS window_start, event_type,
      | COUNT(*) AS n,
      | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
      |FROM (SELECT *, epoch_us(ts) // 300000000 AS bucket FROM events) t
      |GROUP BY bucket, event_type
      |ORDER BY window_start, event_type""".stripMargin

  // q93 fixture: 4 ts-RANGED files staged with strictly increasing
  // modification times (FileStreamSource processes oldest-first), so the
  // replay delivers event time monotonically ACROSS batches — the only
  // arrival contract under which emit-on-close sessionization can equal
  // the batch answer (a closed-and-emitted session cannot be reopened by
  // a late batch) — plus a 5th, newest file of per-user flush sentinels
  // (ts far past the span) that force every user's last real session to
  // close. The flush sessions themselves stay open in state and are
  // never emitted, so no output filtering is needed.
  private val streamSessionStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamSessionFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamSessionStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "sessfix_" + java.lang.Integer.toHexString(dir.hashCode))
      val ev = events(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
          lit("{}").as("props"))
      val stage = fix.resolve("stage")
      ev.repartitionByRange(4, $"ts", $"event_id")
        .write.mode("overwrite").parquet(stage.toString)
      val flushTs = ev.agg(max($"ts")).head().getTimestamp(0)
      val flush = ev.select($"user_id").distinct()
        .select((-$"user_id").as("event_id"),
          lit(new java.sql.Timestamp(flushTs.getTime + 4L * 3600 * 1000)).as("ts"),
          $"user_id", lit("flush").as("event_type"), lit(0.0).as("value"),
          lit("{}").as("props"))
      flush.coalesce(1).write.mode("overwrite").parquet(stage.resolve("flush").toString)
      // lay the files into src/ one by one with explicit, strictly
      // increasing mtimes: part-0000x of a range write is the x-th ts
      // range, so mtime order == event-time order; flush lands last
      val src = fix.resolve("src")
      java.nio.file.Files.createDirectories(src)
      import scala.jdk.CollectionConverters._
      val ranged = java.nio.file.Files.list(stage).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val flushPart = java.nio.file.Files.list(stage.resolve("flush")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      val base = System.currentTimeMillis() - 1000000L
      (ranged ++ flushPart).zipWithIndex.foreach { case (f, i) =>
        val dst = src.resolve(f.getFileName)
        java.nio.file.Files.copy(f, dst)
        dst.toFile.setLastModified(base + i * 10000L)
      }
      fix
    })

  /** q93: stateful gap-sessionization executed on the real micro-batch
    * path — [[graft.streaming.EventStream.sessionize]]
    * (flatMapGroupsWithState, 30-minute inactivity gap) over a 5-batch
    * time-ordered replay (see the fixture note for why order matters
    * here and nowhere else), emitting one row per CLOSED session.
    * Graded columns are the order-independent session facts — bounds
    * (epoch ms) and event count; the session partition of a user's
    * timeline depends only on the ts multiset, so the result is
    * deterministic. The oracle recomputes sessions with a lag()-based
    * boundary scan at the same millisecond gap. Any state bug — a
    * session split across batches, a lost open session, a flush leaking
    * into output — changes bounds or counts and hash-mismatches.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamSessionFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runSess")
    deleteRecursive(run)
    val schema = events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        lit("{}").as("props")).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val sessions = graft.streaming.EventStream.sessionize(
      stream.as[graft.streaming.EventStream.Event], gapMs = 1800L * 1000)
    val out = run.resolve("out")
    val query = sessions.toDF().writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString)
      .select($"user_id", $"first_ts".as("first_ms"), $"last_ts".as("last_ms"),
        $"n_events".cast("long").as("n_events"))
      .orderBy($"user_id", $"first_ms")
  } }

  val streamSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch_us(ts) // 1000 - epoch_us(LAG(ts) OVER w) // 1000 > 1800000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |  FROM g)
      |SELECT user_id,
      | epoch_us(MIN(ts)) // 1000 AS first_ms,
      | epoch_us(MAX(ts)) // 1000 AS last_ms,
      | COUNT(*) AS n_events
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, first_ms""".stripMargin

  /** q105: per-user interval coalescing via [[graft.operators.IntervalMerge]]
    * — each event opens a closed activity interval `[ts, ts + value
    * minutes]`; overlapping/touching intervals merge into spans. The
    * duration goes through `floor(value * 6e7)` micros on BOTH sides: the
    * double product and floor are IEEE-identical in Spark and DuckDB,
    * whereas a double→long CAST would truncate in Spark but round in
    * DuckDB.
    */
  def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = events(spark, dir)
      .withColumn("s_us", expr("unix_micros(ts)"))
      .withColumn("e_us", expr("unix_micros(ts) + CAST(floor(value * 60000000.0) AS BIGINT)"))
    graft.operators.IntervalMerge.merge(iv, Seq("user_id"), $"s_us", $"e_us")
      .select($"user_id",
        timestamp_micros($"span_start").as("span_start"),
        timestamp_micros($"span_end").as("span_end"),
        $"n_merged")
      .orderBy($"user_id", $"span_start")
  }

  val intervalMergeSql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + CAST(FLOOR(value * 60000000.0) AS BIGINT) AS e_us
      |  FROM events),
      |f AS (
      |  SELECT user_id, s_us, e_us,
      |    CASE WHEN MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR s_us > MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS brk
      |  FROM iv),
      |g AS (
      |  SELECT user_id, s_us, e_us,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
      |  FROM f)
      |SELECT user_id,
      | make_timestamp(MIN(s_us)) AS span_start,
      | make_timestamp(MAX(e_us)) AS span_end,
      | COUNT(*) AS n_merged
      |FROM g
      |GROUP BY user_id, span
      |ORDER BY user_id, span_start""".stripMargin

  /** q117: robust anomaly detection — median/MAD outlier flags per
    * (event_type, day) metric group, the monitoring op a data pipeline runs
    * over its own event firehose. Medians are LOWER medians selected by
    * rank (pure selection, zero interpolation arithmetic), so the values
    * are engine-exact; mean/stddev z-scores would let one outlier inflate
    * its own threshold, which is exactly what MAD resists. Scale shape:
    * groups are (type × day) so their count grows with the calendar while
    * per-group size stays bounded; both ranking passes partition on the
    * group key, and the tiny per-group median/MAD tables come back as
    * broadcast joins — the event table itself is never joined shuffled.
    */
  def madAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = events(spark, dir).filter($"value".isNotNull)
      .select($"event_id", $"event_type", to_date($"ts").as("day"), $"value")
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy($"event_type", $"day").orderBy(col(valueCol), $"event_id")
      val wAll = Window.partitionBy($"event_type", $"day")
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter($"rn" === expr("(cnt + 1) DIV 2"))
        .select($"event_type", $"day", col(valueCol).as(outCol))
    }
    val med = lowerMedian(v, "value", "med")
    val dev = v.join(broadcast(med), Seq("event_type", "day"))
      .withColumn("abs_dev", abs($"value" - $"med"))
    val mad = lowerMedian(dev, "abs_dev", "mad")
    dev.join(broadcast(mad), Seq("event_type", "day"))
      .filter($"abs_dev" > lit(3.0) * $"mad")
      .select($"event_id", $"event_type", $"day", $"value", $"med", $"mad")
      .orderBy($"event_id")
  }

  val madAnomalySql: String =
    """WITH v AS (
      |  SELECT event_id, event_type, CAST(ts AS DATE) AS day, value
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type, day ORDER BY value, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type, day) AS cnt FROM v),
      |med AS (SELECT event_type, day, value AS med FROM r WHERE rn = (cnt + 1) // 2),
      |dev AS (
      |  SELECT v.*, m.med, abs(v.value - m.med) AS abs_dev
      |  FROM v JOIN med m USING (event_type, day)),
      |r2 AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type, day ORDER BY abs_dev, event_id) AS rn2,
      |         count(*) OVER (PARTITION BY event_type, day) AS cnt2 FROM dev),
      |mad AS (SELECT event_type, day, abs_dev AS mad FROM r2 WHERE rn2 = (cnt2 + 1) // 2)
      |SELECT d.event_id, d.event_type, d.day, d.value, d.med, m.mad
      |FROM dev d JOIN mad m USING (event_type, day)
      |WHERE d.abs_dev > 3 * m.mad
      |ORDER BY d.event_id""".stripMargin

  /** q119: calendar densification (gap fill / resample) — per-user daily
    * activity with MISSING days materialized as explicit zero rows over
    * each user's own [first_day, last_day] span. Time-series models and
    * retention math need the zeros; a groupBy alone silently drops them.
    * Shape: one (user_id, day) aggregate shuffle; the calendar frame is
    * generated from the tiny per-user span table (`sequence` + explode —
    * fan-out bounded by span length, not table size) and left-joins the
    * aggregate back on its own key. At 100 TB the dense frame is
    * users × span-days — linear in the entity count, never in events.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast(MoneyDec)), 2).cast("double").as("total_value"))
    val cal = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    cal.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        coalesce($"n", lit(0L)).as("n_events"),
        coalesce($"total_value", lit(0.0)).as("total_value"))
      .orderBy($"user_id", $"day")
  }

  val gapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
      |cal AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span)
      |SELECT cal.user_id, cal.day,
      |  COALESCE(daily.n, 0) AS n_events,
      |  COALESCE(daily.total_value, 0.0) AS total_value
      |FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day
      |ORDER BY cal.user_id, cal.day""".stripMargin

  /** q120: session transition matrix — first-order Markov statistics over
    * the SAME 30-minute-gap sessionization as q38/q39 (the boundary rule
    * is shared, so the three queries grade one session definition from
    * three angles). Consecutive event pairs WITHIN a session (lead over
    * the user timeline; pairs crossing a session boundary are excluded —
    * the subtlety a naive lag-join gets wrong) roll up to per-(from, to)
    * counts and row-normalized transition probabilities. One user_id
    * window exchange + one tiny (from,to) aggregate; the |types|²-row
    * matrix normalizes via a window over itself.
    */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull, 1L)
          .when(expr("unix_micros(ts) - unix_micros(prev_ts)") > 1800L * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(w))
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .withColumn("to_session", lead($"session_id", 1).over(w))
      .filter($"to_type".isNotNull && $"to_session" === $"session_id")
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", $"n".cast("double") /
        sum($"n").over(Window.partitionBy($"from_type")))
      .orderBy($"from_type", $"to_type")
  }

  val sessionTransitionsSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    LAG(ts) OVER w AS prev_ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sid AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      |  FROM s),
      |pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER w AS to_type,
      |    LEAD(session_id) OVER w AS to_session, session_id
      |  FROM sid
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |cnt AS (
      |  SELECT from_type, to_type, COUNT(*) AS n FROM pairs
      |  WHERE to_type IS NOT NULL AND to_session = session_id
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM cnt
      |ORDER BY from_type, to_type""".stripMargin

  /** q128: sequential pattern mining (PrefixSpan-lite) — corpus-wide
    * counts of CONTIGUOUS event-type trigrams along each user's timeline,
    * the order-3 generalization of q120's bigram transition matrix and the
    * standard first pass of clickstream sequence mining.
    *
    * Scale shape: ONE user_id shuffle builds each user's (ts, event_id)-
    * sorted type sequence; trigram expansion is a LOCAL array transform
    * over that sequence (no positional self-join — the oracle's three-way
    * join shape would shuffle the event table three times); the final
    * (e1,e2,e3) count aggregate map-side combines into a |types|³-bounded
    * result. Per-user state is the user's own event count — the same
    * bound sessionization already carries.
    */
  /** Contiguous trigram expansion for a token-array column named `t` —
    * separated so the spec can drive it on literal arrays.
    */
  private[graft] def trigramExpr =
    // 0-based bracket indexing; positions i, i+1, i+2 stay in range
    // because the slice keeps only the first size-2 starting points
    expr("transform(slice(t, 1, greatest(size(t) - 2, 0)), (x, i) -> struct(x AS e1, t[i+1] AS e2, t[i+2] AS e3))")

  def eventTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))).as("s"))
      .select(expr("transform(s, x -> x.event_type)").as("t"))
      .select(explode(trigramExpr).as("g"))
      .groupBy($"g.e1", $"g.e2", $"g.e3")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"e1", $"e2", $"e3")
  }

  val eventTrigramsSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
      |  FROM events)
      |SELECT a.event_type AS e1, b.event_type AS e2, c.event_type AS e3,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM r a
      |JOIN r b ON b.user_id = a.user_id AND b.i = a.i + 1
      |JOIN r c ON c.user_id = a.user_id AND c.i = a.i + 2
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, e1, e2, e3""".stripMargin

  /** q130: point-in-time-correct feature join — the feature-store shape
    * that prevents training-serving leakage: every purchase event gets
    * (a) the value of the user's LAST click STRICTLY BEFORE the purchase
    * and (b) the count of the user's events in the trailing hour,
    * excluding the current second — both frames end at "1 preceding", so
    * no feature can see the label row or its future.
    *
    * Scale shape: ONE user_id exchange serves both window frames (rows
    * frame for last-click carry-forward, range frame on epoch seconds for
    * the trailing count); the purchase filter applies after, so features
    * derive from the full timeline but only label rows ship. No joins —
    * the as-of shape (q54) expressed as windows because spine and
    * features share one table.
    */
  def pitFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wRows = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRange = Window.partitionBy($"user_id").orderBy($"ts_sec")
      .rangeBetween(-3600, -1)
    events(spark, dir)
      .withColumn("ts_sec", expr("unix_micros(ts) div 1000000"))
      .withColumn("last_click_value",
        last(when($"event_type" === "click", $"value"), ignoreNulls = true).over(wRows))
      .withColumn("trailing_1h_n", count(lit(1)).over(wRange))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"last_click_value", $"trailing_1h_n")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val pitFeaturesSql: String =
    """SELECT event_id, user_id, ts, last_click_value, trailing_1h_n FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    LAST_VALUE(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_value,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
      |                   RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS trailing_1h_n
      |  FROM events) t
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** q134: linear multi-touch attribution with penny-exact allocation —
    * each purchase's value (in integer cents) is split across the user's
    * view/click touches in the trailing 7 days by largest-remainder:
    * every touch gets ⌊cents/n⌋ and the first `cents mod n` touches in
    * (ts, event_id) order get one extra cent. Allocation is all-integer
    * (sums exactly to the purchase, no float drift), which is what makes
    * a revenue-attribution report reconcile against the ledger — and
    * makes the per-(channel, day) totals hash-stable cross-engine.
    *
    * Scale: the touches join shuffles both sides on user_id once; both
    * per-purchase windows declare (user_id, p_id) partitioning, which
    * HashPartitioning(user_id) already satisfies (p_id groups are
    * user-local), so no second exchange. Negative/null purchase values
    * are excluded up front — integer DIV/mod semantics diverge between
    * engines below zero.
    */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = events(spark, dir).withColumn("us", expr("unix_micros(ts)"))
    val p = e.filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"event_id".as("p_id"), $"user_id", $"us".as("p_us"),
        to_date($"ts").as("day"), round($"value" * 100).cast("long").as("cents"))
      .filter($"cents" >= 0)
    val t = e.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("t_id"), $"event_type".as("channel"),
        $"us".as("t_us"))
    val weekUs = 7L * 24 * 3600 * 1000000
    val j = p.join(t, Seq("user_id"))
      .filter($"t_us" < $"p_us" && $"t_us" >= $"p_us" - weekUs)
    val wP = Window.partitionBy($"user_id", $"p_id")
    val r = j
      .withColumn("n", count(lit(1)).over(wP))
      .withColumn("rk", row_number().over(wP.orderBy($"t_us", $"t_id")))
      .withColumn("attr_cents",
        expr("cents DIV n") + when($"rk" <= pmod($"cents", $"n"), 1L).otherwise(0L))
    r.groupBy($"channel", $"day")
      .agg(count(lit(1)).as("n_touches"), sum($"attr_cents").as("sum_cents"))
      .select($"channel", $"day", $"n_touches",
        ($"sum_cents".cast("double") / 100.0).as("attributed_dollars"))
      .orderBy($"channel", $"day")
  }

  val linearAttributionSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, ts, event_type, value, epoch_us(ts) AS us
      |  FROM events),
      |p AS (
      |  SELECT event_id AS p_id, user_id, us AS p_us, CAST(ts AS DATE) AS day,
      |         CAST(ROUND(value*100, 0) AS BIGINT) AS cents
      |  FROM e
      |  WHERE event_type = 'purchase' AND value IS NOT NULL
      |    AND ROUND(value*100, 0) >= 0),
      |t AS (
      |  SELECT user_id, event_id AS t_id, event_type AS channel, us AS t_us
      |  FROM e WHERE event_type IN ('view','click')),
      |j AS (
      |  SELECT p.p_id, p.day, p.cents, t.t_id, t.channel, t.t_us
      |  FROM p JOIN t ON p.user_id = t.user_id
      |  WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000),
      |r AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY p_id) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us, t_id) AS rk
      |  FROM j)
      |SELECT channel, day, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(cents // n + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END) AS DOUBLE)
      |    / 100.0 AS attributed_dollars
      |FROM r GROUP BY channel, day
      |ORDER BY channel, day""".stripMargin

  /** q137: two-proportion A/B test per user segment — deterministic
    * variant assignment (user_id parity), segments from the next id bits,
    * conversion = heavy buyer (≥ 14 purchase events, the corpus median),
    * and the pooled two-proportion z statistic per segment. Every input
    * to the statistic is an exact integer count; the z/rate columns are
    * single fixed-shape IEEE expression trees over those counts, so the
    * doubles compare bit-exact cross-engine. Degenerate segments (no
    * conversions, all conversions, or a missing variant) are excluded —
    * their z is undefined and double-division-by-zero semantics diverge
    * between engines. (First-seen-day cohorts are degenerate on this
    * corpus: every user purchases, so the day × any-purchase cut filters
    * to zero rows — the segment × median-threshold design keeps the
    * statistic observable.)
    *
    * Scale: two hash aggregates (per-user fold, then per-segment stats);
    * post-aggregation rows = segments.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = events(spark, dir).groupBy($"user_id").agg(
      sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("npurch"))
    val g = users
      .withColumn("conv", when($"npurch" >= 14, 1L).otherwise(0L))
      .withColumn("variant", $"user_id" % 2)
      .withColumn("seg", expr("user_id DIV 2") % 10)
      .groupBy($"seg").agg(
        sum(when($"variant" === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"variant" === 0, $"conv").otherwise(0L)).as("c_a"),
        sum(when($"variant" === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when($"variant" === 1, $"conv").otherwise(0L)).as("c_b"))
      .filter($"n_a" > 0 && $"n_b" > 0 &&
        ($"c_a" + $"c_b") > 0 && ($"c_a" + $"c_b") < ($"n_a" + $"n_b"))
    val pa = $"c_a".cast("double") / $"n_a".cast("double")
    val pb = $"c_b".cast("double") / $"n_b".cast("double")
    g.withColumn("pool", ($"c_a" + $"c_b").cast("double") / ($"n_a" + $"n_b").cast("double"))
      .select($"seg", $"n_a", $"c_a", $"n_b", $"c_b",
        (pa - pb).as("rate_diff"),
        ((pa - pb) / sqrt($"pool" * (lit(1.0) - $"pool") *
          (lit(1.0) / $"n_a".cast("double") + lit(1.0) / $"n_b".cast("double")))).as("z"))
      .orderBy($"seg")
  }

  val abTestSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS npurch
      |  FROM events GROUP BY user_id),
      |v AS (
      |  SELECT user_id, (user_id // 2) % 10 AS seg,
      |         CASE WHEN npurch >= 14 THEN 1 ELSE 0 END AS conv
      |  FROM u),
      |g AS (
      |  SELECT seg,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      |  FROM v GROUP BY seg),
      |f AS (
      |  SELECT *, CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pool
      |  FROM g
      |  WHERE n_a > 0 AND n_b > 0 AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b)
      |SELECT seg, n_a, c_a, n_b, c_b,
      |  CAST(c_a AS DOUBLE)/CAST(n_a AS DOUBLE) - CAST(c_b AS DOUBLE)/CAST(n_b AS DOUBLE)
      |    AS rate_diff,
      |  (CAST(c_a AS DOUBLE)/CAST(n_a AS DOUBLE) - CAST(c_b AS DOUBLE)/CAST(n_b AS DOUBLE))
      |    / sqrt(pool * (1.0 - pool)
      |           * (1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))) AS z
      |FROM f ORDER BY seg""".stripMargin

  /** q209: exponential time-decay weighting — the recency score a
    * training-data mixture uses to over-sample fresh sources (and a
    * monitoring system uses for decayed revenue): each event's value is
    * weighted by exp(−age/30d) relative to the corpus's newest day.
    * Scale/determinism design in one move: group to (event_type,
    * age_days) FIRST — one map-side-combinable agg over integer ages, a
    * few hundred buckets regardless of corpus size — then apply the
    * transcendental weight to the per-bucket EXACT decimal sums and
    * re-quantize each term to DECIMAL(38,4). Per-row exp() products
    * would hit the double→decimal cast divergence documented at q140
    * (Spark casts the shortest repr, DuckDB the binary expansion — 2dp
    * values × rational weights sit exactly on boundaries); per-bucket
    * terms carry an irrational factor for every age>0 and a 4dp-rounded
    * 2dp-sum for age=0, both measure-zero from any rounding boundary.
    * Final render routes through DECIMAL(18,2) (q140's int128 note).
    */
  def decayedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).filter($"value".isNotNull)
    val mx = ev.agg(max(to_date($"ts")).as("mxd"))
    val byAge = ev.crossJoin(broadcast(mx))
      .withColumn("age", datediff($"mxd", to_date($"ts")))
      .groupBy($"event_type", $"age")
      .agg(sum($"value".cast("decimal(18,6)")).as("sv"), count(lit(1)).as("n"))
    byAge
      .withColumn("term",
        round($"sv".cast("double") * exp(-$"age".cast("double") / lit(30.0)), 4)
          .cast("decimal(38,4)"))
      .groupBy($"event_type")
      .agg(sum($"n").as("n_events"),
        round(sum($"sv"), 2).cast("decimal(18,2)").cast("double").as("raw_total"),
        round(sum($"term"), 2).cast("decimal(18,2)").cast("double").as("decayed_total"))
      .orderBy($"event_type")
  }

  val decayedRevenueSql: String =
    """WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS mxd FROM events),
      |b AS (
      |  SELECT event_type, DATEDIFF('day', CAST(ts AS DATE), mxd) AS age,
      |         SUM(CAST(value AS DECIMAL(18,6))) AS sv, COUNT(*) AS n
      |  FROM events, mx WHERE value IS NOT NULL GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, n, sv,
      |    CAST(ROUND(CAST(sv AS DOUBLE) * EXP(-CAST(age AS DOUBLE) / 30.0), 4)
      |         AS DECIMAL(38,4)) AS term
      |  FROM b)
      |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(CAST(ROUND(SUM(sv), 2) AS DECIMAL(18,2)) AS DOUBLE) AS raw_total,
      |  CAST(CAST(ROUND(SUM(term), 2) AS DECIMAL(18,2)) AS DOUBLE) AS decayed_total
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q140: time-weighted average (TWAP) per user — each observation is
    * weighted by how long it was the latest value (lead-ts delta in
    * millis), the metric finance/monitoring systems use where plain AVG
    * over-weights bursts. Determinism via the MoneyDec discipline:
    * value×dt happens row-level in IEEE double (bit-identical both
    * engines), sums are exact decimals, and the final twap is one
    * division; the decimal→double render routes through DECIMAL(18,2)
    * (the 38-digit int128 path differs in the last ulp cross-engine).
    * The last observation per user has no interval and is excluded —
    * TWAP is defined over the observed span.
    */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
    events(spark, dir)
      .filter($"value".isNotNull)
      // millisecond resolution: micro-resolution weights push the
      // 2-decimal numerator's unscaled integer past 2^53, where DuckDB's
      // decimal→double render (unscaled/100.0) double-rounds and drifts
      // an ulp from the correctly-rounded value
      .withColumn("ms", expr("unix_micros(ts) DIV 1000"))
      .withColumn("dt", lead($"ms", 1).over(w) - $"ms")
      .filter($"dt".isNotNull)
      // value→decimal FIRST, then an exact decimal×integer product:
      // casting the value*dt DOUBLE product to decimal is engine-divergent
      // in the 6th decimal (Spark rounds the shortest string repr, DuckDB
      // the binary expansion), and 1e-6 row noise flips cents after
      // round(2). DECIMAL(18,6) × DECIMAL(18,0) stays within precision 37
      // — exact in both engines.
      .withColumn("vdt", $"value".cast("decimal(18,6)") * $"dt".cast("decimal(18,0)"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"dt").as("total_dt_ms"),
        round(sum($"vdt"), 2).cast("decimal(18,2)").as("num"))
      .select($"user_id", $"n_intervals", $"total_dt_ms",
        ($"num".cast("double") / $"total_dt_ms".cast("double")).as("twap"))
      .orderBy($"user_id")
  }

  val twapSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) // 1000 AS ms
      |  FROM events WHERE value IS NOT NULL),
      |d AS (
      |  SELECT user_id, value,
      |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS dt
      |  FROM e),
      |f AS (SELECT * FROM d WHERE dt IS NOT NULL),
      |g AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |    CAST(SUM(dt) AS BIGINT) AS total_dt_ms,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(24,6)) * CAST(dt AS DECIMAL(14,0))), 2)
      |         AS DECIMAL(18,2)) AS num
      |  FROM f GROUP BY user_id)
      |SELECT user_id, n_intervals, total_dt_ms,
      |  CAST(num AS DOUBLE) / CAST(total_dt_ms AS DOUBLE) AS twap
      |FROM g ORDER BY user_id""".stripMargin

  /** q144: distribution-drift report — the value histogram of each event
    * type compared between the first and second half of the observed time
    * range (the monitoring primitive behind PSI/KS drift alarms, reduced
    * to its oracle-able core). Counts are exact integers; the per-bucket
    * drift contribution |n_a/tot_a − n_b/tot_b| is a fixed-shape double
    * tree emitted PER BUCKET — summing float contributions in an
    * aggregate would be order-dependent, so the total-variation roll-up
    * is the reader's one addition, not the engine's.
    *
    * Scale: one 2-value broadcast for the time midpoint, one
    * (event_type, bucket) hash aggregate, per-type totals re-broadcast.
    */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = events(spark, dir).filter($"value".isNotNull)
      .withColumn("us", expr("unix_micros(ts)"))
    val bounds = e.agg(min($"us").as("lo"), max($"us").as("hi"))
    val g = e.crossJoin(broadcast(bounds))
      .withColumn("half", when($"us" * 2 <= $"lo" + $"hi", "a").otherwise("b"))
      .withColumn("bucket", floor($"value" / 10.0).cast("long"))
      .groupBy($"event_type", $"bucket")
      .agg(sum(when($"half" === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when($"half" === "b", 1L).otherwise(0L)).as("n_b"))
    val totals = g.groupBy($"event_type")
      .agg(sum($"n_a").as("tot_a"), sum($"n_b").as("tot_b"))
    g.join(broadcast(totals), "event_type")
      .select($"event_type", $"bucket", $"n_a", $"n_b",
        abs($"n_a".cast("double") / $"tot_a".cast("double")
          - $"n_b".cast("double") / $"tot_b".cast("double")).as("drift_contrib"))
      .orderBy($"event_type", $"bucket")
  }

  val driftReportSql: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch_us(ts) AS us
      |  FROM events WHERE value IS NOT NULL),
      |bounds AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM e),
      |g AS (
      |  SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
      |    CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM e CROSS JOIN bounds
      |  GROUP BY event_type, bucket),
      |tot AS (
      |  SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS tot_a,
      |         CAST(SUM(n_b) AS BIGINT) AS tot_b
      |  FROM g GROUP BY event_type)
      |SELECT g.event_type AS event_type, g.bucket, g.n_a, g.n_b,
      |  ABS(CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
      |      - CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)) AS drift_contrib
      |FROM g JOIN tot ON g.event_type = tot.event_type
      |ORDER BY event_type, bucket""".stripMargin

  /** q153: seasonal-naive forecast residuals — per-type daily event
    * counts scored against the same-weekday-last-week baseline
    * (forecast(d) = count(d−7), the standard zero-parameter seasonal
    * model and the monitoring rule "is today unusual vs last Tuesday?").
    * Residuals are robust-scored per type with the q117 machinery:
    * lower-median + MAD via rank selection — all integers (counts,
    * residuals, medians), zero interpolation arithmetic, so every column
    * including the anomaly flag is bit-stable cross-engine. The forecast
    * joins on the CALENDAR date (d−7), not row position — a missing day
    * misaligns a lag() but not a date join.
    *
    * Scale: one (type, day) count aggregate; everything after runs on the
    * types × days frame (four orders smaller than the event stream), and
    * the per-type windows are keyed, never global.
    */
  def forecastResiduals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val resid = daily.join(
        daily.select($"event_type", date_add($"day", 7).as("day"), $"n".as("forecast")),
        Seq("event_type", "day"))
      .withColumn("resid", $"n" - $"forecast")
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy($"event_type").orderBy(col(valueCol), $"day")
      val wAll = Window.partitionBy($"event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter($"rn" === expr("(cnt + 1) DIV 2"))
        .select($"event_type", col(valueCol).as(outCol))
    }
    val med = lowerMedian(resid, "resid", "med")
    val dev = resid.join(broadcast(med), Seq("event_type"))
      .withColumn("abs_dev", abs($"resid" - $"med"))
    val mad = lowerMedian(dev, "abs_dev", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .select($"event_type", $"day", $"n", $"forecast", $"resid", $"med", $"mad",
        ($"abs_dev" > lit(3) * $"mad").as("is_anomaly"))
      .orderBy($"event_type", $"day")
  }

  val forecastResidualsSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |res AS (
      |  SELECT a.event_type, a.day, a.n, b.n AS forecast, a.n - b.n AS resid
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.day = a.day - 7),
      |r1 AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY resid, day) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS cnt FROM res),
      |med AS (SELECT event_type, resid AS med FROM r1 WHERE rn = (cnt + 1) // 2),
      |dev AS (
      |  SELECT res.*, med.med, abs(res.resid - med.med) AS abs_dev
      |  FROM res JOIN med USING (event_type)),
      |r2 AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY abs_dev, day) AS rn2,
      |         count(*) OVER (PARTITION BY event_type) AS cnt2 FROM dev),
      |mad AS (SELECT event_type, abs_dev AS mad FROM r2 WHERE rn2 = (cnt2 + 1) // 2)
      |SELECT d.event_type, d.day, d.n, d.forecast, d.resid, d.med, m.mad,
      |       d.abs_dev > 3 * m.mad AS is_anomaly
      |FROM dev d JOIN mad m USING (event_type)
      |ORDER BY d.event_type, d.day""".stripMargin

  /** q157: ENGINE-NATIVE session windows — `session_window(ts, gap)` in a
    * batch aggregation, the built-in operator twin of q38/q39's
    * gaps-and-islands sessionization (and of q93's stateful streaming
    * sessionizer; the same construct runs under a watermark in streaming,
    * where it merges session state across micro-batches). Semantics
    * pinned by the oracle: a session is [first_ts, last_ts + gap), and an
    * event at exactly gap distance starts a NEW session (the `>= gap`
    * boundary — note q38's lag-based islands use `> gap`; the off-by-an-
    * instant difference between the two conventions is exactly the kind
    * of thing the oracle exists to pin). One (user_id, session) hash
    * aggregate — Spark plans UpdatingSessionsExec over a single user_id
    * exchange; nothing is global.
    */
  def nativeSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"), $"w.end".as("session_end"),
        $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  val nativeSessionWindowSql: String =
    """WITH t1 AS (
      |  SELECT user_id, ts, event_id,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |t2 AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM t1),
      |t3 AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM t2)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM t3
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** q161: resample + LINEAR interpolation — the interpolating twin of
    * q119's zero-fill: every user's daily value series is densified over
    * their own [first, last] span and missing days take the straight line
    * between the surrounding observed days,
    * v(d) = vp + (vn − vp) · (d−p)/(n−p). Inputs are exact (decimal-sum
    * → round(2) daily totals, integer day distances), and the interp is
    * ONE fixed IEEE expression tree mirrored verbatim in the oracle —
    * cross-engine-stable without transcendentals. Edges can't dangle:
    * spans start/end on observed days by construction. Scale: one
    * (user, day) aggregate; the calendar frame is span-bounded (linear
    * in users, never events); prev/next lookups are two frames over ONE
    * user_id sort — no self-join.
    */
  def interpolateDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(round(sum($"value".cast(MoneyDec)), 2).cast("double").as("v"))
    val cal = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    val joined = cal.join(daily, Seq("user_id", "day"), "left")
      .withColumn("obs_day", when($"v".isNotNull, $"day"))
    val wPrev = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    joined
      .withColumn("pd", last($"obs_day", ignoreNulls = true).over(wPrev))
      .withColumn("pv", last($"v", ignoreNulls = true).over(wPrev))
      .withColumn("nd", first($"obs_day", ignoreNulls = true).over(wNext))
      .withColumn("nv", first($"v", ignoreNulls = true).over(wNext))
      .select($"user_id", $"day", $"v".isNotNull.as("observed"),
        when($"v".isNotNull, $"v").otherwise(
          $"pv" + ($"nv" - $"pv") *
            (datediff($"day", $"pd").cast("double") / datediff($"nd", $"pd").cast("double")))
          .as("value_interp"))
      .orderBy($"user_id", $"day")
  }

  val interpolateDailySql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
      |cal AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span),
      |j AS (
      |  SELECT cal.user_id, cal.day, daily.v,
      |    CASE WHEN daily.v IS NOT NULL THEN cal.day END AS obs_day
      |  FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day),
      |f AS (
      |  SELECT *,
      |    last_value(obs_day IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    first_value(obs_day IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      |  FROM j)
      |SELECT user_id, day, v IS NOT NULL AS observed,
      |  CASE WHEN v IS NOT NULL THEN v
      |       ELSE pv + (nv - pv) *
      |            (CAST(date_diff('day', pd, day) AS DOUBLE) / CAST(date_diff('day', pd, nd) AS DOUBLE))
      |  END AS value_interp
      |FROM f
      |ORDER BY user_id, day""".stripMargin

  // q165 fixture: the q93 ts-ranged mtime-ordered replay plus THREE global
  // far-future sentinel files (one row each, user_id = -1): the watermark
  // a batch computes applies from the NEXT batch, so sentinel-1 raises it
  // past every real session end, sentinel-2's batch evicts-and-emits the
  // finalized sessions, sentinel-3 absorbs the extra batch of lag the
  // engine shows between watermark and state eviction (q145's ritual).
  // Sentinel sessions are dropped by id sign on read-back.
  private val streamSessWinStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamSessWinFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamSessWinStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "sesswinfix_" + java.lang.Integer.toHexString(dir.hashCode))
      val ev = events(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
          lit("{}").as("props"))
      val stage = fix.resolve("stage")
      ev.repartitionByRange(4, $"ts", $"event_id")
        .write.mode("overwrite").parquet(stage.toString)
      val flushTs = ev.agg(max($"ts")).head().getTimestamp(0)
      (1 to 3).foreach { i =>
        val s = Seq((-i.toLong,
          new java.sql.Timestamp(flushTs.getTime + (3 + i) * 3600L * 1000),
          -1L, "flush", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        s.coalesce(1).write.mode("overwrite").parquet(stage.resolve(s"flush$i").toString)
      }
      val src = fix.resolve("src")
      java.nio.file.Files.createDirectories(src)
      val dataFiles = new java.io.File(stage.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      var t = System.currentTimeMillis() - 1000L * (dataFiles.length + 5)
      dataFiles.zipWithIndex.foreach { case (f, i) =>
        val dst = new java.io.File(src.toFile, f.getName)
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        dst.setLastModified(t + i * 1000L)
      }
      (1 to 3).foreach { i =>
        val fl = new java.io.File(stage.resolve(s"flush$i").toString).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        val dst = new java.io.File(src.toFile, s"zz-flush$i.parquet")
        java.nio.file.Files.copy(fl.toPath, dst.toPath)
        dst.setLastModified(t + (dataFiles.length + i) * 1000L)
      }
      fix
    })

  /** q165: ENGINE-NATIVE session windows on the REAL streaming path —
    * `session_window` + watermark in append mode, replayed through
    * several micro-batches (`maxFilesPerTrigger=1` over ts-ranged
    * mtime-ordered files), so sessions that SPAN batch boundaries must
    * merge in the session store (UpdatingSessions state) before the
    * advancing watermark finalizes and emits them. The batch twin is
    * q157; the oracle is the same ≥-gap islands SQL extended with the
    * per-session value total — any failure of cross-batch session merge,
    * premature emission, or watermark mishandling changes rows and
    * hash-mismatches. Sentinel mechanics documented at the fixture.
    */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) {
    import spark.implicits._
    val fix = streamSessWinFixtures(spark, dir)
    val run = streamUpsertRoot.resolve("runSessWin")
    deleteRecursive(run)
    val schema = events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        lit("{}").as("props")).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
    val sessions = graft.streaming.EventStream.sessionWindowCounts(
      stream, gap = "30 minutes", watermark = "1 minute")
    val out = run.resolve("out")
    val query = sessions.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(out.toString)
      .filter($"user_id" >= 0) // drop sentinel sessions (see fixture note)
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  } }

  val streamSessionWindowSql: String =
    """WITH t1 AS (
      |  SELECT user_id, ts, event_id, value,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |t2 AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN prev_ts IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM t1),
      |t3 AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM t2)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
      |FROM t3
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** q167: inter-arrival burstiness per user — the bot/organic traffic
    * signal: σ and μ of a user's gap distribution combine into
    * B = (σ−μ)/(σ+μ) (Goh & Barabási 2008): ~−1 for metronome-regular
    * automation, → 0 for Poisson arrivals, > 0 for bursty humans. Gaps
    * are INTEGER seconds (epoch-micros diff div 10⁶), so n, Σg, Σg² are
    * exact longs (one user_id window pass + one aggregate) and σ/μ/B are
    * fixed IEEE trees over them — bit-stable cross-engine. Users need
    * ≥ 3 events (≥ 2 gaps) for a defined σ.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gaps = events(spark, dir)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .filter($"prev_ts".isNotNull)
      .select($"user_id",
        expr("(unix_micros(ts) - unix_micros(prev_ts)) DIV 1000000").as("g"))
    gaps.groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"), sum($"g").as("sg"), sum($"g" * $"g").as("sgg"))
      .filter($"n_gaps" >= 2)
      .select($"user_id", $"n_gaps", $"sg", $"sgg",
        (expr("CAST(sg AS DOUBLE)") / expr("CAST(n_gaps AS DOUBLE)")).as("mean_s"),
        ((sqrt(expr("CAST(n_gaps * sgg - sg * sg AS DOUBLE)")) / expr("CAST(n_gaps AS DOUBLE)")) -
          (expr("CAST(sg AS DOUBLE)") / expr("CAST(n_gaps AS DOUBLE)"))).as("sigma_minus_mu"))
      .withColumn("burstiness",
        $"sigma_minus_mu" /
          ((sqrt(expr("CAST(n_gaps * sgg - sg * sg AS DOUBLE)")) / expr("CAST(n_gaps AS DOUBLE)")) +
            (expr("CAST(sg AS DOUBLE)") / expr("CAST(n_gaps AS DOUBLE)"))))
      .select($"user_id", $"n_gaps", $"sg", $"sgg", $"mean_s", $"burstiness")
      .orderBy($"user_id")
  }

  val burstinessSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS g
      |  FROM events),
      |s AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(g) AS BIGINT) AS sg, CAST(SUM(g*g) AS BIGINT) AS sgg
      |  FROM g WHERE g IS NOT NULL GROUP BY user_id HAVING COUNT(*) >= 2)
      |SELECT user_id, n_gaps, sg, sgg,
      |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_s,
      |  (sqrt(CAST(n_gaps*sgg - sg*sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE)
      |   - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |  / (sqrt(CAST(n_gaps*sgg - sg*sg AS DOUBLE)) / CAST(n_gaps AS DOUBLE)
      |     + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS burstiness
      |FROM s
      |ORDER BY user_id""".stripMargin

  /** q200: CUSUM change-point detection over the daily event series — the
    * drift monitor a pipeline runs on its own intake volume. The classic
    * recursion S_t = max(0, S_{t-1} + x_t − k) is not window-expressible,
    * but its closed form is: S_t = C_t − min_{i≤t} C_i with
    * C_t = Σ(x_i − k) — one cumulative sum and one running min. Everything
    * is integer (counts scaled ×1000 against the integer daily-mean
    * reference k_milli, alarm at h = 2·k_milli ≈ two average days of
    * accumulated drift), so both engines agree exactly. The ordered
    * windows run over the DAILY series — calendar-bounded (≤36.5k rows per
    * century), the same bounded-index argument as invoice numbering; the
    * day aggregate itself is the only corpus-sized exchange.
    */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val k = daily.agg(expr("CAST(sum(n) * 1000 DIV count(*) AS LONG)").as("k_milli"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(k))
      .withColumn("c_milli", sum($"n" * 1000L - $"k_milli").over(w))
      .withColumn("s_milli", $"c_milli" - min($"c_milli").over(w))
      .select($"day", $"n", $"k_milli", $"s_milli",
        ($"s_milli" >= $"k_milli" * 2L).as("alarm"))
      .orderBy($"day")
  }

  val cusumSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |k AS (SELECT CAST(SUM(n) * 1000 // COUNT(*) AS BIGINT) AS k_milli FROM daily),
      |c AS (
      |  SELECT day, n, k_milli,
      |    SUM(n * 1000 - k_milli) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_milli
      |  FROM daily, k)
      |SELECT day, n, k_milli,
      |  CAST(c_milli - MIN(c_milli) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_milli,
      |  c_milli - MIN(c_milli) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >= k_milli * 2 AS alarm
      |FROM c
      |ORDER BY day""".stripMargin

  // q204 fixture: the q93 event files but with ONE global sentinel row
  // (user −1, max ts + 4 h) instead of per-user flush rows — closing every
  // user's final session is the TIMERS' job, not a synthetic event's.
  private val streamTimerSessStaged =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def streamTimerSessFixtures(spark: SparkSession, dir: String): java.nio.file.Path =
    streamTimerSessStaged.getOrElseUpdate(dir, {
      import spark.implicits._
      val fix = streamUpsertRoot.resolve(
        "timersessfix_" + java.lang.Integer.toHexString(dir.hashCode))
      val ev = events(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
          lit("{}").as("props"))
      val stage = fix.resolve("stage")
      ev.repartitionByRange(4, $"ts", $"event_id")
        .write.mode("overwrite").parquet(stage.toString)
      val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 4L * 3600 * 1000),
          -1L, "sentinel", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.resolve("flush").toString)
      val src = fix.resolve("src")
      java.nio.file.Files.createDirectories(src)
      import scala.jdk.CollectionConverters._
      val ranged = java.nio.file.Files.list(stage).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val flushPart = java.nio.file.Files.list(stage.resolve("flush")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      val base = System.currentTimeMillis() - 1000000L
      (ranged ++ flushPart).zipWithIndex.foreach { case (f, i) =>
        val dst = src.resolve(f.getFileName)
        java.nio.file.Files.copy(f, dst)
        dst.toFile.setLastModified(base + i * 10000L)
      }
      fix
    })

  /** q204: gap-sessionization closed by EVENT-TIME TIMERS on
    * transformWithState — the q93 contract re-proven on the v2 API's
    * timer surface. Mid-stream sessions emit eagerly when a later event
    * proves the gap; every user's FINAL session emits from
    * [[graft.streaming.EventStream.SessionTimerProcessor.handleExpiredTimer]]
    * when ONE global sentinel pushes the watermark past lastTs + gap (the
    * per-key flush rows q93 needs are gone — that is the point of
    * timers). Same oracle as q93, shared verbatim: a session split across
    * batches, a timer that fires early (session split), late (session
    * never emitted before termination), or survives its delete
    * (double-emit) all hash-mismatch.
    */
  def streamTimerSessions(spark: SparkSession, dir: String): DataFrame =
    streamUpsertRoot.synchronized { withStreamShuffle(spark, 8) { withRocksDbStateStore(spark) {
      import spark.implicits._
      val fix = streamTimerSessFixtures(spark, dir)
      val run = streamUpsertRoot.resolve("runTimerSess")
      deleteRecursive(run)
      val schema = events(spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
          lit("{}").as("props")).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(fix.resolve("src").toString)
      val sessions = graft.streaming.EventStream.sessionizeWithTimers(
        stream.as[graft.streaming.EventStream.Event], gapMs = 1800L * 1000)
      val out = run.resolve("out")
      val query = sessions.toDF().writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", run.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      spark.read.parquet(out.toString)
        .filter($"user_id" >= 0)
        .select($"user_id", $"first_ms", $"last_ms", $"n_events")
        .orderBy($"user_id", $"first_ms")
    } } }

  /** q202: Theil–Sen robust slope — the median of pairwise slopes of each
    * user's daily event counts, the outlier-immune trend estimator (one
    * anomalous day corrupts OLS (q133); it moves the pairwise-slope
    * median by at most one rank). Pairs form per user over the
    * calendar-bounded daily series (≤ d(d−1)/2 with d = days observed —
    * bounded by the window, not the corpus), so the self-join is
    * key-local and the corpus-sized work is only the (user, day)
    * aggregate. Slopes are floor((Δy·1000)/Δx) — double divide then
    * floor, bit-identical cross-engine; the median is the deterministic
    * lower median by rank.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .select($"user_id",
        datediff($"day", to_date(lit("1970-01-01"))).cast("long").as("x"), $"y")
    val a = daily.select($"user_id", $"x".as("ax"), $"y".as("ay"))
    val b = daily.select($"user_id", $"x".as("bx"), $"y".as("by"))
    val slopes = a.join(b, Seq("user_id")).filter($"bx" > $"ax")
      .select($"user_id", $"ax", $"bx",
        floor(($"by" - $"ay").cast("double") * 1000.0 / ($"bx" - $"ax").cast("double"))
          .cast("long").as("slope_milli"))
    val w = Window.partitionBy($"user_id").orderBy($"slope_milli", $"ax", $"bx")
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy($"user_id")))
      .filter($"rn" === expr("(n_pairs + 1) DIV 2"))
      .select($"user_id", $"n_pairs", $"slope_milli".as("med_slope_milli"))
      .orderBy($"user_id")
  }

  val theilSenSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT user_id, CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y FROM daily),
      |s AS (
      |  SELECT a.user_id, a.x AS ax, b.x AS bx,
      |    CAST(FLOOR(CAST(b.y - a.y AS DOUBLE) * 1000.0
      |      / CAST(b.x - a.x AS DOUBLE)) AS BIGINT) AS slope_milli
      |  FROM d a JOIN d b ON a.user_id = b.user_id AND b.x > a.x),
      |r AS (
      |  SELECT user_id, slope_milli,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY slope_milli, ax, bx) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_pairs
      |  FROM s)
      |SELECT user_id, n_pairs, slope_milli AS med_slope_milli
      |FROM r WHERE rn = (n_pairs + 1) // 2
      |ORDER BY user_id""".stripMargin

  /** q192: sequence-pattern matching over per-user event histories — the
    * MATCH_RECOGNIZE workload expressed with the tools Spark has: each
    * user's events collapse (ordered by ts, event_id) into a one-char-per-
    * event string, and regexes count behavioural motifs — `vc*p`
    * (view → any clicks → purchase, the conversion path) and `e{2,}`
    * (consecutive-error bursts, the instability signal). One user_id
    * hash aggregate; per-user sequences are session-bounded in practice
    * (same cardinality contract as q93's sessionize), so collect_list
    * state stays small while users scale out. The regex runs once per
    * USER, not per event — leftmost non-overlapping greedy semantics are
    * identical in Java regex and RE2, which the oracle leans on.
    */
  def eventPattern(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"user_id",
        struct($"ts", $"event_id", substring($"event_type", 1, 1).as("ch")).as("s"))
      .groupBy($"user_id")
      .agg(array_join(
        transform(sort_array(collect_list($"s")), x => x.getField("ch")), "").as("seq"))
      .select($"user_id",
        length($"seq").cast("long").as("seq_len"),
        regexp_count($"seq", lit("vc*p")).cast("long").as("n_conversions"),
        regexp_count($"seq", lit("e{2,}")).cast("long").as("n_error_bursts"))
      .orderBy($"user_id")
  }

  val eventPatternSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  CAST(length(seq) AS BIGINT) AS seq_len,
      |  CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_conversions,
      |  CAST(len(regexp_extract_all(seq, 'e{2,}')) AS BIGINT) AS n_error_bursts
      |FROM s
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_event_pattern" -> eventPattern,
    "q200_cusum" -> cusum,
    "q202_theil_sen" -> theilSen,
    "q204_stream_timer_sessions" -> streamTimerSessions,
    "q167_burstiness" -> burstiness,
    "q165_stream_session_window" -> streamSessionWindow,
    "q161_interpolate" -> interpolateDaily,
    "q157_native_session_window" -> nativeSessionWindow,
    "q153_forecast_residuals" -> forecastResiduals,
    "q144_drift_report" -> driftReport,
    "q140_twap" -> twap,
    "q209_decay_weights" -> decayedRevenue,
    "q137_ab_test" -> abTest,
    "q134_attribution" -> linearAttribution,
    "q130_pit_features" -> pitFeatures,
    "q128_event_trigrams" -> eventTrigrams,
    "q117_mad_anomaly"   -> madAnomaly,
    "q119_gap_fill"      -> gapFill,
    "q120_session_transitions" -> sessionTransitions,
    "q37_time_buckets"   -> timeBuckets,
    "q38_session_gaps"   -> sessionGaps,
    "q39_session_counts" -> sessionCounts,
    "q54_asof_join"      -> asofPurchase,
    "q55_range_join"     -> rangeJoinWindows,
    "q71_stream_upsert"  -> streamUpsert,
    "q182_stream_cdc_replica" -> streamCdcReplica,
    "q187_stream_cdc_partitioned" -> streamCdcPartitioned,
    "q276_stream_cdc_two_level" -> streamCdcTwoLevel,
    "q227_cdc_exactly_once" -> streamCdcExactlyOnce,
    "q249_stream_cdc_mor" -> streamCdcMorExactlyOnce,
    "q84_stream_interval_join" -> streamIntervalJoin,
    "q145_stream_outer_join" -> streamOuterJoin,
    "q208_stream_full_outer" -> streamFullOuterJoin,
    "q86_range_frame"    -> rangeFrameTrailing,
    "q88_stream_state_agg" -> streamStateAgg,
    "q195_stream_tws" -> streamTransformWithState,
    "q90_stream_dedup"   -> streamDedup,
    "q212_statestore_read" -> stateStoreRead,
    "q213_dedup_bounded" -> streamDedupBounded,
    "q92_stream_windowed_agg" -> streamWindowedAgg,
    "q93_stream_sessionize" -> streamSessionize,
    "q105_interval_merge" -> intervalMerge,
    "q107_stream_static_join" -> streamStaticJoin,
    "q109_funnel" -> funnel,
    "q110_cohort_retention" -> cohortRetention,
  )

  val oracles: Map[String, String] = Map(
    "q192_event_pattern" -> eventPatternSql,
    "q200_cusum" -> cusumSql,
    "q202_theil_sen" -> theilSenSql,
    "q204_stream_timer_sessions" -> streamSessionizeSql,
    "q167_burstiness" -> burstinessSql,
    "q165_stream_session_window" -> streamSessionWindowSql,
    "q161_interpolate" -> interpolateDailySql,
    "q157_native_session_window" -> nativeSessionWindowSql,
    "q153_forecast_residuals" -> forecastResidualsSql,
    "q144_drift_report" -> driftReportSql,
    "q140_twap" -> twapSql,
    "q209_decay_weights" -> decayedRevenueSql,
    "q137_ab_test" -> abTestSql,
    "q134_attribution" -> linearAttributionSql,
    "q130_pit_features" -> pitFeaturesSql,
    "q128_event_trigrams" -> eventTrigramsSql,
    "q117_mad_anomaly"   -> madAnomalySql,
    "q119_gap_fill"      -> gapFillSql,
    "q120_session_transitions" -> sessionTransitionsSql,
    "q37_time_buckets"   -> timeBucketsSql,
    "q38_session_gaps"   -> sessionGapsSql,
    "q39_session_counts" -> sessionCountsSql,
    "q54_asof_join"      -> asofPurchaseSql,
    "q55_range_join"     -> rangeJoinWindowsSql,
    "q71_stream_upsert"  -> streamUpsertSql,
    "q182_stream_cdc_replica" -> streamCdcReplicaSql,
    "q187_stream_cdc_partitioned" -> streamCdcPartitionedSql,
    "q276_stream_cdc_two_level" -> streamCdcTwoLevelSql,
    "q227_cdc_exactly_once" -> streamCdcExactlyOnceSql,
    "q249_stream_cdc_mor" -> streamCdcMorExactlyOnceSql,
    "q84_stream_interval_join" -> streamIntervalJoinSql,
    "q145_stream_outer_join" -> streamOuterJoinSql,
    "q208_stream_full_outer" -> streamFullOuterJoinSql,
    "q86_range_frame"    -> rangeFrameTrailingSql,
    "q88_stream_state_agg" -> streamStateAggSql,
    "q195_stream_tws" -> streamTransformWithStateSql,
    "q90_stream_dedup"   -> streamDedupSql,
    "q212_statestore_read" -> stateStoreReadSql,
    "q213_dedup_bounded" -> streamDedupSql,
    "q92_stream_windowed_agg" -> streamWindowedAggSql,
    "q93_stream_sessionize" -> streamSessionizeSql,
    "q105_interval_merge" -> intervalMergeSql,
    "q107_stream_static_join" -> streamStaticJoinSql,
    "q109_funnel" -> funnelSql,
    "q110_cohort_retention" -> cohortRetentionSql,
  )
}
