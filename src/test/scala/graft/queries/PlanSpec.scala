package graft.queries

import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.{ActionPlans, SparkSuite}

/** Plan-shape regression guards: the physical properties the 100 TB
  * posture depends on must survive refactors — filter/column pushdown to
  * the parquet scan, broadcast dimension joins, map-side partial
  * aggregation, and whole-stage codegen participation.
  */
class PlanSpec extends SparkSuite with ActionPlans {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // let AQE finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("q02: date + status filters push down to the parquet scan") {
    val plan = formatted(Relational.filterDates(spark, sf))
    assert(plan.contains("PushedFilters"), plan.take(400))
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), "date lower bound pushed")
    assert(plan.contains("In(o_orderstatus"), "status IN pushed")
  }

  test("q02: scan schema pruned to the projected columns") {
    val plan = formatted(Relational.filterDates(spark, sf))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("o_orderpriority"), s"unused column not pruned: $read")
  }

  test("q03: dimension joins are broadcast, aggregation is partial+final") {
    val plan = executed(Relational.joinAgg(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("SortMergeJoin"), "no SMJ for broadcastable dims at this SF")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "partial + final hash agg")
  }

  test("q07: scalar kitchen stays inside whole-stage codegen") {
    val plan = executed(Scalar.scalarKitchen(spark, sf))
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      "projection must be codegen'd")
  }

  test("q12: sort+limit plans as TakeOrderedAndProject (no full sort)") {
    val plan = executed(Ranking.sortLimit(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  /** The nodes of the flagship's numbering action: `invoicePipeline`
    * returns a frame over checkpointed rows, so its work is planned there.
    */
  private def flagshipPlan() = {
    val runs = executions(InvoicePipeline.invoicePipeline(spark, sf))
    assert(runs.nonEmpty, "the numbering runs when the pipeline is built")
    runs.flatMap(qe => nodes(qe.executedPlan))
  }

  test("flagship: broadcasts present, no cartesian products") {
    val planned = flagshipPlan()
    assert(planned.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(!planned.exists(_.nodeName.contains("CartesianProduct")), "no unintended cross joins")
    spark.catalog.clearCache()
  }

  test("flagship: no single-partition exchange ever carries the line-level view") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    // static plan (AQE off) so ShuffleExchange nodes are directly visible
    // rather than hidden inside materialized query-stage leaves
    val planned = withoutAqe(flagshipPlan())
    assert(planned.exists {
      case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
      case _ => false
    }, "the pair-index numbering exchange exists")
    // every SinglePartition exchange must sit ABOVE an aggregation (the
    // pair index), i.e. its input subtree contains a grouped aggregate —
    // the dense_rank-over-the-whole-view shape has none
    val overRows = singleExchangesOverRows(planned)
    assert(overRows.isEmpty, "SinglePartition exchange over non-aggregated data:\n" +
      overRows.map(_.child.treeString.take(2000)).mkString("\n"))
    spark.catalog.clearCache()
  }

  test("q63: vocabulary ids come from range partitions, not a single-partition window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the ranking subplan (before the cosmetic final orderBy) must hold
      // no SinglePartition exchange — globalRank's whole point
      val vocab = CorpusOps.vocabulary(spark, sf)
      val ranked = vocab.queryExecution.executedPlan
      val singles = ranked.collectWithSubqueries {
        case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.isEmpty,
        s"global rank must not serialize through one task:\n${singles.map(_.treeString.take(800))}")
      assert(ranked.toString.contains("rangepartitioning"),
        "range repartition expected in the ranking subplan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q43: blocked near-dup join has no nested-loop/cartesian operator") {
    val plan = executed(VectorOps.embeddingNearDup(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the O(n²) scan must not be the executed shape")
    assert(!plan.contains("CartesianProduct"),
      "the O(n²) scan must not be the executed shape")
  }

  test("q43: blocked join shuffles each side exactly once, nothing broadcast") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    // static plan (AQE off) with size-based broadcast DISABLED: the declared
    // fallback shape must be exactly two hash exchanges — the lhs/rhs
    // block-key flatMaps feeding one equi-join. With the threshold at -1 a
    // BroadcastExchange can only come from an explicit broadcast() hint, so
    // this pins both properties the 100 TB posture needs: no hinted
    // broadcast of the unbounded replicated pair space, and no
    // nested-loop/cartesian encoding. (At real scale AQE may still
    // size-gate a broadcast at runtime — that's the intended adaptivity,
    // not a plan property.)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pairs = graft.operators.Similarity.cosineNearDupPairs(
        Tables.embeddings(spark, sf), "vec_id", "embedding", 0.4)
      val plan = pairs.queryExecution.executedPlan
      val shuffles = plan.collectWithSubqueries { case e: ShuffleExchangeLike => e }
      assert(shuffles.size == 2,
        s"expected exactly the lhs/rhs block-key exchanges, got ${shuffles.size}:\n" +
          shuffles.map(_.nodeName).mkString("\n"))
      shuffles.foreach(e => assert(e.outputPartitioning.numPartitions > 1,
        "block-key exchange must fan out, not serialize"))
      val bcasts = plan.collectWithSubqueries { case e: BroadcastExchangeLike => e }
      assert(bcasts.isEmpty, "no hinted broadcast of the pair space")
      assert(!plan.toString.contains("BroadcastNestedLoopJoin") &&
        !plan.toString.contains("CartesianProduct"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("q54: as-of join runs as ONE keyed window, no range join") {
    val plan = executed(EventOps.asofPurchase(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "the per-key range-join encoding must not appear")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      "carry-forward window expected")
  }

  test("q58: custom TopK executes as the partial/final pair") {
    val plan = executed(Ranking.topkCustom(spark, sf))
    assert(plan.contains("GraftTopKPartial") && plan.contains("GraftTopKFinal"),
      plan.take(600))
  }

  test("q197: domain cap runs through the TopK operator, not a rank window") {
    val plan = executed(TextOps.domainCap(spark, sf))
    assert(plan.contains("GraftTopKPartial") && plan.contains("GraftTopKFinal"),
      plan.take(600))
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("row_number"),
      "the cap must not fall back to a rank-then-filter window")
  }

  test("q199: skyline has no single-partition exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = CorpusOps.skyline(spark, sf).queryExecution.executedPlan
      val single = plan.collectWithSubqueries {
        case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
      }
      assert(single.isEmpty,
        s"two-phase running extremum must not collapse to one partition:\n" +
          single.map(_.treeString.take(500)).mkString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
