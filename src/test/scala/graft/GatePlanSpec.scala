package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, RepartitionOperation, Sort, SubqueryAlias, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** Scale-safety audit over the ENTIRE correctness gate: every query in
  * `SparkEntry.queries` is planned against the sf0.001 tables and its
  * optimized logical plan is swept for the one shape that silently serializes
  * a cluster — an unpartitioned Window evaluated over raw data.
  *
  * An unpartitioned Window is permitted only when its input is provably
  * bounded: walking the unary chain directly beneath it (projections,
  * filters, sorts — nothing that can re-widen the row count) reaches
  *  - an Aggregate — the two-pass recipe's tiny per-partition stats frame
  *    (bounded by the shuffle partition count, not the data), or
  *  - a GlobalLimit — a data-independent row bound (Catalyst pushes a
  *    `filter(row_number <= k)` below its own window as Sort+Limit, so a
  *    top-k rank window legitimately sits above `GlobalLimit k`).
  *
  * The walk deliberately stops at joins/unions/scans: a limit or aggregate
  * somewhere in a *branch* below a join does NOT bound the window's input.
  * Anything unbounded funnels the whole dataset through one task at 100×
  * scale and must be rewritten, not shipped.
  */
class GatePlanSpec extends AnyFunSuite {

  // Only operators that provably cannot re-widen the row count may sit
  // between the window and its bound. A bare `UnaryNode` match would also
  // accept Generate (explode) and Expand — row-WIDENING unary operators —
  // silently weakening the audit, so the narrow set is whitelisted
  // explicitly and anything unrecognized fails closed.
  private def boundedInput(p: LogicalPlan): Boolean = p match {
    case _: Aggregate                => true
    case _: GlobalLimit              => true
    case n @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias |
              _: LocalLimit | _: RepartitionOperation | _: LWindow) =>
      boundedInput(n.children.head)
    case _ => false
  }

  // Every gate query built once against the sf0.001 tables and shared by
  // the three sweeps: several builders run eager spills or streaming gates,
  // and a frame caches its own plans.
  private lazy val gates: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val dir = "/root/testdata/sf0.001"
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
      name -> build(spark, dir)
    }
    assert(built.map(_._1).toSet == SparkEntry.queries.keySet, "gate sweep misses queries")
    built
  }

  test("no gate query plans an unpartitioned window over raw data") {
    val violations = gates.flatMap { case (name, df) =>
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !boundedInput(w.child) => name
      }
    }.distinct
    assert(violations.isEmpty,
      s"unpartitioned data-sized window in gate queries: ${violations.mkString(", ")}")
  }

  test("no gate query plans a non-broadcast cartesian product") {
    // The OTHER plan shape that cannot ship at 100 TB: CartesianProductExec
    // shuffles both sides into an n×m task grid — data-sized × data-sized.
    // Broadcast nested-loop joins (the physical form of every documented
    // "cross join a bounds/oracle frame" site) pass: their small side is
    // bounded by construction, the big side is one scan. Fails closed on
    // the physical plan so a regressed join condition (typo'd key, lost
    // equi-predicate) surfaces as a named violation, not a cluster stall.
    val violations = gates.flatMap { case (name, df) =>
      df.queryExecution.executedPlan.collect {
        case _: org.apache.spark.sql.execution.joins.CartesianProductExec => name
      }
    }.distinct
    assert(violations.isEmpty,
      s"non-broadcast cartesian product in gate queries: ${violations.mkString(", ")}")
  }

  // ---- physical-plan detectors, shared by the batch-gate sweep and the
  // streaming-sink audit ----
  import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec, GlobalLimitExec, LocalLimitExec}
  import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.window.WindowExec

  private def bounded(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec => true // agg output: keyed-cardinality rows
    case _: GlobalLimitExec | _: LocalLimitExec |
         _: TakeOrderedAndProjectExec => true // data-independent bound
    case u: UnionExec => u.children.forall(bounded) // union of bounded legs
    case n @ (_: ProjectExec | _: FilterExec | _: SortExec |
              _: CoalesceExec | _: WindowExec | _: ShuffleExchangeExec) =>
      bounded(n.children.head)
    case other if other.children.length == 1 &&
      other.getClass.getSimpleName.contains("InputAdapter") ||
      other.getClass.getSimpleName.contains("WholeStageCodegen") ||
      other.getClass.getSimpleName.contains("AdaptiveSparkPlan") ||
      other.getClass.getSimpleName.contains("QueryStage") ||
      other.getClass.getSimpleName.contains("ReusedExchange") =>
      bounded(other.children.headOption.getOrElse(return false))
    case _ => false
  }

  private def funnels(plan: SparkPlan): Seq[String] = plan.collect {
    case c: CoalesceExec if c.numPartitions == 1 && !bounded(c.child) => "coalesce1"
    case e: ShuffleExchangeExec
      if e.outputPartitioning.numPartitions == 1 && !bounded(e.child) => "single-exchange"
  }

  /** All three detectors over one frame's plans, tagged with `name`. */
  private def allViolations(name: String, df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val win = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !boundedInput(w.child) =>
        s"$name[window]"
    }
    val exec = df.queryExecution.executedPlan
    val cart = exec.collect {
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        s"$name[cartesian]"
    }
    win ++ cart ++ funnels(exec).map(v => s"$name[$v]")
  }

  test("no gate query funnels unbounded data into one partition") {
    // Third serialization shape: a single-partition funnel — coalesce(1) or
    // an Exchange to SinglePartition — over data-sized input. Legitimate
    // sites sit above something that provably bounds the row count
    // (an aggregation's tiny result, a global limit / top-k); anything else
    // is the whole dataset through one task at 100× scale. Same fail-closed
    // whitelist philosophy as the window audit, on the physical plan.
    // negative control: the audit must flag a raw coalesce(1), or it is
    // vacuously green
    assert(funnels(spark.range(100000).toDF("id").coalesce(1)
      .queryExecution.executedPlan).nonEmpty,
      "audit failed to flag the raw coalesce(1) control plan")
    val violations = gates.flatMap { case (name, df) =>
      funnels(df.queryExecution.executedPlan).map(v => s"$name[$v]")
    }.distinct
    assert(violations.isEmpty,
      s"unbounded single-partition funnel in gate queries: ${violations.mkString(", ")}")
  }

  test("streaming curated-ingest sink tiers pass all three audits on REAL micro-batch plans") {
    // The 157 batch gates are swept above; the sink tiers run inside
    // foreachBatch and would otherwise escape the audit. Two taps close
    // that: Dedup.planAuditHook hands over the exact/near-tier frames
    // ingestStep is ABOUT to execute (the actual per-batch plans, store
    // joins included — batch 2 exercises the cross-store anti-join and the
    // cross-signature LSH join), and curatedGateStages is the literal
    // code path the sink's quality/gopher/LM/bloom chain runs.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // fail-closed control: the detector set must flag an unpartitioned
    // window over raw data before we trust its silence on the sink
    val control = spark.range(100000).toDF("id").withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("id")))
    assert(allViolations("control", control).nonEmpty,
      "detectors failed to flag the raw unpartitioned-window control plan")

    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val ref = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val counts = graft.ext.LanguageModel.ngramCounts(ref, "text", 2).persist()
    val bloom = graft.ext.Decontamination.evalGramBloom(
      Seq("what is the capital of france").toDF("q"), "q", n = 4,
      expectedGrams = 1000L)
    val base = java.nio.file.Files.createTempDirectory("graft-plan-sink").toString
    val mem = MemoryStream[(Long, String)]
    graft.ext.Dedup.planAuditHook = Some((n, df) => violations ++= allViolations(s"sink:$n", df))
    try {
      val q = graft.streaming.GraftStreaming.curatedIngestSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/store/docs", s"$base/ckpt", minQuality = 0.1,
        gopherRules = true, lm = Some((counts, 2, 50.0)),
        decontamBloom = Some((bloom, 4)), nearThreshold = Some(0.5),
        funnelPath = Some(s"$base/funnel"))
      try {
        mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
          (2L, "a clean document about distributed query planning"))
        q.processAllAvailable()
        mem.addData((3L, "the quick brown fox jumps over the lazy dog today"),
          (4L, "another clean document about partitioned execution"))
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      graft.ext.Dedup.planAuditHook = None
      counts.unpersist()
    }
    // the gate chain, via the same function the sink calls
    val batch = Seq((5L, "one more clean document"), (6L, "and a second one"))
      .toDF("doc_id", "text")
    graft.streaming.GraftStreaming.curatedGateStages(batch, "doc_id", "text",
      minQuality = 0.1, gopherRules = true, lm = Some((counts, 2, 50.0)),
      decontamBloom = Some((bloom, 4)), customGate = None)
      .foreach { case (n, df) => violations ++= allViolations(s"gate:$n", df) }
    assert(violations.isEmpty,
      s"scale-killer plan shape in streaming sink tiers: ${violations.distinct.mkString(", ")}")
  }
}
