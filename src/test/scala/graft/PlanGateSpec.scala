package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._

/** Whole-surface physical-plan gates: every declared query is planned
  * once (AQE off, so the plan is the static one a cluster would start
  * from) and each plan is checked for the two corpus-scale hazards
  *  - an unpartitioned window over an unbounded corpus scan, and
  *  - a Cartesian product, or a nested-loop join that broadcasts an
  *    unbounded corpus scan.
  * Planning all 550 keys constructs them, eager pins included, so the
  * suite does it once and both gates read the same plans. */
class PlanGateSpec extends SparkSpec {

  /** Walk DOWN a physical subtree looking for a raw corpus table scan
    * (path under `/testdata/`) not bounded by an aggregate or a limit.
    * Pinned relations (RDD scans, scratch parquet) end the walk: their
    * boundedness is audited at the pin sites. */
  private def unboundedCorpusScan(p: SparkPlan): Option[String] = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec => None
    case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
         _: LocalLimitExec | _: CollectLimitExec => None
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toString).find(_.contains("/testdata/"))
    case r: ReusedExchangeExec => unboundedCorpusScan(r.child)
    case j: BaseJoinExec =>
      import org.apache.spark.sql.catalyst.plans._
      val (l, r) = (unboundedCorpusScan(j.left), unboundedCorpusScan(j.right))
      j.joinType match {
        // inner: a bounded side bounds the output (the shortlist ⋈
        // corpus-lookup enrichment pattern, e.g. rag_pack's window
        // rides bm25's 50-row limit joined to per-doc token counts)
        case Inner => if (l.isEmpty || r.isEmpty) None else l.orElse(r)
        // row-preserving sides must themselves be bounded
        case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin => l
        case RightOuter => r
        case _ => l.orElse(r)
      }
    case other => other.children.view.flatMap(unboundedCorpusScan(_)).headOption
  }

  /** Unpartitioned windows (and window group limits) whose input is an
    * unbounded corpus scan: each globally sorts a corpus-sized
    * relation. */
  private def windowGateOffenses(name: String, plan: SparkPlan): Seq[String] =
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w.child
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.child
    }.flatMap(child => unboundedCorpusScan(child).map(path =>
      s"$name: unpartitioned window over corpus scan $path"))

  /** No CartesianProductExec anywhere; every
    * BroadcastNestedLoopJoinExec's BROADCAST side must be aggregate-
    * or limit-bounded (the 1-row-scalar / enum-bounded contract). */
  private def joinGateOffenses(name: String, plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val carts = plan.collect { case c: CartesianProductExec =>
      s"$name: CartesianProductExec (${c.simpleStringWithNodeId()})"
    }
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec =>
      val build = j.buildSide match {
        case BuildLeft  => j.left
        case BuildRight => j.right
      }
      unboundedCorpusScan(build).map(path =>
        s"$name: BroadcastNestedLoopJoin broadcasts an unbounded corpus scan $path")
    }.flatten
    carts ++ bnlj
  }

  /** (window offenders, join offenders) over every declared key, each
    * key constructed and planned once with AQE off. */
  private lazy val surfaceOffenders: (Seq[String], Seq[String]) = {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val perKey = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan
          catch { case e: Throwable =>
            fail(s"$name failed to plan: ${e.getMessage}")
          }
        (windowGateOffenses(name, plan), joinGateOffenses(name, plan))
      }
      (perKey.flatMap(_._1), perKey.flatMap(_._2))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("every unpartitioned Window sits above a cardinality-bounding operator") {
    val offenders = surfaceOffenders._1
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("join gate: every declared query plans with zero CartesianProduct and only bounded BNLJ broadcasts") {
    val offenders = surfaceOffenders._2
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("join gate flags a planted unbounded cross join (both CartesianProduct and BNLJ shapes)") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val abtWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ev = Tables(spark, sfDir, "events").select("event_id")
      val docs = Tables(spark, sfDir, "documents").select("doc_id")
      // small side broadcastable -> BNLJ over a raw corpus scan
      val bnljPlan = ev.crossJoin(Tables(spark, sfDir, "region"))
        .queryExecution.executedPlan
      // broadcast disabled -> genuine CartesianProductExec
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cartPlan = ev.crossJoin(docs).queryExecution.executedPlan
      assert(joinGateOffenses("planted_bnlj", bnljPlan).nonEmpty)
      assert(joinGateOffenses("planted_cart", cartPlan).exists(_.contains("CartesianProduct")))
      // and the legitimate shape stays clean: broadcast of a 1-row agg
      val scalar = ev.agg(count(lit(1)).as("n"))
      val okPlan = docs.crossJoin(broadcast(scalar)).queryExecution.executedPlan
      assert(joinGateOffenses("scalar_cross", okPlan).isEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abtWas)
    }
  }
}
