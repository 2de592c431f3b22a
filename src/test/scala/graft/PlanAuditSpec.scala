package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, size}
import graft.operators.Dedup

/** Full-board nested-loop audit (round-11 verdict #2): PLANS.md dumps
  * a curated subset (human-readable, with commentary), but the BNLJ /
  * CartesianProduct tripwire must bind over EVERY contract query —
  * plan-shape regressions land wherever the planner flips a join
  * strategy, not only in the queries someone chose to dump. This spec
  * walks all of `SparkEntry.queries` (the OutputSchemaSpec sweep
  * pattern), builds each query at sf0.001 and audits every plan the
  * build runs ([[PlanDump.capture]]: an eager operator's checkpoint, a
  * pin's count, a bounded collect) plus the returned frame's plan, and
  * fails on any
  * CartesianProduct or BroadcastNestedLoopJoin outside the shared
  * named allowlist of bounded 1-row/domain crosses
  * ([[PlanDump.bnljAllowed]] — one list, two enforcement points).
  *
  * A nested-loop join is a scale bug by default: its work is
  * |left| × |right| with no key to partition on, so a plan that is
  * merely slow at sf0.001 is quadratic-dead at 100 TB. Queries whose
  * nested loop is legitimate (a broadcast 1-row aggregate crossed into
  * a readout, a deliberately guarded quadratic) are named in the
  * allowlist with the reason the loop is bounded.
  *
  * The same captures also hold the spread rule: no plan evaluates a
  * Scala UDF in a Filter below a `REPARTITION_BY_NUM` exchange, where
  * the UDF runs single-threaded in the scan task and again after the
  * spread. Each query is built once per scale for both checks.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Every node of a physical plan, through adaptive plans, query
    * stages, reused exchanges and cached relations.
    */
  private def nodes(t: TreeNode[_]): Iterator[TreeNode[_]] = {
    val hidden = t match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Nil
    }
    Iterator(t) ++ (t.children.asInstanceOf[Seq[TreeNode[_]]] ++ t.innerChildren ++ hidden)
      .iterator.flatMap(nodes)
  }

  /** True when a plan evaluates a Scala UDF in a Filter below a
    * `REPARTITION_BY_NUM` exchange (a spread): the optimizer pushes a
    * filter on a UDF's output through the projection that computes it
    * and through the exchange, so the UDF then runs on every row inside
    * the scan task, before the spread, and again after it.
    */
  private def udfFilterBelowSpread(plan: SparkPlan): Boolean =
    nodes(plan).exists {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        nodes(e.child).exists {
          case f: FilterExec => f.condition.exists(_.isInstanceOf[ScalaUDF])
          case _ => false
        }
      case _ => false
    }

  /** Per contract query at one scale, from one build of it: whether any
    * captured plan holds a nested loop, and whether any evaluates a UDF
    * filter below a spread.
    */
  private def audit(sfDir: String): Map[String, (Boolean, Boolean)] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val plans = PlanDump.capture(spark)(SparkEntry.queries(name)(spark, sfDir))
        .map(_._2.executedPlan)
      name -> ((plans.exists(p => PlanDump.nestedLoop(p.toString)),
        plans.exists(udfFilterBelowSpread)))
    }.toMap

  private lazy val small = audit(dir)
  private lazy val larger = audit("/root/testdata/sf0.01")

  private def offendersAt(a: Map[String, (Boolean, Boolean)]): Seq[String] =
    a.toSeq.collect { case (name, (true, _)) if !PlanDump.bnljAllowed.contains(name) => name }
      .sorted

  test("no CartesianProduct/BNLJ outside the named allowlist, across ALL contract queries") {
    val offenders = offendersAt(small)
    assert(offenders.isEmpty,
      "nested-loop joins outside PlanDump.bnljAllowed (either re-plan " +
        "as an equi-join or argue the bound into the allowlist):\n  " +
        offenders.mkString("\n  "))
  }

  test("the tripwire holds at sf0.01 too (stats-sensitive join flips)") {
    // round-12 verdict #7: join-strategy choices are statistics- and
    // AQE-sensitive — a BNLJ that appears only once a build side
    // outgrows the broadcast threshold would slip a single tiny-scale
    // sweep. Same sweep, 10x the data. The stale-entry check stays
    // sf0.001-only by design: an allowlisted loop legitimately
    // disappearing at another SF (a side crossing a size threshold)
    // is not staleness.
    val offenders = offendersAt(larger)
    assert(offenders.isEmpty,
      "nested-loop joins outside PlanDump.bnljAllowed at sf0.01:\n  " +
        offenders.mkString("\n  "))
  }

  test("allowlisted queries still carry their nested loop (no stale entries)") {
    // an allowlist entry whose query no longer plans a nested loop is
    // stale documentation — the reason text would justify a node that
    // does not exist, and a future regression would hide behind it
    val stale = PlanDump.bnljAllowed.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries.contains(name) && !small(name)._1
    }
    assert(stale.isEmpty,
      s"allowlist entries whose plans no longer nested-loop: $stale")
    assert(PlanDump.bnljAllowed.keySet.subsetOf(SparkEntry.queries.keySet),
      "allowlist entries that name no contract query")
  }

  test("the tripwire fires on a deliberately planted nested loop") {
    import spark.implicits._
    // an inequality-only join condition cannot be an equi-join, so the
    // planner MUST emit a nested loop — if this plan stops matching,
    // the audit's string probes went blind and every green above is
    // vacuous
    val a = Seq(1L, 2L, 3L).toDF("x")
    val b = Seq(1L, 2L, 3L).toDF("y")
    val planted = a.join(b, org.apache.spark.sql.functions.col("x") <
      org.apache.spark.sql.functions.col("y"))
    assert(PlanDump.nestedLoop(planted.queryExecution.executedPlan.toString),
      "the planted inequality join did not surface as a nested loop — " +
        "audit probes are stale against this Spark version")
  }

  test("no captured plan evaluates a UDF filter below a spread, across ALL contract queries") {
    val offenders = (small.toSeq ++ larger.toSeq).collect { case (name, (_, true)) => name }
      .distinct.sorted
    assert(offenders.isEmpty,
      "plans that evaluate a Scala UDF in a Filter below a REPARTITION_BY_NUM " +
        "exchange (filter on a cheap column test instead of the UDF's output):\n  " +
        offenders.mkString("\n  "))
  }

  test("the spread tripwire fires on a shingle frame filtered on its UDF output") {
    // the empty-set filter reads the UDF's output, so the optimizer
    // pushes it below the round-robin exchange
    val docs = sources.Tables.documents(spark, dir)
    val planted = docs.repartition(4)
      .select(col("doc_id"), Dedup.shingleArray(col("text"), 3).as("sh"))
      .filter(size(col("sh")) >= 1)
    assert(udfFilterBelowSpread(planted.queryExecution.executedPlan),
      "the planted UDF filter below a spread was not found")
    assert(!udfFilterBelowSpread(
      Dedup.docShingles(docs.repartition(4), 3).queryExecution.executedPlan))
  }
}
