package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, size}
import graft.operators.Dedup

/** Full-board nested-loop audit (round-11 verdict #2): PLANS.md dumps
  * a curated subset (human-readable, with commentary), but the BNLJ /
  * CartesianProduct tripwire must bind over EVERY contract query —
  * plan-shape regressions land wherever the planner flips a join
  * strategy, not only in the queries someone chose to dump. This spec
  * walks all of `SparkEntry.queries` (the OutputSchemaSpec sweep
  * pattern), and audits each query's sf0.001 build: every plan the
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
  * spread. Both checks read the shared build of the board at each
  * scale ([[TestSpark.smallSweep]], [[TestSpark.largerSweep]]).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val names = SparkEntry.queries.keys.toSeq.sorted

  private def offendersAt(sweep: ContractSweep): Seq[String] =
    names.filter(name => sweep(name).nestedLoop && !PlanDump.bnljAllowed.contains(name))

  test("no CartesianProduct/BNLJ outside the named allowlist, across ALL contract queries") {
    val offenders = offendersAt(TestSpark.smallSweep)
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
    val offenders = offendersAt(TestSpark.largerSweep)
    assert(offenders.isEmpty,
      "nested-loop joins outside PlanDump.bnljAllowed at sf0.01:\n  " +
        offenders.mkString("\n  "))
  }

  test("allowlisted queries still carry their nested loop (no stale entries)") {
    // an allowlist entry whose query no longer plans a nested loop is
    // stale documentation — the reason text would justify a node that
    // does not exist, and a future regression would hide behind it
    val stale = PlanDump.bnljAllowed.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries.contains(name) && !TestSpark.smallSweep(name).nestedLoop
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
    val offenders = names.filter(name =>
      TestSpark.smallSweep(name).udfFilterBelowSpread ||
        TestSpark.largerSweep(name).udfFilterBelowSpread)
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
    assert(ContractSweep.udfFilterBelowSpread(planted.queryExecution.executedPlan),
      "the planted UDF filter below a spread was not found")
    assert(!ContractSweep.udfFilterBelowSpread(
      Dedup.docShingles(docs.repartition(4), 3).queryExecution.executedPlan))
  }
}
