package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
  RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM,
  ReusedExchangeExec, ShuffleExchangeExec}

/** Parallelism hygiene for CPU-heavy per-row stages. */
object Partitioning {

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative integer dimensions — a's bit i lands at 2i, b's at
    * 2i+1. Rows close in z-key are close in BOTH dimensions, so sorting
    * a table by z-key before writing gives every parquet row group a
    * small min/max rectangle in (a, b) — multi-column data skipping,
    * the Delta/Iceberg `OPTIMIZE ZORDER BY` layout trick, where a plain
    * sort on `a` gives pruning on `a` only. Pure literal bit
    * arithmetic in one codegen projection; replays exactly in any
    * engine with integer shifts.
    */
  def zOrderKey(a: Column, b: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      (shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** The write-side layout operator: z-key the two clustering dimensions
    * and range-bucket rows into file groups by the key's HIGH bits
    * (`2·bits − groupBits` of prefix). High-bit bucketing is the
    * shuffle-free form of "sort by z, cut every N rows": each group is
    * a contiguous z-range, hence a bounded rectangle in (a, b) — and it
    * needs no global sort or window, so the plan stays one narrow
    * projection (at scale the actual write is
    * `repartitionByRange(zkey).sortWithinPartitions(zkey)`, this
    * operator computes the keys that drive it). Output adds
    * (zkey, file_group).
    */
  def zOrderLayout(df: DataFrame, a: Column, b: Column, bits: Int = 8,
      groupBits: Int = 4): DataFrame = {
    require(groupBits >= 0 && groupBits < 2 * bits,
      s"groupBits must be in [0, ${2 * bits}), got $groupBits")
    val z = zOrderKey(a, b, bits)
    df.withColumn("zkey", z)
      .withColumn("file_group", shiftright(col("zkey"), 2 * bits - groupBits))
  }

  /** Default ceiling for [[requireBoundedDomain]]: 2M distinct keys.
    * An unpartitioned cumulative window sorts its whole input in ONE
    * task, so the input must be a bounded DOMAIN (6-dp scores ≤ 10⁶+1,
    * duration days, price points) — 2M rows sort in well under a
    * second on one core; an unquantized continuous column at corpus
    * scale would not. */
  val DefaultDomainLimit: Long = 2000000L

  /** Loud guard for the bounded-global-window family: every operator
    * that runs an unpartitioned cumulative window justifies it by
    * "the window input is the key's DOMAIN, not raw rows" — this makes
    * that trust a CHECK. Wraps the already-grouped domain frame so the
    * plan raises (in-plan `raise_error` — distributed, lazy, no driver
    * action) if the domain exceeds `limit`, instead of silently
    * degrading to a single-partition sort of n rows. The count rides a
    * broadcast 1-row aggregate; the grouped frame is recomputed once
    * for it — map-side-combinable and domain-sized, so the safety
    * costs a fraction of the window it protects.
    */
  def requireBoundedDomain(domain: DataFrame, keyCol: String, site: String,
      limit: Long = DefaultDomainLimit): DataFrame =
    guardedBySize(domain, limit,
      lit(s"$site: the global-window domain ($keyCol) has "),
      lit(s" distinct values, over the bounded-domain limit $limit — an " +
        "unpartitioned window over it would single-task-sort the corpus. " +
        "Quantize/bucket the column first, or raise the limit knowingly."))

  /** The evaluator-cap sibling of [[requireBoundedDomain]]: evaluators
    * whose ground-truth side is a deliberate full/quadratic scan
    * (recall curves, exact top-N calibration baselines) are SAMPLE-
    * SCALE tools — this makes the cap an enforced parameter instead of
    * a doc comment, so the 100×-scale user cannot point the evaluator
    * at the full corpus by accident. Same lazy in-plan mechanism.
    */
  def requireSampleScale(df: DataFrame, site: String, limit: Long): DataFrame =
    guardedBySize(df, limit,
      lit(s"$site is a sample-scale evaluator: input has "),
      lit(s" rows, over the cap $limit — its ground-truth side scans " +
        "deliberately exhaustively. Sample/slice the input first, or raise " +
        "the cap knowingly."))

  /** The mass sibling of [[requireBoundedDomain]]: guards frames whose
    * downstream cost is a SUM over the frame (co-occurrence mass
    * Σ df·(df−1)/2 of an inverted-index self-join), not its row count.
    * Same lazy sentinel-union mechanism — the plan raises in-flight
    * when the aggregate exceeds `limit`, with zero driver actions and
    * no extra join node; `remedy` names the scale-path alternative the
    * error message points the user to.
    */
  def requireBoundedMass(df: DataFrame, mass: Column, site: String,
      limit: Long, remedy: String): DataFrame =
    guardedByAgg(df, coalesce(sum(mass), lit(0L)).cast("long"), limit,
      lit(s"$site: aggregate mass "),
      lit(s" exceeds the cap $limit — $remedy"))

  private def guardedBySize(df: DataFrame, limit: Long,
      msgHead: Column, msgTail: Column): DataFrame =
    guardedByAgg(df, count(lit(1)), limit, msgHead, msgTail)

  private def guardedByAgg(df: DataFrame, agg: Column, limit: Long,
      msgHead: Column, msgTail: Column): DataFrame = {
    require(limit >= 1, s"size limit must be >= 1, got $limit")
    // The check rides a SENTINEL UNION, not a join: a 0-row branch
    // unions onto the frame, so within the cap the plan gains no join
    // at all — a 1-row crossJoin would plan as BroadcastNestedLoopJoin
    // and trip the project's own "no BNLJ" plan audits (constant-key
    // equi-joins constant-fold back into the same shape). Lazy,
    // distributed, and invisible to every downstream plan check; the
    // count branch reuses the domain exchange (ReusedExchange,
    // spec-pinned), so the base data is scanned once.
    //
    // The raise lives in BOTH the sentinel's filter CONDITION and its
    // projections — each guards against a different optimizer path:
    //  - projection-only raise is column-PRUNABLE: a consumer that
    //    references no columns (guarded.count()) would have the raise
    //    optimized away, silently passing the guard AND counting a
    //    phantom row. Filter conditions are never pruned.
    //  - filter-only raise (with plain null projections) is FOLDABLE
    //    away: the projected null literals constant-fold downstream,
    //    join-pushed isnotnull constraints become literally false, and
    //    PruneFilters + PropagateEmptyRelation remove the whole branch
    //    including the tripwire. Non-foldable raise projections keep
    //    the branch alive.
    // The boolean cast keeps the condition clear of null-type
    // simplifications (raise_error is NullType).
    val err = raise_error(concat(msgHead, col("__guard_n"), msgTail))
    val tripwire = when(col("__guard_n") > limit, err.cast("boolean"))
      .otherwise(lit(false))
    val sentinel = df.agg(agg.as("__guard_n"))
      .filter(tripwire)
      .select(df.schema.fields.toIndexedSeq.map(f => err.cast(f.dataType).as(f.name)): _*)
    df.unionByName(sentinel)
  }

  /** Spread `df` across the session's cores, but only when it arrives
    * under-parallel (the single-file local test tables arrive as 1
    * split). On a real cluster inputs already arrive in thousands of
    * partitions; an unconditional `repartition(defaultParallelism)`
    * there would be an extra full shuffle of the base data — so the
    * repartition is gated on the input's width.
    *
    * A per-row kernel runs after the spread, once: a caller projects
    * its kernel above the returned frame, and filters on a cheap column
    * test rather than on the kernel's output (the optimizer pushes a
    * filter below the exchange, into the scan task).
    *
    * The width is read from the physical plan, which is planned but not
    * executed, so the probe runs no job (see [[width]]).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // a streaming frame has no batch physical plan; treat as narrow —
    // the repartition is a plan node the micro-batch planner handles
    val wide = !df.isStreaming && width(df.queryExecution.executedPlan) >= target
    if (wide) df else df.repartition(target)
  }

  /** The partition count a physical plan will run with, read without
    * executing it:
    *  - a file scan has its file splits, and a scan of an RDD (a local
    *    checkpoint), of local rows or of a cache has that RDD's, those
    *    rows' or that cache's partitions;
    *  - a shuffle has its partitioning's count, except that one the
    *    adaptive executor may coalesce counts as 1: its final count is
    *    known only after its map stage has run, and the small inputs
    *    that coalesce are the ones a spread must widen;
    *  - an adaptive plan reads its current plan, and a query stage
    *    the plan it wraps;
    *  - a union sums its children, a broadcast counts 0 (its rows join
    *    a streamed side), and any other node is as wide as its widest
    *    child, or its own partitioning when it has no child.
    */
  private def width(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => width(a.executedPlan)
    case q: QueryStageExec => width(q.plan)
    case r: ReusedExchangeExec => width(r.child)
    case e: ShuffleExchangeExec =>
      val coalescible = p.conf.adaptiveExecutionEnabled &&
        p.conf.coalesceShufflePartitionsEnabled && e.shuffleOrigin != REPARTITION_BY_NUM
      if (coalescible) 1 else e.numPartitions
    case _: BroadcastExchangeExec => 0
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    case r: RDDScanExec => r.inputRDDs().head.getNumPartitions
    case l: LocalTableScanExec => l.execute().getNumPartitions
    case m: InMemoryTableScanExec => width(m.relation.cachedPlan)
    case u: UnionExec => u.children.map(width).sum
    case _ if p.children.isEmpty => p.outputPartitioning.numPartitions
    case _ => p.children.map(width).max
  }
}
