package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.types.StructType

/** One build of every contract query at one scale, read by the
  * board-wide suites (OutputSchemaSpec, PlanAuditSpec, SqlSurfaceSpec)
  * instead of each building the board itself; [[TestSpark]] holds one
  * per scale. Each query is built once, and its plans are read as
  * [[PlanDump.capture]] reads them: every plan the build ran, then the
  * returned frame's. The sweep keeps only what the suites read, never a
  * frame or a plan, so no checkpointed RDD of a build stays reachable
  * through it.
  */
final class ContractSweep(built: Map[String, Try[ContractSweep.Built]]) {
  /** The build of contract query `name`. A build that threw fails its
    * reader here, and the failure names the query.
    */
  def apply(name: String): ContractSweep.Built = built(name) match {
    case Success(b) => b
    case Failure(e) =>
      throw new IllegalStateException(s"contract query $name threw when built: $e", e)
  }
}

object ContractSweep {
  /** What one build of a contract query left: its result schema;
    * whether any plan the build ran, or the returned frame's plan,
    * holds a nested loop, or evaluates a UDF filter below a spread; and,
    * when the sweep collects the query, the result rows (see [[rows]]).
    */
  final case class Built(schema: StructType, nestedLoop: Boolean,
    udfFilterBelowSpread: Boolean, rows: Seq[String])

  /** Builds every contract query in name order at `dir`, collecting
    * the rows of the queries named in `collect`. Both plan facts are
    * read before the collect: the audit reads the result's plan as
    * built, not the plan adaptive execution settles on while it runs.
    */
  def apply(spark: SparkSession, dir: String, collect: Set[String]): ContractSweep =
    new ContractSweep(SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try {
        val (df, runs) = PlanDump.executions(spark)(fn(spark, dir))
        val plans = (runs.map(_._2) :+ df.queryExecution).map(_.executedPlan)
        Built(df.schema, plans.exists(p => PlanDump.nestedLoop(p.toString)),
          plans.exists(udfFilterBelowSpread), if (collect(name)) rows(df) else Nil)
      }
    }.toMap)

  /** A result's rows as compared for SQL/DataFrame parity: in result
    * order, each row's values pipe-joined, nulls as ∅.
    */
  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case d: Double => d.toString
      case x => x.toString
    }.mkString("|")).toSeq

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
  def udfFilterBelowSpread(plan: SparkPlan): Boolean =
    nodes(plan).exists {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        nodes(e.child).exists {
          case f: FilterExec => f.condition.exists(_.isInstanceOf[ScalaUDF])
          case _ => false
        }
      case _ => false
    }
}
