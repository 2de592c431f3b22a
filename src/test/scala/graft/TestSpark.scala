package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs the body starts, read from its [[Work]] measurement. */
  def jobsOf(body: => Unit): Int = Work.of(spark)(body)._2.jobs.toInt

  /** Every contract query built once at sf0.001, for all the suites of
    * the one forked test JVM, with the rows of the SQL-surface queries
    * (the contract arm of SqlSurfaceSpec's parity check).
    */
  lazy val smallSweep: ContractSweep =
    ContractSweep(spark, "/root/testdata/sf0.001", collect = SqlSurface.sql.keySet)

  /** Every contract query built once at sf0.01, without rows. */
  lazy val largerSweep: ContractSweep =
    ContractSweep(spark, "/root/testdata/sf0.01", collect = Set.empty)
}
