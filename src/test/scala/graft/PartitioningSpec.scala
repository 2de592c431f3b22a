package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.Partitioning

/** `Partitioning.spread` decides narrow or wide from the physical plan
  * and runs no job to do it.
  */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val testdata = "/root/testdata"
  private def docs(sf: String) = sources.Tables.documents(spark, s"$testdata/$sf")

  private def wide(df: DataFrame): Boolean = Partitioning.spread(df) eq df

  test("spread runs no job on a scan, an aggregate or a join with an aggregate") {
    val d = docs("sf0.001")
    val bySource = d.groupBy(col("source")).count()
    for ((name, df) <- Seq("scan" -> d, "aggregate" -> bySource,
        "join" -> d.join(bySource, "source")))
      assert(TestSpark.jobsOf(Partitioning.spread(df)) == 0, name)
  }

  test("spread decides as the executed partition count does, on SparkEntry-shaped inputs") {
    val target = spark.sparkContext.defaultParallelism
    val d = docs("sf0.01")
    val e = sources.Tables.embeddings(spark, s"$testdata/sf0.01")
    val bySource = d.groupBy(col("source")).count()
    val inputs = Seq(
      "documents scan" -> docs("sf0.001"),
      "documents scan sf0.1" -> docs("sf0.1"),
      "filtered scan" -> d.filter(col("doc_id") % 50 === 0),
      "embeddings projection" -> e.select(col("vec_id"), col("embedding")),
      "aggregate" -> bySource,
      "join with an aggregate" -> d.join(bySource, "source"),
      "union of scans" -> d.unionByName(d),
      "explicit repartition" -> d.repartition(target),
      "local checkpoint" -> d.repartition(target).localCheckpoint())
    for ((name, df) <- inputs) {
      // the executing probe spread used before: input files, then the
      // partition count of the input run to its final plan
      val executed = df.inputFiles.length >= target || df.rdd.getNumPartitions >= target
      assert(wide(df) == executed, name)
    }
  }
}
