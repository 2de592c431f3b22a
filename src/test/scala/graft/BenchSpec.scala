package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-rep measurement and its stdout line: the artifact fields
  * the growth table and per-layer comparisons read, and the size bound
  * that keeps the summary line whole in a 2 kB stdout tail.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val json = new ObjectMapper()

  private val repFields = Seq("wall_s",
    "sched.jobs", "sched.stages", "sched.tasks", "exec.task_s", "exec.gc_s",
    "exec.spill_bytes", "exec.peak_mem_bytes", "shuffle.read_bytes",
    "shuffle.write_bytes", "scan.input_rows", "write.output_rows",
    "driver.analysis_s", "driver.optimization_s", "driver.planning_s",
    "cache.persisted_after")

  test("each rep records every per-layer field; wall times stay in run order") {
    val q = SparkEntry.queries("q1_pricing_summary")
    val rows = q(spark, dir).count()
    // the first rep sleeps first, so run order and sorted order differ
    val naps = Iterator(1500L, 0L)
    val slowFirst: Bench.Query = (s, d) => { Thread.sleep(naps.next()); q(s, d) }
    val failures = ArrayBuffer[Throwable]()
    // the shared session may hold other suites' persistent RDDs
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val reps = Seq.fill(2)(Bench.runOnce(spark, slowFirst, dir)(failures += _))
    assert(failures.isEmpty, s"rep failed: $failures")
    val recs = json.readTree(Bench.record(reps)).elements.asScala.toSeq
    assert(recs.size == 2)
    for (r <- recs) {
      assert(r.fieldNames.asScala.toSeq == repFields)
      assert(r.get("sched.jobs").asLong >= 1, r)
      assert(r.get("exec.task_s").asDouble > 0, r)
      assert(r.get("scan.input_rows").asLong > 0, r)
      assert(r.get("write.output_rows").asLong == rows, r)
      assert(r.get("cache.persisted_after").asLong <= persistedBefore, r)
    }
    val walls = recs.map(_.get("wall_s").asDouble)
    assert(walls.head >= 1.5 && walls.head > walls(1), s"walls not in run order: $walls")
  }

  test("every headline name is a contract query") {
    val missing = Bench.headlineNames.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names with no contract query: $missing")
  }

  test("the stdout line of a 231-query board fits in 2048 bytes and keeps its keys") {
    val names = Bench.headlineNames ++
      (Bench.headlineNames.size until 231).map(i => f"contract_query_with_a_long_name_$i%03d")
    val walls = names.map(_ -> Seq(12.345678901234, 1.2345678901234, 123.45678901234))
    // worst case: every query failed
    val line = Bench.summaryLine(walls, 1234.5678901234, names,
      "bench_ab/a_bench_artifact_with_a_long_name.json", "/data/a/long/scale/factor/dir/sf0.1",
      reps = 3, only = true)
    assert(line.getBytes("UTF-8").length <= 2048, s"${line.length} bytes")
    val out = json.readTree(line)
    for (k <- Seq("metric", "unit", "value", "queries", "queries_file", "n_queries", "sf",
        "reps", "total_min", "total_max", "lifecycle_total", "noisy_count", "errors", "only"))
      assert(out.has(k), s"missing $k")
    assert(out.get("n_queries").asInt == 231 && out.get("n_errors").asInt == 231)
    assert(out.get("queries").size == Bench.headlineNames.size)
    assert(out.get("noisy_count").asInt == 231)
  }
}
