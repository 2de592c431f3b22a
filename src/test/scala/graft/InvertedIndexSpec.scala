package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{InvertedIndex, TextAnalysis}

class InvertedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "fast query merge sort fast fast", "s"),
    (2L, "query plan cost model", "s"),
    (3L, "totally unrelated words here", "s"),
    (4L, "merge join fast scan", "s"),
    (5L, "query query query", "s")).toDF("doc_id", "text", "source")

  test("persisted search equals the from-scratch BM25 ranking exactly") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    InvertedIndex.build(docs, dir)
    val q = Seq("query", "fast")
    val fromScratch = TextAnalysis.bm25TopDocs(docs, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val persisted = InvertedIndex.search(spark, q, k = 5, dir = dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(persisted.toSeq == fromScratch.toSeq)
    assert(persisted.nonEmpty && persisted.head._2 == 2L) // both-term doc ranks first
  }

  test("search reads only the query terms' buckets (static partition pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    InvertedIndex.build(docs, dir)
    val plan = InvertedIndex.search(spark, Seq("query"), k = 5, dir = dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"postings scan must carry a bucket partition filter:\n$plan")
    // the pruned filter must be a static IN over literal bucket ids,
    // not a runtime join
    assert(!plan.contains("dynamicpruning"),
      "bucket pruning must be static, not DPP-dependent")
  }

  test("appendBatch: base ∪ committed batch ranks exactly like a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    InvertedIndex.build(docs.filter($"doc_id" <= 3), dir)
    InvertedIndex.appendBatch(docs.filter($"doc_id" > 3), dir)
    val incremental = InvertedIndex.search(spark, Seq("query", "fast"), k = 5, dir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val full = java.nio.file.Files.createTempDirectory("bm25full").toString
    InvertedIndex.build(docs, full)
    val rebuilt = InvertedIndex.search(spark, Seq("query", "fast"), k = 5, dir = full)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(incremental.toSeq == rebuilt.toSeq)
  }

  test("uncommitted batches are invisible; rebuild drops stale batches") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    InvertedIndex.build(docs.filter($"doc_id" <= 3), dir)
    val before = InvertedIndex.search(spark, Seq("query"), k = 5, dir = dir).collect()
    // a batch directory without the _COMMITTED marker must not be read
    val fake = new java.io.File(s"$dir/batches/batch-inflight/postings/bucket=0")
    fake.mkdirs()
    val after = InvertedIndex.search(spark, Seq("query"), k = 5, dir = dir).collect()
    assert(after.map(_.toString).toSeq == before.map(_.toString).toSeq)
    // commit a real batch, then rebuild: the batch must be dropped
    InvertedIndex.appendBatch(docs.filter($"doc_id" > 3), dir)
    InvertedIndex.build(docs.filter($"doc_id" <= 3), dir)
    val rebuilt = InvertedIndex.search(spark, Seq("query"), k = 5, dir = dir).collect()
    assert(rebuilt.map(_.toString).toSeq == before.map(_.toString).toSeq)
  }

  test("compact: search-invariant, batches folded, uncommitted preserved") {
    val dir = java.nio.file.Files.createTempDirectory("bm25compact").toString
    InvertedIndex.build(docs.filter($"doc_id" <= 2), dir)
    InvertedIndex.appendBatch(docs.filter($"doc_id" === 3 || $"doc_id" === 4), dir)
    InvertedIndex.appendBatch(docs.filter($"doc_id" === 5), dir)
    // an uncommitted (in-flight) batch: data present, no _COMMITTED —
    // must survive the compaction untouched and stay invisible
    val fake = new java.io.File(s"$dir/batches/batch-inflight/postings/bucket=0")
    fake.mkdirs()
    val q = Seq("query", "fast")
    val before = InvertedIndex.search(spark, q, k = 5, dir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    InvertedIndex.compact(spark, dir)
    val after = InvertedIndex.search(spark, q, k = 5, dir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(after == before, "compaction changed BM25 results")
    val left = new java.io.File(s"$dir/batches").listFiles().filter(_.isDirectory)
    assert(left.map(_.getName).toSeq == Seq("batch-inflight"),
      s"committed batches should fold away, got ${left.map(_.getName).toSeq}")
    // the folded stats are ONE row covering the whole corpus
    val stats = spark.read.parquet(s"$dir/stats").collect()
    assert(stats.length == 1 && stats.head.getLong(0) == 5L,
      s"stats must fold to one 5-doc row, got ${stats.toSeq}")
    // and equal a from-scratch rebuild of the union
    val full = java.nio.file.Files.createTempDirectory("bm25full2").toString
    InvertedIndex.build(docs, full)
    val rebuilt = InvertedIndex.search(spark, q, k = 5, dir = full)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(after == rebuilt)
    // idempotent: nothing committed remains to fold
    InvertedIndex.compact(spark, dir)
    assert(InvertedIndex.search(spark, q, k = 5, dir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq == before)
  }

  test("build: a torn rebuild (no manifest) makes search refuse") {
    val dir = java.nio.file.Files.createTempDirectory("bm25torn").toString
    InvertedIndex.build(docs, dir)
    // a rebuild that died between its postings and stats writes leaves
    // two generations and no manifest: search must refuse rather than
    // score new postings against old corpus stats
    assert(new java.io.File(dir, "manifest.json").delete())
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.search(spark, Seq("query"), k = 5, dir = dir)
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("df from the pruned read equals the corpus df") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    InvertedIndex.build(docs, dir)
    // 'query' appears in docs 1, 2, 5 → df 3; a pruned read that lost
    // postings would misreport idf and shift every score
    val out = InvertedIndex.search(spark, Seq("query"), k = 5, dir = dir).collect()
    assert(out.length == 3)
  }
}
