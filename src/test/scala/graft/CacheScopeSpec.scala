package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bpe, Dedup, Icws, Pq, Scoped}

/** The cache lifecycle of [[Scoped]] and of every operator that releases
  * what it caches: a call that finishes, or is refused, leaves nothing
  * in the session's cache, so a long-lived session accumulates nothing.
  */
class CacheScopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cache = spark.sharedState.cacheManager

  test("Scoped releases what it cached on a normal and on a thrown exit") {
    spark.catalog.clearCache()
    val df = Seq(1L, 2L, 3L).toDF("x")
    assert(Scoped(s => s.pin(df).count()) == 3L)
    assert(cache.isEmpty, "normal exit")
    intercept[IllegalStateException] {
      Scoped { s => s.pin(df.filter(col("x") > 1)); throw new IllegalStateException("refused") }
    }
    assert(cache.isEmpty, "thrown exit")
    Scoped { s =>
      val a = s.cache(df)
      s.release(a)
      assert(cache.isEmpty, "release frees before exit")
    }
  }

  test("self-releasing entry points leave nothing cached after each call") {
    spark.catalog.clearCache()
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    def clean(what: String)(call: => Any): Unit = {
      call
      assert(cache.isEmpty, s"$what left frames cached")
    }
    val quote = "alpha beta gamma delta epsilon"
    val history = Seq(
      (1L, s"intro words here $quote closing words after"),
      (2L, "totally unrelated content about rivers and stones ok"),
      (4L, quote)).toDF("doc_id", "text")
    val batch = Seq((5L, s"$quote and then some more words")).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, quote),
      (101L, "nothing in common with anything"),
      (103L, s"$quote and some trailing padding words here too"))
      .toDF("doc_id", "text")

    clean("incrementalFlags")(Dedup.incrementalFlags(incoming, history, 0.5).collect())
    val dedupPath = tmp("cache_scope_dedup")
    clean("persistDedupIndex")(Dedup.persistDedupIndex(history, dedupPath))
    clean("appendDedupIndex")(Dedup.appendDedupIndex(batch, dedupPath))
    clean("compactDedupIndex")(Dedup.compactDedupIndex(spark, dedupPath))
    clean("incrementalFlagsPersisted")(
      Dedup.incrementalFlagsPersisted(incoming, dedupPath, 0.5).collect())

    for (mode <- Seq("both", "batch"))
      clean(s"containmentGateIncremental $mode")(Dedup.containmentGateIncremental(
        incoming, history, 0.6, directions = mode).collect())
    val contPath = tmp("cache_scope_containment")
    clean("persistContainmentIndex")(Dedup.persistContainmentIndex(history, contPath))
    clean("appendContainmentIndex")(Dedup.appendContainmentIndex(batch, contPath))
    clean("compactContainmentIndex")(Dedup.compactContainmentIndex(spark, contPath))
    clean("containmentGateIncrementalPersisted")(
      Dedup.containmentGateIncrementalPersisted(incoming, contPath, 0.6).collect())

    val docs = history.unionByName(incoming)
    clean("lshRecall")(Dedup.lshRecall(docs, 0.5).collect())
    clean("lshRecallCurve")(Dedup.lshRecallCurve(docs, 0.5).collect())

    val rows = Seq(("a", "x", 4L), ("a", "y", 2L), ("b", "x", 1L), ("b", "z", 3L))
      .toDF("g", "e", "w")
    val icwsPath = tmp("cache_scope_icws")
    clean("Icws.persistSketches")(Icws.persistSketches(rows, "g", "e", "w", icwsPath, k = 8))
    clean("Icws.appendSketches")(Icws.appendSketches(
      Seq(("a", "z", 1L), ("c", "x", 2L)).toDF("g", "e", "w"), "g", "e", "w", icwsPath))

    val emb = (0 until 32).map(i => (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    clean("Pq.fit")(Pq.fit(emb, dim = 4, numSub = 2, k = 2))
    clean("Bpe.learnMerges (distributed)")(Bpe.learnMerges(docs, 3, driverVocabLimit = 0))
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    clean("dupGroups (distributed)")(Dedup.dupGroups(pairs, driverEdgeLimit = 0).collect())
  }
}
