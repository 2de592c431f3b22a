package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bpe, Clustering, CorpusPipeline, Dedup, Graph, Icws, KMeansIndex,
  Pq, Sampling, Scoped, TextAnalysis}

/** The cache lifecycle of [[Scoped]] and of every operator that releases
  * what it caches: a call that finishes, or is refused, leaves nothing
  * in the session's cache, so a long-lived session accumulates nothing.
  */
class CacheScopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cache = spark.sharedState.cacheManager

  private def persistent = spark.sparkContext.getPersistentRDDs.size

  /** Whether the persistent-RDD count falls back to `start` once the
    * dropped results are garbage: the ContextCleaner unpersists an
    * unreachable RDD, and the session's weak RDD map forgets it.
    */
  private def settlesTo(start: Int): Boolean = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var now = persistent
    while (now > start && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
      now = persistent
    }
    now <= start
  }

  private def docs = Seq(
    (1L, "a", "en", "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "a", "en", "alpha beta gamma delta epsilon zeta eta iota"),
    (3L, "b", "de", "rivers and stones and rivers and hills far away"),
    (4L, "b", "en", "alpha beta gamma delta epsilon zeta eta theta"),
    (5L, "c", "de", "one two three four five six seven eight nine"))
    .toDF("doc_id", "source", "lang", "text")

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

  test("every operator that caches a per-call frame leaves nothing cached") {
    spark.catalog.clearCache()
    def clean(what: String)(result: => DataFrame): Unit = {
      result.collect()
      assert(cache.isEmpty, s"$what left frames cached")
    }
    val d = docs
    val emb = (0 until 32).map(i =>
        (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j) % 5).toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")
    val index = KMeansIndex.build(emb, k = 2)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    assert(cache.isEmpty, "fixtures left frames cached")

    clean("dupEvidence")(Dedup.dupEvidence(d, 0.5))
    clean("spanDedup")(Dedup.spanDedup(d, 4))
    clean("containmentPairs")(Dedup.containmentPairs(d, 0.9))
    clean("ngramJaccardPairs")(Dedup.ngramJaccardPairs(d, 0.5))
    clean("minhashEstimateError")(Dedup.minhashEstimateError(d))
    clean("minhashLshPairsCore")(Dedup.minhashLshPairsCore(d, 0.5))
    clean("minhashLshPairs")(Dedup.minhashLshPairs(d, 0.5))
    clean("simhashPairs")(Dedup.simhashPairs(d))
    clean("semDedup")(Dedup.semDedup(index, 0.4))
    clean("idfCosinePairs (idfWeights)")(Dedup.idfCosinePairs(d, 5))
    clean("lshCandidates")(Dedup.lshCandidates(d))
    clean("idfCosineRank (idfWeights)")(Dedup.idfCosineRank(d, Dedup.lshCandidates(d)))
    clean("tfidfTopTerms")(TextAnalysis.tfidfTopTerms(d))
    clean("noveltyScores")(TextAnalysis.noveltyScores(d))
    clean("curriculumBuckets")(TextAnalysis.curriculumBuckets(d))
    clean("bm25TopDocs")(TextAnalysis.bm25TopDocs(d, Seq("alpha", "rivers")))
    clean("unigramSurprisal")(TextAnalysis.unigramSurprisal(d))
    clean("bigramLm")(TextAnalysis.bigramLm(d))
    clean("vocabCoverage")(TextAnalysis.vocabCoverage(d))
    clean("sourceOverlap")(TextAnalysis.sourceOverlap(d))
    clean("Clustering.withInertia")(Clustering.withInertia(emb, col("label"), col("vec_id")))
    val stages = CorpusPipeline.clean(d)
    for ((name, f) <- Seq("afterQuality" -> stages.afterQuality,
        "afterExact" -> stages.afterExact, "afterNearDup" -> stages.afterNearDup))
      clean(s"CorpusPipeline.clean $name")(f)
    clean("Graph.pageRank")(Graph.pageRank(Dedup.minhashLshPairsCore(d, 0.5)))
    clean("KMeansIndex.recallCurve")(
      KMeansIndex.recallCurve(index, queries, topK = 3, probes = Seq(1, 2)))
    clean("Sampling.tokenBudget")(Sampling.tokenBudget(d, Map("a" -> 10L), 5L))
    clean("Sampling.dsirWeights")(Sampling.dsirWeights(d))
  }

  test("the lazy pair operators cache nothing across 20 calls on new inputs") {
    spark.catalog.clearCache()
    val start = persistent
    for (i <- 1 to 20) {
      val d = docs.withColumn("text", concat(col("text"), lit(s" tag$i")))
      Dedup.minhashLshPairs(d, 0.5).collect()
      assert(cache.isEmpty, s"minhashLshPairs call $i left frames cached")
      Dedup.ngramJaccardPairs(d, 0.5).collect()
      assert(cache.isEmpty, s"ngramJaccardPairs call $i left frames cached")
    }
    assert(settlesTo(start), s"persistent RDDs $persistent, started at $start")
  }

  test("pageRank's checkpoints are reclaimed once its results are dropped") {
    spark.catalog.clearCache()
    val start = persistent
    for (i <- 1 to 5) {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 10L + i)).toDF("doc_a", "doc_b")
      Graph.pageRank(pairs).collect()
    }
    assert(cache.isEmpty)
    assert(settlesTo(start), s"persistent RDDs $persistent, started at $start")
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
