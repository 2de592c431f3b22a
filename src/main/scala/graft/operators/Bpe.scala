package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * tokenizer-training step of an LLM data pipeline, learned from the
  * corpus itself with no external model.
  *
  * Training follows the paper's formulation: merges are learned over
  * the WORD-FREQUENCY table, not the token stream — the corpus
  * collapses to distinct `(word, n)` rows first, so each merge round
  * aggregates a vocabulary-bounded frame however large the corpus is
  * (the classic reason BPE training scales: 100 TB of text and 100 GB
  * of text see the same vocabulary-sized work per round, after one
  * counting pass). Each round: explode adjacent symbol pairs weighted
  * by word count (map-side combinable), take the argmax (count desc,
  * then lexicographic pair — deterministic ties), apply the merge to
  * the symbol column, repeat. Driver state is ONE row per round.
  *
  * Application ([[tokenizeCounts]]) is `merges.size` chained
  * left-to-right literal `replace` calls on the spaced-symbol form —
  * narrow per-row codegen, no shuffle, engine-portable: `replace`
  * (plain substring replace-all, scanning left to right, resuming
  * AFTER each replacement) has identical semantics in Spark and
  * DuckDB, which makes the greedy merge order reproducible in SQL —
  * the dump-and-replay oracle family ([[KMeansIndex]], [[Pca]],
  * [[QualityModel]]), with the learned merges as the dumped model.
  */
object Bpe {

  /** Where the learned merge table is dumped for the oracle replay. */
  def mergesDumpPath: String =
    sys.props.getOrElse("graft.bpe.dump", "/tmp/graft_oracle_bpe_merges")

  /** A word as its spaced symbol sequence: "fast" → "f a s t" —
    * a space appended after every character, then the trailing one
    * trimmed. regexp_replace-based (not split-on-empty, whose
    * leading/trailing-empty behavior differs across engines); the
    * oracle rebuilds the identical form with the 'g' flag.
    */
  private[operators] def spaced(word: Column): Column =
    rtrim(regexp_replace(word, "(.)", "$1 "))

  /** Learn `m` merges from the corpus. Returns (pair, merged) in merge
    * order, e.g. ("a b" → "ab"). Stops early when no adjacent pair
    * remains (tiny corpora) — total on empty input.
    *
    * At or below `driverVocabLimit` distinct words (default 2^16 —
    * a few MB of (word, count) rows) the merge loop runs on the
    * DRIVER over the collected frequency table instead of as m Spark
    * jobs: the [[Dedup.dupGroups]] discipline — the decision reads
    * one cached count, the collect is hard-capped, the distributed
    * loop runs unchanged past the cap, and both paths are pinned
    * identical by a ScalaCheck property. (m tiny aggregations over a
    * 200-word vocabulary cost ~0.5 s of job overhead EACH; the same
    * loop on the driver is microseconds.) Set `driverVocabLimit = 0`
    * to force the distributed path.
    */
  def learnMerges(docs: DataFrame, m: Int,
      driverVocabLimit: Long = 1L << 16): Seq[(String, String)] = {
    require(m >= 0, s"m must be >= 0, got $m")
    Scoped { s =>
      // the paper's word-frequency table: vocabulary-bounded from here on
      val vocab = s.cache(docs
        .select(explode(TextAnalysis.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .select(spaced(col("w")).as("sym"), col("n")))
      if (driverVocabLimit > 0 && vocab.count() <= driverVocabLimit)
        learnDriver(vocab.collect().map(r => (r.getString(0), r.getLong(1))), m)
      else learnDistributed(s, vocab, m)
    }
  }

  /** The distributed merge loop: one aggregation job per round over the
    * cached vocabulary, swapped for its merged successor each round.
    */
  private def learnDistributed(s: Scoped, vocab0: DataFrame,
      m: Int): Seq[(String, String)] = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < m && !exhausted) {
      // adjacent symbol pairs weighted by word count: zip the symbol
      // array with its tail — per-row, no self-join
      val syms = split(col("sym"), " ")
      val best = vocab
        .select(explode(zip_with(slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"), col("n"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best.head.getString(0)
        val merged = pair.replace(" ", "")
        merges += ((pair, merged))
        // materialized before the parent cache is dropped
        val next = s.pin(vocab
          .select(replace(col("sym"), lit(pair), lit(merged)).as("sym"), col("n")))
        s.release(vocab)
        vocab = next
        round += 1
      }
    }
    merges.toSeq
  }

  /** The driver-side merge loop — the IDENTICAL algorithm over the
    * collected (spaced word, count) rows: adjacent-pair counting,
    * argmax with (count desc, pair asc) ties, greedy left-to-right
    * replace-all. Property-pinned equal to the distributed loop.
    */
  private def learnDriver(rows: Array[(String, Long)],
      m: Int): Seq[(String, String)] = {
    var vocab = rows
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (out.size < m && continue) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((sym, n) <- vocab) {
        val ss = sym.split(" ")
        var i = 0
        while (i < ss.length - 1) {
          val p = ss(i) + " " + ss(i + 1)
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val (pair, _) = counts.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(" ", "")
        out += ((pair, merged))
        vocab = vocab.map { case (sym, n) => (sym.replace(pair, merged), n) }
      }
    }
    out.toSeq
  }

  /** Dump the learned merges as ordered (rank, pair, merged) parquet. */
  def dumpMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], path: String = mergesDumpPath): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((p, mg), i) => (i, p, mg) }
      .toDF("rank", "pair", "merged").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Apply the merge table to a symbol column: the chained literal
    * replaces, in rank order — the exact expression the oracle rebuilds
    * from the dumped rows.
    */
  def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (c, (p, mg)) => replace(c, lit(p), lit(mg)) }

  /** Per-document BPE token counts under the learned merges: every word
    * spaced, merged, and its surviving symbols counted. Narrow per-row
    * work — the tokenizer a 100 TB pipeline runs inside the scan.
    */
  def tokenizeCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val perWord = transform(ws, w =>
      size(split(applyMerges(spaced(w), merges), " ")))
    Partitioning.spread(docs)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        aggregate(perWord, lit(0L), (acc, x) => acc + x).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6))
      .orderBy(col("doc_id"))
  }
}
