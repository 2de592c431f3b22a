package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the retrieval analogue of
  * [[KMeansIndex]]'s persisted IVF layout: build once (postings
  * partitioned on a term-hash bucket), search many (only the query
  * terms' buckets are read — static `PartitionFilters` at the file
  * index, the rest of the corpus is never scanned). Scoring reuses
  * `TextAnalysis.bm25Rank` verbatim, so the persisted path cannot drift
  * from the from-scratch operator; the driver hash-compares both
  * against the same oracle.
  *
  * Layout under `dir`:
  *   postings/bucket=N/  (w, doc_id, dl, tf)  — dl denormalized into the
  *                        postings so search needs no doc-stats join
  *   stats/              one row (n_docs, sum_dl) over the WHOLE corpus
  *                        (BM25's idf and avgdl are corpus-global even
  *                        for docs matching no query term)
  *   manifest.json, batches/  the [[LayoutManifest]] commit marker and
  *                        committed append batches (postings + stats)
  *
  * Scale shape: the build is the tokenize → (w, doc, dl) count the
  * from-scratch path runs once per QUERY, paid once per CORPUS instead;
  * a search reads |query-term buckets| / NumBuckets of the postings
  * files, computes df from exactly those postings (a term's postings
  * live wholly in its bucket), and ranks with the bounded top-k tail.
  */
object InvertedIndex {

  /** Bucket fan-out of the postings layout. At corpus scale this would
    * be sized so a bucket's postings fit a few files; the pruning ratio
    * for a q-term query is ≤ q/NumBuckets regardless.
    */
  val NumBuckets = 16

  def indexDir: String =
    sys.props.getOrElse("graft.bm25.index", "/tmp/graft_bm25_index")

  private def termBucket(t: Column): Column =
    pmod(xxhash64(t), lit(NumBuckets)).cast("int")

  /** Postings schema, stated explicitly at read time: an EMPTY corpus
    * (the first micro-batch of a stream) writes a postings directory
    * with no data files, and a schema-inferring read would die there
    * instead of returning zero rows.
    */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)))

  private def postingsOf(docs: DataFrame): DataFrame =
    Partitioning.spread(docs)
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("w"))
      .groupBy(col("w"), col("doc_id"), col("dl")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("w")))

  private def statsOf(docs: DataFrame): DataFrame =
    Partitioning.spread(docs)
      .select(size(TextAnalysis.words(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  private val layout = LayoutManifest("BM25-index", "InvertedIndex.build")

  private def postingsView(spark: SparkSession, dir: String,
      batches: Seq[String]): DataFrame =
    layout.view(dir, "postings", batches)(p =>
      spark.read.schema(postingsSchema).option("basePath", p).parquet(p))

  private def statsView(spark: SparkSession, dir: String,
      batches: Seq[String]): DataFrame =
    layout.view(dir, "stats", batches)(spark.read.parquet(_))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))

  /** Build the base postings + corpus-stats layout for `docs` through
    * the [[LayoutManifest]] rebuild. A rebuild re-indexes the full
    * corpus, so any previously appended batches are stale and dropped.
    */
  def build(docs: DataFrame, dir: String = indexDir): Unit =
    layout.rebuild(docs.sparkSession, dir) {
      postingsOf(docs)
        .write.partitionBy("bucket").mode("overwrite").parquet(s"$dir/postings")
      statsOf(docs).coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    }

  /** Incrementally index a NEW document batch (disjoint doc_ids from
    * everything already indexed — BM25's df and corpus stats compose
    * additively over disjoint doc sets, so a search over base ∪ batches
    * equals a from-scratch index of the union). The postings and stats
    * tables land as one [[LayoutManifest]] append batch, visible only
    * once both are written; `foreachBatch`-compatible.
    */
  def appendBatch(docs: DataFrame, dir: String = indexDir): Unit =
    layout.append(docs.sparkSession, dir) { batch =>
      postingsOf(docs).write.partitionBy("bucket").parquet(s"$batch/postings")
      statsOf(docs).coalesce(1).write.parquet(s"$batch/stats")
    }

  /** Compact the layout: fold every committed batch into the base
    * postings/stats (the [[LayoutManifest]] compaction) — a
    * continuously-ingesting BM25 index accumulates one postings + stats
    * directory pair per batch, and every search unions them all;
    * compaction resets that read amplification without re-tokenizing
    * anything (postings are re-laid by bucket; stats fold additively
    * into one row).
    */
  def compact(spark: SparkSession, dir: String = indexDir): Unit =
    layout.compact(spark, dir, "postings", "stats") { (batches, staged) =>
      postingsView(spark, dir, batches)
        .write.partitionBy("bucket").parquet(staged("postings"))
      statsView(spark, dir, batches).coalesce(1).write.parquet(staged("stats"))
    }

  /** Search the persisted layout: same result as
    * `TextAnalysis.bm25TopDocs` on the indexed corpus, reading only the
    * query terms' buckets.
    */
  def search(spark: SparkSession, queryTerms: Seq[String], k: Int = 10,
      dir: String = indexDir, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    val terms = queryTerms.distinct
    val batches = layout.committed(spark, dir)
    // bucket ids for the query terms, computed with the SAME hash the
    // writer used (a tiny Spark job over |terms| rows — the engine's
    // xxhash64, not a driver-side reimplementation that could drift)
    import spark.implicits._
    val buckets = terms.toDF("w").select(termBucket(col("w")).as("b"))
      .distinct().as[Int].collect().toSeq
    // every branch keeps its own basePath, so bucket=N stays a partition
    // value and the bucket filter is STATIC pruning on each branch
    val tf = postingsView(spark, dir, batches)
      .filter(col("bucket").isin(buckets: _*)) // static partition pruning
      .filter(col("w").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("w"), col("tf"))
    // a term's postings live wholly in its bucket, so df computed from
    // the pruned read equals the corpus df; batches hold disjoint docs,
    // so df and corpus stats compose additively over the union
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val stats = statsView(spark, dir, batches)
    TextAnalysis.bm25Rank(tf, df, stats, k, k1, b)
  }
}
