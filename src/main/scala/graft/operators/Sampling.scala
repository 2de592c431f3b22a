package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic source-mixture sampling — the "data mixing" step that
  * reweights a corpus's sources before training (up/down-sampling web
  * text vs books vs code, Pile/Dolma-style).
  *
  * Each document gets a content-stable uniform draw
  * `u = (first 60 bits of sha256(doc_id)) / 2^60` and survives iff
  * `u < weight(source)`. Hash-based draws — not `rand()` — because the
  * decision must be REPLAYABLE: the same document samples the same way
  * on every run, across retries, and across engines (the oracle
  * recomputes the identical draw in SQL), and the sample composes with
  * incremental ingest (new docs don't reshuffle old decisions). A
  * weight > 1 is capped by the u < w comparison at "always keep"
  * (upsampling by repetition is a separate, explicit step — silently
  * duplicating rows inside a sampler would corrupt dedup semantics
  * downstream).
  *
  * Shape at 100 TB: one narrow projection — no shuffle, no state, no
  * driver involvement; the weight map is a literal when-chain.
  */
object Sampling {

  /** 2^60 as an exact double (60 < 53-bit mantissa range of powers of
    * two — exact), matching the oracle's literal.
    */
  private val TwoPow60 = 1152921504606846976.0

  /** The first 60 bits of sha256(id ++ salt) as a non-negative long —
    * the ONE hash layout every replayable decision in this engine
    * derives from (draws here, shard routing in [[Packing]]), and the
    * exact slice `duckHex60` re-parses on the oracle side. Change the
    * offset or width here and in the oracle together or nowhere.
    */
  private[operators] def hash60(id: Column, salt: String = ""): Column =
    conv(substring(sha2(concat(id.cast("string"), lit(salt)), 256), 1, 15), 16, 10)
      .cast("long")

  /** The per-document uniform draw in [0, 1): [[hash60]] / 2^60.
    * `salt` decorrelates draws across pipeline steps (the sample step
    * and the upsample step must not share one coin).
    */
  def uniformDraw(docId: Column, salt: String = ""): Column =
    hash60(docId, salt).cast("double") / lit(TwoPow60)

  /** The per-source weight as a literal when-chain (broadcast-free and
    * identically foldable in the oracle SQL's CASE).
    */
  private def weightCol(weights: Map[String, Double], defaultWeight: Double): Column =
    weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (src, wt)) => when(col("source") === src, lit(wt)).otherwise(acc)
    }

  /** Per-doc sampling verdict: adds `u`, `w`, `sampled`. */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double): DataFrame =
    docs.withColumn("u", uniformDraw(col("doc_id")))
      .withColumn("w", weightCol(weights, defaultWeight))
      .withColumn("sampled", col("u") < col("w"))

  /** Upsampling by explicit repetition — the step [[mixtureSample]]
    * deliberately refuses to do implicitly. A weight w gives every doc
    * `floor(w)` guaranteed copies plus one more iff its (salted,
    * replayable) draw lands below `w - floor(w)`; so w = 2.5 means "2
    * or 3 epochs of this source, expected 2.5", w < 1 degrades to plain
    * downsampling, and w = 0 drops the source. Output rows carry
    * `rep` (1-based copy index) so downstream keys on (doc_id, rep) —
    * the copies are distinguishable on purpose: a training-order
    * shuffle must be able to spread them.
    *
    * Shape at 100 TB: narrow projection + explode; output size is
    * exactly the token budget the weights dictate, no shuffle.
    */
  def upsample(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double, maxWeight: Double = 1000.0): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(_ >= 0),
      "upsample weights must be >= 0")
    // each row materializes a floor(w)-element array before exploding —
    // an accidental 1e6 weight should fail here, not deep in codegen
    require((defaultWeight +: weights.values.toSeq).forall(_ <= maxWeight),
      s"upsample weights must be <= $maxWeight (epochs, not row counts); " +
        "raise maxWeight explicitly if you really mean it")
    // sequence(1, 0) in Spark is the DESCENDING ramp [1, 0], not empty —
    // the n_reps = 0 case must short-circuit to an empty array
    docs.withColumn("w", weightCol(weights, defaultWeight))
      .withColumn("n_reps",
        floor(col("w")).cast("long") +
          when(uniformDraw(col("doc_id"), ":up") < col("w") - floor(col("w")), 1L)
            .otherwise(0L))
      .withColumn("rep",
        explode(when(col("n_reps") >= 1, sequence(lit(1L), col("n_reps")))
          .otherwise(array().cast("array<long>"))))
      .drop("w", "n_reps")
  }

  /** Exact stratified sampling: exactly `min(n, |stratum|)` rows per
    * stratum, chosen by the replayable hash order (sha256 of the id,
    * id tiebreak) — the "balanced eval set" builder. Rank-based rather
    * than draw-based because the contract is an exact per-stratum
    * COUNT, which no independent per-row coin can promise.
    *
    * Shape at 100 TB: rank ≤ n over (stratum, hash order) is exactly
    * the shape Spark's WindowGroupLimit rewrites into a map-side
    * partial top-n — each task keeps at most n rows per stratum before
    * the single shuffle, so the exchange carries O(n · strata ·
    * partitions), never the corpus.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column, n: Int): DataFrame = {
    require(n > 0, "stratified sample size must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(sha2(id.cast("string"), 256), id)
    df.withColumn("rank_in_stratum", row_number().over(w))
      .filter(col("rank_in_stratum") <= n)
  }

  /** Token-budget selection: keep documents from each source, in a
    * replayable deterministic order, until the source's token budget is
    * reached — the "take N billion tokens of web text, M of code" step
    * that turns mixture WEIGHTS into hard token COUNTS (Dolma/Pile-style
    * corpus assembly). A document is kept iff the tokens selected before
    * it (`start`, the exclusive prefix sum) are still under budget, so
    * the document that crosses the line is included and everything after
    * it is cut; budget 0 drops the source.
    *
    * The selection order is (shard, sha256(doc_id), doc_id) — the same
    * shared hash layout every replayable decision in this engine derives
    * from ([[hash60]]; shard routing as in [[graft.operators.Packing]]).
    * Order within a source deliberately has a shard-major structure:
    * a single `Window.partitionBy(source).orderBy(hash)` would sort an
    * entire source in ONE task, which is exactly the shape that dies at
    * 100 TB. Instead: (1) in-shard running sums in parallel (window per
    * (source, shard)); (2) per-(source, shard) token totals — a
    * map-side-combined aggregate of sources × shards rows; (3) a prefix
    * over shard totals within each source (tiny frame, broadcast back).
    * Since shard assignment is itself a hash, the result is still an
    * unbiased deterministic sample of the source.
    *
    * Returns every input doc with (n_tokens, shard, start, budget,
    * kept) — a flagging operator, like [[mixtureSample]]: materializing
    * `.filter(col("kept"))` is the caller's one extra line.
    */
  def tokenBudget(docs: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long, numShards: Int = 8): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    require((defaultBudget +: budgets.values.toSeq).forall(_ >= 0),
      "token budgets must be >= 0")
    // base feeds the running-sum window AND the per-shard totals
    val base = docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"),
      pmod(hash60(col("doc_id")), lit(numShards.toLong)).as("shard"),
      sha2(col("doc_id").cast("string"), 256).as("ord"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("ord"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tokens")).as("tot"))
      .select(col("source"), col("shard"),
        coalesce(sum(col("tot")).over(wOff), lit(0L)).as("off"))
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (src, bgt)) => when(col("source") === src, lit(bgt)).otherwise(acc)
    }
    base.withColumn("cum", sum(col("n_tokens")).over(w))
      .join(broadcast(offsets), Seq("source", "shard"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("shard"),
        (col("off") + col("cum") - col("n_tokens")).as("start"),
        budgetCol.as("budget"))
      .withColumn("kept", col("start") < col("budget"))
  }

  /** Per-source budget report: docs/tokens kept per source against the
    * budget — `tokens_kept` overshoots `budget` by at most one
    * document (the crossing doc is kept whole).
    */
  def tokenBudgetSummary(docs: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long, numShards: Int = 8): DataFrame =
    tokenBudget(docs, budgets, defaultBudget, numShards)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"),
        min(col("budget")).as("budget"))
      .orderBy(col("source"))

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by the log-likelihood ratio of a TARGET unigram model
    * over a RAW model, both estimated from the corpus itself on HASHED
    * token buckets (the paper's hashed n-gram features — a fixed
    * `buckets`-wide feature space regardless of vocabulary size).
    * Documents that look like the target distribution score positive
    * and are `selected`; importance resampling then draws by weight
    * (composable with [[mixtureSample]]'s replayable draws).
    *
    * Here the target model is fit on `lang = targetLang` documents and
    * the raw model on the rest (in production: target = trusted corpus,
    * raw = the crawl). Laplace add-1 smoothing keeps empty buckets
    * finite. The bucket hash reuses [[hash60]] — sha-256 based, so the
    * oracle re-derives the identical bucket in SQL; `% buckets` on the
    * 60-bit slice. The only transcendental (ln of each model
    * probability) is computed on identical exact-integer-derived
    * doubles and quantized at 9 dp per BUCKET before any accumulation
    * (the doc_surprisal discipline) — the per-doc fold is
    * order-independent bounded-decimal arithmetic, bit-stable in both
    * engines.
    *
    * Shape at 100 TB: tokenize+bucket is narrow; (doc, bucket) tf is
    * one partial-aggregated shuffle; the model table is `buckets` rows
    * (a broadcast, whatever the corpus size — the point of hashing);
    * the per-doc fold keys on doc_id. No vocabulary-sized state
    * anywhere.
    */
  /** DSIR defaults, shared between the contract query's registration
    * and its oracle SQL interpolation (the token_budget discipline —
    * change either in one place or nowhere).
    */
  val dsirTargetLang: String = "en"
  val dsirBuckets: Int = 64

  def dsirWeights(docs: DataFrame, targetLang: String = dsirTargetLang,
      buckets: Int = dsirBuckets): DataFrame = Scoped { s =>
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val tb = s.pin(Partitioning.spread(docs)
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.words(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"),
        pmod(hash60(col("w"), ":dsir"), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("tf")))
    // tb feeds the bucket models AND the per-doc fold: pinned, one
    // producing pass before the two consumers race on first touch; the
    // one-row-per-doc result is returned checkpointed
    val isTarget = col("lang") === targetLang
    val model = tb.groupBy(col("bucket"))
      .agg(sum(when(isTarget, col("tf")).otherwise(0L)).as("ct"),
        sum(when(!isTarget, col("tf")).otherwise(0L)).as("cr"))
    val tot = model.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lnRatio = round(
      log((col("ct") + 1).cast("double") / (col("nt") + buckets).cast("double"))
        - log((col("cr") + 1).cast("double") / (col("nr") + buckets).cast("double")),
      9).cast(DecimalType(20, 9))
    val weighted = model.crossJoin(broadcast(tot))
      .select(col("bucket"), lnRatio.as("qln"))
    val score = round(sum(col("nl")).cast("double") / sum(col("tf")), 6)
    tb.join(broadcast(weighted), "bucket")
      .select(col("doc_id"), col("tf"),
        (col("qln") * col("tf").cast(DecimalType(6, 0))).as("nl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"), score.as("dsir_score"))
      .withColumn("selected", col("dsir_score") > 0)
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
  }

  /** Per-source mixture report: how many docs each source keeps under
    * the weights, with the observed rate (converges to the weight as
    * the source grows — the sanity number a pipeline owner checks).
    */
  def mixtureSummary(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double): DataFrame =
    mixtureSample(docs, weights, defaultWeight)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        round(min(col("w")), 6).as("weight"))
      .select(col("source"), col("n_docs"), col("n_sampled"), col("weight"),
        round(col("n_sampled").cast("double") / col("n_docs"), 6).as("rate"))
      .orderBy(col("source"))

  /** Class-balance report per group — the mixing dial a curation run
    * reads before setting sampling weights: per `groupCol`, the class
    * count, the majority class share, and the Shannon entropy of the
    * class distribution in nats (0 = monoculture, ln(k) = uniform over
    * k classes). Majority ties break on the class value.
    *
    * Determinism discipline: each class's −p·ln p is rounded at 9 dp
    * (the ln rule) and the across-class sum runs in decimals; p itself
    * is the exact count ratio. Shape: one (group, class) count with
    * map-side partial aggregation, then a per-group fold over at most
    * |classes| rows.
    */
  def classBalance(docs: DataFrame, groupCol: String, classCol: String): DataFrame = {
    val counts = Partitioning.spread(docs)
      .groupBy(col(groupCol), col(classCol).as("cls"))
      .agg(count(lit(1)).as("n"))
    val p = col("n").cast("double") / col("total").cast("double")
    counts
      .join(counts.groupBy(col(groupCol)).agg(sum(col("n")).as("total")), Seq(groupCol))
      .select(col(groupCol), col("cls"), col("n"), col("total"),
        round(-p * log(p), 9).cast(DecimalType(20, 9)).as("h_term"))
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_classes"),
        min(struct((-col("n")).as("neg_n"), col("cls"))).as("m"),
        round(sum(col("h_term")).cast("double"), 6).as("entropy"))
      .select(col(groupCol), col("n_docs"), col("n_classes"),
        col("m.cls").as("majority_class"),
        round((-col("m.neg_n")).cast("double") / col("n_docs"), 6)
          .as("majority_share"),
        col("entropy"))
      .orderBy(col(groupCol))
  }

  /** Leakage-safe train/valid/test split: the unit of assignment is the
    * near-duplicate GROUP, not the document. A per-document split leaks
    * whenever two near-copies land in different splits — the model
    * "generalizes" to its own training data, and eval numbers inflate
    * (the classic contamination pitfall dedup-then-split exists to
    * prevent). Here every member of a connected dup component
    * ([[Dedup.dupGroups]] over LSH candidate pairs) inherits the split
    * of the component's canonical minimum id, so a group can never
    * straddle splits; singletons are their own group. `rescued` marks
    * docs whose naive per-doc assignment would have differed — the
    * leakage actually prevented, quantified.
    *
    * Assignment is mod-10 on the group id (8/1/1), mirroring
    * `sample_split`'s oracle-portable rule; production would swap in a
    * salted hash — the GROUPING, not the hash, is the point. Shape:
    * one left equi-join of docs against the (bounded) group table +
    * a narrow projection — the expensive part is the dedup graph,
    * already paid and reused.
    */
  /** Curriculum ordering with a seeded deterministic shuffle — the
    * epoch-order builder for staged ("easy → hard") pretraining:
    * documents are bucketed into difficulty stages (here by length,
    * the cheapest robust difficulty proxy) and shuffled WITHIN each
    * stage by a content-stable key, `md5(doc_id:seed)`. Hash-ordered,
    * not `rand()`-ordered, for the same reason [[mixtureSample]] uses
    * hash draws: the epoch order must be replayable across runs,
    * retries, and engines, and changing the seed gives an independent
    * permutation without touching the data.
    *
    * Scale shape: ORDER BY (stage, key) + LIMIT plans as
    * TakeOrderedAndProject — each task keeps its local top-`limit`,
    * the driver merges; no global sort materializes. (A full-epoch
    * writer would drop the limit and let the range-partitioned sort
    * shuffle once — still one exchange; `position` below is assigned
    * AFTER the cut, so the row_number window only ever sees `limit`
    * rows.)
    */
  def curriculumOrder(docs: DataFrame, seed: Long = 42L,
      limit: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stage = when(col("n_chars") < 220, 0)
      .when(col("n_chars") < 380, 1).otherwise(2).cast("int")
    val key = md5(concat_ws(":", col("doc_id").cast("string"),
      lit(seed.toString)))
    docs.select(col("doc_id"), stage.as("stage"), key.as("shuffle_key"))
      .orderBy(col("stage"), col("shuffle_key"), col("doc_id"))
      .limit(limit)
      .withColumn("position", row_number().over(
        Window.orderBy(col("stage"), col("shuffle_key"), col("doc_id")))
        .cast("long"))
  }

  /** Weighted sampling without replacement, Efraimidis–Spirakis A-ES:
    * draw u ∈ (0,1) per row, keep the k rows with the smallest
    * −ln(u)/w — mathematically exact weighted reservoir sampling, and
    * the ONLY without-replacement scheme that runs as a stateless
    * per-row score + top-k (TakeOrderedAndProject: each task keeps a
    * local k, the driver merges; no global sort, no sequential
    * reservoir — at 100 TB a literal reservoir is a single-node
    * bottleneck, A-ES is embarrassingly parallel).
    *
    * u is a CONTENT hash (md5 of id + seed), not rand(): replayable
    * across runs/retries/engines (the [[curriculumOrder]] discipline),
    * and the 12-hex-digit mantissa (48 bits) makes ties practically
    * impossible — the id tie-break makes the order total anyway.
    * Rows with null or non-positive weight are excluded (they have no
    * sampling mass), not errors.
    */
  def weightedSample(df: DataFrame, id: Column, weight: Column,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, "sample size must be positive")
    val hex12 = substring(md5(concat_ws(":", col("id").cast("string"),
      lit(seed.toString))), 1, 12)
    val u = (conv(hex12, 16, 10).cast("double") + lit(0.5)) /
      lit(math.pow(16.0, 12))
    df.select(id.as("id"), weight.as("w"))
      .filter(col("w").isNotNull && col("w") > 0)
      .select(col("id"), col("w"),
        round(-log(u) / col("w").cast("double"), 9).as("sample_key"))
      .orderBy(col("sample_key").asc, col("id").asc)
      .limit(k)
  }

  def leakageSafeSplit(docs: DataFrame, groups: DataFrame): DataFrame = {
    def splitOf(c: Column): Column =
      when(c % 10 < 8, "train").when(c % 10 === 8, "valid").otherwise("test")
    docs.select(col("doc_id"))
      .join(groups.select(col("doc_id"), col("group_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .select(col("doc_id"), col("group_id"),
        splitOf(col("group_id")).as("split"),
        (splitOf(col("doc_id")) =!= splitOf(col("group_id"))).as("rescued"))
      .orderBy(col("doc_id"))
  }

  /** Quantile estimation from a bounded hash sample — the quantile
    * member of the bounded-state sketch family (top-k = Misra-Gries,
    * frequency = Count-Min, distinct = KMV, quantile = THIS): the k
    * rows with the smallest md5-12 draw on the row KEY form a
    * content-stable uniform row sample, and exact interpolated
    * percentiles over those k values estimate the corpus quantiles.
    * Hashing the KEY (not the value) keeps the sample uniform over
    * ROWS — a value-hashed sample would collapse duplicates and
    * estimate the distinct-value distribution instead.
    *
    * Scale shape: the sample is a global bottom-k on (draw, value) —
    * TakeOrderedAndProject, per-partition top-k partials merged once,
    * never a full sort; its state is k rows wherever exact
    * `percentile` state is the whole column. The EXACT side of the
    * readout is the evaluator's deliberate corpus-state pass, so the
    * whole operator is a sample-scale evaluator and sits behind
    * [[Partitioning.requireSampleScale]] (`maxExactRows`) — at
    * production scale you run the sample side alone and skip the
    * comparison (`withExact = false` drops the exact pass and the cap,
    * reporting NULL q_exact/abs_error).
    *
    * Determinism: the md5-mantissa draw is the [[Kmv]] convention;
    * sample membership is the total order (draw, value); percentile
    * interpolation is the closest-ranks rule both engines share.
    */
  def hashSampleQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      k: Int = 1024, ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      withExact: Boolean = true, maxExactRows: Long = 10000000L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"percentiles must lie in (0,1), got $ps")
    val psSql = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val base = df.filter(col(valueCol).isNotNull)
      .select(Kmv.hash48(col(keyCol).cast("string")).as("h"),
        col(valueCol).cast("double").as("v"))
    val sample = base.orderBy(col("h"), col("v")).limit(k)
      .agg(count(lit(1)).as("n_sample"),
        expr(s"percentile(v, $psSql)").as("q_est"))
    val exactSide =
      if (withExact)
        Partitioning.requireSampleScale(base,
          "Sampling.hashSampleQuantiles(withExact=true)", maxExactRows)
          .agg(count(lit(1)).as("n_rows"),
            expr(s"percentile(v, $psSql)").as("q_exact"))
      else base.agg(count(lit(1)).as("n_rows"))
        .select(col("n_rows"),
          lit(null).cast("array<double>").as("q_exact"))
    val pArr = array(ps.map(lit): _*)
    def at(c: String) = element_at(col(c), col("pos") + 1)
    sample.crossJoin(broadcast(exactSide))
      .select(col("n_sample"), col("n_rows"), col("q_est"), col("q_exact"),
        posexplode(pArr))
      .select(col("col").as("p"),
        round(at("q_est"), 6).as("q_est"),
        round(at("q_exact"), 6).as("q_exact"),
        round(abs(at("q_est") - at("q_exact")), 6).as("abs_error"),
        col("n_sample"), col("n_rows"))
      .orderBy(col("p"))
  }

  /** Per-GROUP quantile estimation from bounded hash samples — the
    * grouped form of [[hashSampleQuantiles]]: each group keeps only
    * its k smallest-draw rows, so per-group sample state is k rows
    * however large the group (exact grouped `percentile` state is the
    * whole group). The cut is a rank filter over a window WITH a
    * partition key — Spark plans it as WindowGroupLimit, a map-side
    * per-partition top-k BEFORE the exchange (spec-pinned), so the
    * shuffle carries at most k rows per group per input partition,
    * never the group's raw rows.
    *
    * The exact side is the evaluator's capped comparison pass
    * ([[Partitioning.requireSampleScale]]); `withExact = false` is
    * the production path (NULL q_exact/abs_error).
    */
  def groupHashSampleQuantiles(df: DataFrame, groupCol: String,
      keyCol: String, valueCol: String, k: Int = 256,
      ps: Seq[Double] = Seq(0.5, 0.9),
      withExact: Boolean = true, maxExactRows: Long = 10000000L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"percentiles must lie in (0,1), got $ps")
    import org.apache.spark.sql.expressions.Window
    val psSql = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        Kmv.hash48(col(keyCol).cast("string")).as("h"),
        col(valueCol).cast("double").as("v"))
    val sample = base
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"), col("v"))))
      .filter(col("__rn") <= k)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_sample"),
        expr(s"percentile(v, $psSql)").as("q_est"))
    val exactSide =
      if (withExact)
        Partitioning.requireSampleScale(base,
          "Sampling.groupHashSampleQuantiles(withExact=true)", maxExactRows)
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n_rows"),
            expr(s"percentile(v, $psSql)").as("q_exact"))
      else base.groupBy(col("grp")).agg(count(lit(1)).as("n_rows"))
        .select(col("grp"), col("n_rows"),
          lit(null).cast("array<double>").as("q_exact"))
    val pArr = array(ps.map(lit): _*)
    def at(c: String) = element_at(col(c), col("pos") + 1)
    sample.join(exactSide, "grp")
      .select(col("grp"), col("n_sample"), col("n_rows"),
        col("q_est"), col("q_exact"), posexplode(pArr))
      .select(col("grp"), col("col").as("p"),
        round(at("q_est"), 6).as("q_est"),
        round(at("q_exact"), 6).as("q_exact"),
        round(abs(at("q_est") - at("q_exact")), 6).as("abs_error"),
        col("n_sample"), col("n_rows"))
      .orderBy(col("grp"), col("p"))
  }
}
