package graft.operators

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Learned quality classifier — the CCNet/fastText-filter analogue
  * (Wenzek et al. 2020 train a fastText model on a trusted corpus and
  * keep crawl documents it scores high; DCLM and FineWeb-Edu do the
  * same with stronger models): logistic regression over cheap per-doc
  * quality signals, trained ON THE CORPUS ITSELF against a trusted
  * label (here `lang = 'en'` stands in for "looks like the target
  * corpus", as in [[Sampling.dsirWeights]]).
  *
  * Third member of the dump-and-replay oracle family
  * ([[KMeansIndex]], [[Pca]]): MLlib only FITS the weight vector; the
  * APPLIED model is our own codegen'd left-to-right dot fold plus
  * sigmoid over the dumped doubles — engine-portable (the oracle
  * replays it with `list_dot_product` + `exp` on identical inputs),
  * with no model broadcast at scoring time.
  *
  * Shape at 100 TB: the fit runs on a hash-sampled cap (classifier
  * quality saturates long before corpus size; the gradient passes
  * must not scale with the crawl), scoring is one narrow per-row
  * projection — feature extraction, dot, sigmoid, all inside
  * whole-stage codegen; no shuffle, no UDF.
  *
  * Honesty note: the driver's synthetic corpus assigns `lang`
  * INDEPENDENTLY of the text (marker-word rates are identical across
  * langs), so the contract-query model is near-chance by
  * construction — the contract validates the fit/dump/score machinery
  * and its oracle parity, exactly as the PCA contract validates the
  * projection; QualityModelSpec demonstrates actual separation on a
  * corpus whose label is learnable.
  */
object QualityModel {

  /** Where the fitted weights are dumped so the SQL oracle can replay
    * the scoring (same convention as `KMeansIndex.centroidDumpPath`).
    */
  def weightsDumpPath: String =
    sys.props.getOrElse("graft.quality.dump", "/tmp/graft_oracle_quality_weights")

  /** Rows the fit sees at most — a deterministic hash sample past this
    * (the [[KMeansIndex.build]] discipline: training cost must scale
    * with the MODEL, not the corpus).
    */
  val fitCap: Long = 65536L

  /** The target-language marker list (the [[TextAnalysis.langMarkers]]
    * entry for the fit's proxy label) — the one genuinely predictive
    * feature; the generic signals carry the "quality" shape.
    */
  val targetMarkers: Seq[String] =
    TextAnalysis.langMarkers.toMap.apply("en")

  /** The feature vector, ORDER IS PART OF THE CONTRACT:
    * f0 stopword fraction, f1 type-token ratio, f2 mean word length,
    * f3 ln(1 + n_words), f4 target-marker fraction. Every entry is a
    * ratio of exact integers (or ln of one) — identical IEEE doubles
    * in both engines, so the score fold needs no per-feature
    * quantization.
    */
  def featuresCol: Column = {
    val ws = TextAnalysis.words(col("text"))
    val nW = size(ws).cast("double")
    array(
      size(filter(ws, w => w.isin(TextAnalysis.stopwords: _*))).cast("double") / nW,
      size(array_distinct(ws)).cast("double") / nW,
      aggregate(transform(ws, w => length(w).cast("long")), lit(0L),
        (acc, x) => acc + x).cast("double") / nW,
      log(lit(1.0) + nW),
      size(filter(ws, w => w.isin(targetMarkers: _*))).cast("double") / nW)
  }

  case class Weights(w: Array[Double], intercept: Double)

  /** Process-level model memo (the [[Pq.fitCached]] discipline): the
    * three quality contract queries (score, AUC, calibration) and
    * their bench reps fit the IDENTICAL model — seeded gradient passes
    * over a hash-determined sample of one corpus — so pay the MLlib
    * fit once per (corpus, target, seed), not once per query body.
    */
  private val fitMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long), Weights]

  def fitCached(docs: DataFrame, corpusKey: String,
      targetLang: String = "en", seed: Long = 42L): Weights =
    fitMemo.getOrElseUpdate((corpusKey, targetLang, seed),
      fit(docs, targetLang, seed))

  /** Fit the classifier: label 1.0 where `lang = targetLang`. Returns
    * the weight vector on the ORIGINAL feature scale (MLlib
    * standardizes internally and transforms back).
    */
  def fit(docs: DataFrame, targetLang: String = "en",
      seed: Long = 42L): Weights = {
    val base = Partitioning.spread(docs)
    val n = docs.count()
    val trainRows = if (n <= fitCap) base else {
      val keepPerMille = math.max(1L, fitCap * 1000L / n)
      base.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000L)) < keepPerMille)
    }
    // training scratch, released with the scope
    val model = Scoped(s => new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01).setStandardization(true)
      .fit(s.cache(trainRows.select(
        when(col("lang") === targetLang, 1.0).otherwise(0.0).as("label"),
        array_to_vector(featuresCol).as("features")))))
    Weights(model.coefficients.toArray, model.intercept)
  }

  /** Dump the fitted weights as one (weights, intercept) parquet row. */
  def dumpWeights(spark: org.apache.spark.sql.SparkSession, w: Weights,
      path: String = weightsDumpPath): Unit = {
    import spark.implicits._
    Seq((w.w.toSeq, w.intercept)).toDF("weights", "intercept").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Score every document: quality = sigmoid(w·f + b) rounded at 6 dp,
    * predicted = rounded quality ≥ 0.5 (the comparison reads the SAME
    * rounded value in both engines, so the boundary is deterministic).
    */
  def score(docs: DataFrame, w: Weights): DataFrame = {
    val z = VectorOps.dotProduct(featuresCol, typedLit(w.w.toSeq)) + lit(w.intercept)
    Partitioning.spread(docs)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality"))
      .withColumn("predicted", col("quality") >= 0.5)
      .orderBy(col("doc_id"))
  }

  /** Distributed ROC AUC — the tie-aware Mann-Whitney rank statistic,
    * computed from per-score counts rather than per-row ranks:
    *
    *   AUC = Σ_s nPos(s) · (negBelow(s) + nNeg(s)/2) / (nPos · nNeg)
    *
    * (each positive "beats" every strictly-lower negative and half of
    * the score-tied ones — exactly the average-rank U statistic).
    *
    * Scale shape: the ONE corpus-sized operation is the per-score
    * groupBy (map-side combinable). Because `quality` is rounded at
    * 6 dp by [[score]], the grouped frame is bounded by the score
    * DOMAIN (≤ 10⁶+1 rows) no matter the corpus size — so the
    * unpartitioned cumulative window that follows runs on a bounded
    * input, the usual global-window scale-killer defused by the
    * quantization. The numerator is kept integral (doubled to absorb
    * the /2) and accumulated in DECIMAL(38,0): the fold is
    * order-independent, so the 6-dp AUC is bit-deterministic and the
    * DuckDB oracle replays it exactly.
    *
    * Input: one row per example with `quality` (the 6-dp score) and
    * `label` (1 = positive, 0 = negative). Output: one row
    * (auc, n_pos, n_neg); auc is NULL for a degenerate single-class
    * input (nPos·nNeg = 0), where the statistic is undefined.
    */
  def rocAuc(scored: DataFrame,
      domainLimit: Long = Partitioning.DefaultDomainLimit): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // the 6-dp quantization contract is CHECKED, not trusted: raw
    // continuous scores would silently single-task-sort in the window
    val byScore = Partitioning.requireBoundedDomain(
      scored.groupBy(col("quality"))
        .agg(sum(col("label")).cast("long").as("n_pos"),
          sum(lit(1L) - col("label")).cast("long").as("n_neg")),
      "quality", "QualityModel.rocAuc", domainLimit)
    // negatives with STRICTLY lower score: cumulative sum excluding the
    // current (tied) score row — bounded frame, see scale note above
    val w = Window.orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("neg_below", coalesce(sum(col("n_neg")).over(w), lit(0L)))
      .agg(
        sum((col("n_pos") * (lit(2L) * col("neg_below") + col("n_neg")))
          .cast(DecimalType(38, 0))).as("num2"),
        sum(col("n_pos")).as("np"), sum(col("n_neg")).as("nn"))
      .select(
        when(col("np") > 0L && col("nn") > 0L,
          round(col("num2").cast("double")
            / (lit(2.0) * col("np") * col("nn")), 6)).as("auc"),
        coalesce(col("np"), lit(0L)).as("n_pos"),
        coalesce(col("nn"), lit(0L)).as("n_neg"))
  }

  /** Kolmogorov–Smirnov separation of the classifier: the maximum
    * |CDF_pos(s) − CDF_neg(s)| over score thresholds — "how far apart
    * can one cut push the two classes", the number behind choosing a
    * single filter threshold (AUC integrates over all cuts; KS names
    * the best one's separation). Input/shape contract identical to
    * [[rocAuc]]: (quality, label), per-score counts map-side combine,
    * the cumulative window runs on the CHECKED 6-dp-quantized score
    * domain, and the ratio folds exact integers —
    * |pos_cum·nn − neg_cum·np| in DECIMAL(38,0) over the common
    * denominator — so both engines round the same rational at 6 dp.
    * Output 1 row (ks, n_pos, n_neg); ks is NULL on one-class input.
    */
  def ksStatistic(scored: DataFrame,
      domainLimit: Long = Partitioning.DefaultDomainLimit): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val byScore = Partitioning.requireBoundedDomain(
      scored.groupBy(col("quality"))
        .agg(sum(col("label")).cast("long").as("n_pos"),
          sum(lit(1L) - col("label")).cast("long").as("n_neg")),
      "quality", "QualityModel.ksStatistic", domainLimit)
    val totals = byScore.agg(sum(col("n_pos")).as("np"), sum(col("n_neg")).as("nn"))
    val w = Window.orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byScore
      .withColumn("pos_cum", sum(col("n_pos")).over(w))
      .withColumn("neg_cum", sum(col("n_neg")).over(w))
      .crossJoin(broadcast(totals))
      .agg(
        // cast BEFORE the products: long·long overflows past ~3·10⁹
        // rows per class (the chiSquare row_total lesson)
        max(abs(col("pos_cum").cast(DecimalType(38, 0)) * col("nn")
          - col("neg_cum").cast(DecimalType(38, 0)) * col("np"))).as("num"),
        first(col("np")).as("np"), first(col("nn")).as("nn"))
      .select(
        when(col("np") > 0L && col("nn") > 0L,
          round(col("num").cast("double")
            / (col("np").cast("double") * col("nn")), 6)).as("ks"),
        coalesce(col("np"), lit(0L)).as("n_pos"),
        coalesce(col("nn"), lit(0L)).as("n_neg"))
  }

  /** Percentile rank of every document's quality score — the
    * threshold-free form a mixing pipeline actually consumes ("keep
    * the top 30%" survives a model swap; "keep quality ≥ 0.7" does
    * not). Matches SQL `percent_rank() OVER (ORDER BY quality)`:
    * pctl = (#strictly lower)/(n−1), ties share the rank; NULL for
    * n ≤ 1 where the rank is undefined.
    *
    * Scale shape — the [[rocAuc]] discipline: a naive global
    * percent_rank window is a single-task sort of the corpus; here
    * the per-score counts (one map-side-combinable groupBy) feed a
    * cumulative window over the 6-dp-quantized score DOMAIN
    * (≤ 10⁶+1 rows), and the ranks join back on the score — two
    * bounded steps and one equi-join, no global sort anywhere.
    */
  def percentileRanks(scored: DataFrame,
      domainLimit: Long = Partitioning.DefaultDomainLimit): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Partitioning.requireBoundedDomain(
      scored.groupBy(col("quality")).agg(count(lit(1)).as("cnt")),
      "quality", "QualityModel.percentileRanks", domainLimit)
    val w = Window.orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = byScore
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
    val total = scored.agg(count(lit(1)).as("n_total"))
    scored.join(ranks, Seq("quality"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality"),
        when(col("n_total") > 1L,
          round(col("below") / (col("n_total") - 1L), 6)).as("pctl"))
      .orderBy(col("doc_id"))
  }

  /** Reliability (calibration) bins: per decile of predicted quality,
    * how many documents landed there, the mean predicted quality, and
    * the observed positive fraction — the table behind a reliability
    * diagram, the standard check that a filter's scores can be used as
    * sampling WEIGHTS and not just a ranking.
    *
    * One map-side-combinable groupBy on a 10-value key; the mean is a
    * DECIMAL(18,6) sum of the already-6-dp scores divided by an exact
    * count — order-independent, oracle-replayable. The bin edge uses
    * the IEEE double product `quality * bins` in both engines, so
    * boundary assignment is deterministic even where the product is
    * inexact.
    */
  def calibrationBins(scored: DataFrame, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    scored
      .groupBy(least(floor(col("quality") * bins), lit(bins - 1))
        .cast("int").as("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)), 6).as("mean_quality"),
        round(sum(col("label")).cast("double") / count(lit(1)), 6).as("frac_pos"))
      .orderBy(col("bin"))
  }
}
