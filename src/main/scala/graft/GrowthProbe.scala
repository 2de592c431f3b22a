package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._

/** Growth-ratio probe: times the headline sub-quadratic operator paths
  * at n and 2n documents and prints t(2n)/t(n) — the direct measurement
  * behind the "would this survive a 100× scale-up" question (a
  * sub-quadratic path should stay well under ~3× when data doubles;
  * quadratic collapse shows up as ≥4×). Uses the [[ScaleProbe]] corpus
  * (regenerating it if needed); each timing is the best of two runs to
  * damp sandbox noise. Not part of the driver contract.
  */
object GrowthProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/tmp/scale_probe"
    ScaleProbe.ensureCorpus(spark, dir)
    val full = spark.read.parquet(s"$dir/documents.parquet")       // 100k docs
    val half = full.filter(col("doc_id") % 2 === 0)                // 50k docs
    def bestOf2(f: => Long): Double = {
      // clear BEFORE EVERY run: operators register internal caches and a
      // second identical plan would read the first run's InMemoryRelation
      // — min(cold, warm) would silently time the warm path
      def once = {
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    // `only:<name>` args: re-run a single flagged probe to separate
    // co-tenant noise from a real regression without the full 25-minute
    // sweep. Honored by every named probe family (document, embedding,
    // event, relational axes and the inline ngram/hybrid blocks);
    // shared setup (corpus generation, PQ/centroid fits) still runs.
    val onlyNames = args.filter(_.startsWith("only:")).map(_.drop(5)).toSet
    def skipProbe(name: String): Boolean =
      onlyNames.nonEmpty && !onlyNames.contains(name)
    def probe(name: String)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
      if (skipProbe(name)) return
      val tH = bestOf2(f(half))
      val tF = bestOf2(f(full))
      val r = tF / tH
      println(f"$tH%7.2f  $tF%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}$name")
    }
    // `ngram2x` arg: skip the standard 50k→100k probes and run only the
    // 100k→200k ngram doubling (it alone takes minutes)
    val only2x = args.contains("ngram2x")
    if (!only2x) {
    println("   t(n)   t(2n)  (n=50k docs, 2n=100k; best of 2, cold cache)")
    probe("minhash_lsh")(d => Dedup.minhashLshPairs(d, 0.5).count())
    probe("simhash_pairs")(d => Dedup.simhashPairs(d, 3).count())
    // the probe corpus is adversarial for pair OUTPUT (copies per dup
    // group double with n, so pairs grow ~4.2x across the doubling) —
    // a raw time ratio under ~4.2 is impossible for a correct
    // algorithm; report time-per-emitted-pair like the 200k section
    if (!skipProbe("ngram_jaccard")) locally {
      var pH = 0L; var pF = 0L
      val tH = bestOf2 { pH = Dedup.ngramJaccardPairs(half, 0.9).count(); pH }
      val tF = bestOf2 { pF = Dedup.ngramJaccardPairs(full, 0.9).count(); pF }
      val norm = (tF / pF.max(1L)) / (tH / pH.max(1L))
      println(f"$tH%7.2f  $tF%7.2f  raw=${tF / tH}%5.2f  pairs: $pH%,d → $pF%,d (${pF.toDouble / pH}%4.2fx)  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}ngram_jaccard prefix-exact")
    }
    // containment: the dup-group copies contain each other near-fully,
    // so pair output quadruples like the other pair probes — per-pair
    // is the honest number; the risk probed is the prefix × FULL-index
    // candidate join (heavier than Jaccard's prefix × prefix)
    if (!skipProbe("containment")) locally {
      // the dup-adversarial corpus deliberately floods prefixes with
      // shared dup-group shingles — the probe raises the join-mass gate
      // knowingly (its documented calibration escape hatch) to measure
      // the candidate join the gate protects production runs from.
      // Threshold 0.9 = the graded query's. 0.8 was measured once and
      // retired: on THIS corpus it puts 1.3e8 (100k) / 5.3e8 (200k)
      // candidate rows through the join — the production gate refuses
      // both at its 1e8 default, and the 200k run exhausted a 252 GB
      // disk in spills; a lane the operator's own guard classifies as
      // misuse measures the misuse, not the operator
      var pH = 0L; var pF = 0L
      val tH = bestOf2 { pH = Dedup.containmentPairs(half, 0.9,
        maxJoinMass = 4000000000L).count(); pH }
      val tF = bestOf2 { pF = Dedup.containmentPairs(full, 0.9,
        maxJoinMass = 4000000000L).count(); pF }
      val norm = (tF / pF.max(1L)) / (tH / pH.max(1L))
      println(f"$tH%7.2f  $tF%7.2f  raw=${tF / tH}%5.2f  pairs: $pH%,d → $pF%,d (${pF.toDouble / pH.max(1L)}%4.2fx)  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}containment prefix-exact")
    }
    probe("span_dedup")(d => Dedup.spanDedup(d, 8).count())
    probe("sorted_neighborhood")(d => Dedup.sortedNeighborhoodPairs(d,
      t => element_at(split(trim(t), "\\s+"), 1), t => trim(t),
      window = 6, threshold = 0.5).count())
    probe("novelty")(d => TextAnalysis.noveltyScores(d).count())
    probe("quality_flags")(d => TextAnalysis.qualityFlags(d).count())
    probe("char_entropy")(d => TextAnalysis.charEntropy(d).count())
    probe("readability")(d => TextAnalysis.readability(d).count())
    probe("heavy_hitters")(d => HeavyHitters.topTokens(d, 20, 4096).count())
    probe("cms_estimate")(d => CountMin.estimates(d,
      Seq("join", "hash", "vector", "data", "merge", "absent")).count())
    probe("key_skew")(d => HeavyHitters.keySkew(d, "lang", 5).count())
    // self-generating idf-cosine: the work driver is the co-occurrence
    // mass Σ_shingle C(df,2) (no threshold to prefix-prune against —
    // see the operator's scaladoc), and the probe corpus quadruples
    // that mass per doubling by design (dup-group copies double), so
    // the honest measurement is time per unit of mass — the corpus-
    // scale path is lshCandidates |> idfCosineRank, probed below
    if (!skipProbe("idf_cosine_pairs")) locally {
      // integral `div` keeps the sum a LongType fold — Spark's `/` on
      // longs is Double division and getLong would ClassCastException
      def mass(d: org.apache.spark.sql.DataFrame): Long =
        Dedup.shingles(d).groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .agg(sum(expr("df * (df - 1) div 2"))).head().getLong(0)
      val mH = mass(half); val mF = mass(full)
      // the dup-adversarial corpus sits deliberately ABOVE the default
      // maxPairMass gate (5.6e8 at 100k docs vs the 1e8 default) — the
      // probe raises the cap knowingly, which is the gate's documented
      // calibration escape hatch
      val tH = bestOf2(Dedup.idfCosinePairs(half, 50, maxPairMass = 4000000000L).count())
      val tF = bestOf2(Dedup.idfCosinePairs(full, 50, maxPairMass = 4000000000L).count())
      val norm = (tF / mF) / (tH / mH)
      println(f"$tH%7.2f  $tF%7.2f  raw=${tF / tH}%5.2f  mass: $mH%,d → $mF%,d (${mF.toDouble / mH}%4.2fx)  per-mass ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}idf_cosine_pairs (co-occurrence-mass normalized)")
    }
    if (!skipProbe("idf_cosine_rank")) locally {
      var pH = 0L; var pF = 0L
      val tH = bestOf2 { pH = Dedup.idfCosineRank(half, Dedup.lshCandidates(half)).count(); pH }
      val tF = bestOf2 { pF = Dedup.idfCosineRank(full, Dedup.lshCandidates(full)).count(); pF }
      // max(1L): zero LSH candidates at either size would make the
      // per-candidate normalization NaN/Inf and poison the verdict
      val norm = (tF / pF.max(1L)) / (tH / pH.max(1L))
      println(f"$tH%7.2f  $tF%7.2f  raw=${tF / tH}%5.2f  cands: $pH%,d → $pF%,d (${pF.toDouble / pH}%4.2fx)  per-candidate ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}idf_cosine_rank (LSH-proposed)")
    }
    probe("grouped_jaccard")(d =>
      Kmv.groupedJaccard(
        d.select(col("source"), explode(TextAnalysis.words(col("text"))).as("w")),
        "source", "w", 256).count())
    probe("profile_drift")(d =>
      Monitor.profileDrift(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0))
        .count())
    if (!skipProbe("cross_corpus_pairs")) locally {
      var pH = 0L; var pF = 0L
      // split on doc_id % 4 halves, NOT % 2: the probe's `half` frame
      // is already the even-id slice, so a % 2 split would leave the
      // benchmark side empty and probe nothing
      def run(d: org.apache.spark.sql.DataFrame) = Dedup.crossCorpusPairs(
        d.filter(col("doc_id") % 4 < 2),
        d.filter(col("doc_id") % 4 >= 2), 0.5).count()
      val tH = bestOf2 { pH = run(half); pH }
      val tF = bestOf2 { pF = run(full); pF }
      val norm = (tF / pF.max(1L)) / (tH / pH.max(1L))
      println(f"$tH%7.2f  $tF%7.2f  raw=${tF / tH}%5.2f  pairs: $pH%,d → $pF%,d  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}cross_corpus_pairs (pair output quadruples by corpus design)")
    }
    probe("join_size_estimate")(d =>
      CountMin.joinSizeEstimate(d, "source", d, "source").count())
    probe("bootstrap_ci")(d =>
      Bootstrap.meanCi(d, "doc_id", "n_chars", reps = 50).count())
    probe("bootstrap_diff_ci")(d =>
      Bootstrap.diffCi(d, "doc_id", "n_chars", "lang", "en", "fr",
        reps = 50).count())
    probe("distinct_estimate")(d =>
      Kmv.distinctValues(d, "doc_id", 256).count())
    probe("quantile_estimate")(d =>
      Sampling.hashSampleQuantiles(d, "doc_id", "n_chars", 256,
        maxExactRows = 10000000L).count())
    probe("group_quantile_estimate")(d =>
      Sampling.groupHashSampleQuantiles(d, "source", "doc_id", "n_chars",
        64, maxExactRows = 10000000L).count())
    probe("audience_overlap_estimate")(d =>
      Kmv.overlapEstimate(d.filter(col("doc_id") % 3 === 0), "doc_id",
        d.filter(col("doc_id") % 2 === 0), "doc_id", 256).count())
    probe("mutual_information")(d =>
      Monitor.mutualInformation(d, col("lang"), col("source")).count())
    probe("psi_drift")(d => Monitor.psi(
      d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1), "n_chars", bins = 10).count())
    probe("drift_ks")(d => QualityModel.ksStatistic(
      d.select(col("n_chars").cast("double").as("quality"),
        (col("doc_id") % 2 === 0).cast("long").as("label"))).count())
    probe("pack_windows")(d => Packing.packWindows(d, 512, 64).count())
    probe("token_budget")(d => Sampling.tokenBudgetSummary(d,
      Map("src0" -> 8000L), 10000L, numShards = 64).count())
    probe("doc_repetition")(d => TextAnalysis.repetitionSignals(d).count())
    probe("ngram_diversity")(d => TextAnalysis.ngramDiversity(d, 2).count())
    probe("zipf_alpha")(d => TextAnalysis.zipfAlpha(d, 500).count())
    probe("source_overlap")(d => TextAnalysis.sourceOverlap(d).count())
    probe("boilerplate_removal")(d => TextAnalysis.removeBoilerplate(d).count())
    probe("dsir_weights")(d => Sampling.dsirWeights(d).count())
    probe("normalized_dedup")(d => TextAnalysis.normalizedDedup(d).count())
    probe("bigram_lm")(d => TextAnalysis.bigramLm(d).count())
    // classifier evaluation: ONE sample-capped fit shared across both
    // sizes (the pqModel discipline — fit cost is constant in n by
    // design; scoring + the rank statistic are the paths that must
    // stay linear). The probe corpus has no lang column — label by
    // doc_id parity, which exercises the identical plan.
    locally {
      val w = QualityModel.fit(
        spark.read.parquet(s"$dir/documents.parquet")
          .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("xx")))
      probe("classifier_auc")(d => QualityModel.rocAuc(
        QualityModel.score(d, w).join(
          d.select(col("doc_id"), (col("doc_id") % 2 === 0).cast("long").as("label")),
          Seq("doc_id"))).count())
      probe("classifier_ks")(d => QualityModel.ksStatistic(
        QualityModel.score(d, w).join(
          d.select(col("doc_id"), (col("doc_id") % 2 === 0).cast("long").as("label")),
          Seq("doc_id"))).count())
    }
    probe("curriculum_order")(d => Sampling.curriculumOrder(
      d.withColumn("n_chars", length(col("text"))), limit = 200).count())
    // r8 session-3 text/sampling newcomers: PMI and JSD are vocab-
    // bounded aggregations (growth must track the two count scans);
    // weighted sampling is a stateless score + top-k
    probe("collocations_pmi")(d => TextAnalysis.pmiCollocations(d).count())
    probe("bm25_ndcg")(d => TextAnalysis.bm25Ndcg(d,
      Seq("query", "fast", "merge"), 10).count())
    probe("source_divergence")(d => TextAnalysis.sourceJsDivergence(d).count())
    probe("weighted_sample")(d => Sampling.weightedSample(
      d.withColumn("n_chars", length(col("text"))),
      col("doc_id"), col("n_chars"), 50).count())
    probe("rater_agreement")(d => Experiment.cohensKappa(d,
      length(col("text")) >= 300,
      size(TextAnalysis.words(col("text"))) >= 55).count())
    probe("langid_confusion")(d => {
      // probe corpus has no lang column — parity proxy exercises the
      // identical plan (score + join + bounded confusion aggregate)
      val withLang = d.withColumn("lang",
        when(col("doc_id") % 2 === 0, "en").otherwise("xx"))
      val preds = TextAnalysis.langId(withLang)
        .select(col("doc_id"), col("pred_lang"))
      withLang.select(col("doc_id"), col("lang")).join(preds, "doc_id")
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        .count()
    })
    probe("ivm_source_stats")(d => {
      val dd = d.withColumn("n_chars", length(col("text")))
      Ivm.read(Ivm.merge(
        Ivm.aggState(dd.filter(col("doc_id") % 3 =!= 0), col("source"), col("n_chars")),
        Ivm.aggState(dd.filter(col("doc_id") % 3 === 0), col("source"), col("n_chars"))))
        .count()
    })
    // r8 newcomers. Output caveat (the ngram lesson): the probe corpus's
    // dup groups double in SIZE with n, so LSH candidate PAIRS grow ~4×
    // across the doubling — both probes below are output-bound, so the
    // meaningful number is time per emitted candidate pair.
    locally {
      def pairNormalized(name: String)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
        if (skipProbe(name)) return
        var pH = 0L; var pF = 0L
        val tH = bestOf2 { pH = f(half); pH }
        val tF = bestOf2 { pF = f(full); pF }
        val norm = (tF / pF) / (tH / pH)
        println(f"$tH%7.2f  $tF%7.2f  raw=${tF / tH}%5.2f  pairs: $pH%,d → $pF%,d  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}$name")
      }
      pairNormalized("minhash_estimate_error")(d =>
        Dedup.minhashEstimateError(d).count())
      // leakage split output is linear (one row per doc) but its input
      // pair graph is the ~4×-growing LSH candidate set — normalize on
      // the graph edges the componentization actually pays for
      pairNormalized("leakage_safe_split (per-edge)")(d => {
        val pairs = Dedup.minhashLshPairs(d, 0.5)
        Sampling.leakageSafeSplit(d, Dedup.dupGroups(pairs)).count()
        pairs.count()
      })
      // keep-best rides the same ~4×-growing pair graph; normalize
      // on the edges the componentization pays for
      pairNormalized("dedup_keep_best (per-edge)")(d => {
        val pairs = Dedup.minhashLshPairs(d, 0.5)
        Dedup.keepBest(d.withColumn("n_chars", length(col("text"))),
          Dedup.dupGroups(pairs), col("n_chars")).count()
        pairs.count()
      })
      pairNormalized("dup_evidence (per-pair)")(d =>
        Dedup.dupEvidence(d, 0.5).count())
    }
    probe("corpus_diff")(d => {
      // the contract query's snapshot construction: %7 removed, %5
      // survivors changed — both sides scale with n, the digest join is
      // the growth-bearing path
      val nw = d.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      CorpusPipeline.snapshotDiff(d, nw).count()
    })
    probe("doclen_outliers")(d => Monitor.robustOutliers(
      d.select(col("doc_id"), size(TextAnalysis.words(col("text"))).as("n_words")),
      "doc_id", "n_words").count())
    // the privacy release-gate pair's second half (r8 landed it after
    // the last probe run): two-level distinct collapse to the class
    // frame, then the l histogram over that bounded frame — growth
    // must track the distinct pass, not the histogram
    probe("l_diversity")(d => Monitor.lDiversity(d, Seq("source", "lang"),
      floor(col("n_chars") / lit(100)).cast("long")).count())
    probe("t_closeness")(d => Monitor.tCloseness(d, Seq("source", "lang"),
      floor(col("n_chars") / lit(100)).cast("long")).count())
    probe("fuzzy_match")(d => {
      // production shape: FIXED 10k-name catalog, dirty stream grows
      // with n — cost must stay linear in the stream (block-bounded
      // candidates against a constant catalog)
      val m = pmod(col("doc_id"), lit(10000L))
      val clean = concat(lit("part"), m.cast("string"),
        lit(" grp"), pmod(m, lit(499L)).cast("string"))
      val catalog = d.sparkSession.range(10000)
        .select(concat(lit("part"), col("id").cast("string"),
          lit(" grp"), pmod(col("id"), lit(499L)).cast("string")).as("name"))
      val dirty = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("x"), substring(clean, 2, 100000))).otherwise(clean).as("name"))
      Joins.fuzzyMatch(dirty, catalog, "doc_id",
        n => element_at(split(n, " "), -1), maxDist = 1).count()
    })
    probe("fuzzy_match_jw")(d => {
      // same production shape, JW-scored: fixed catalog, growing dirty
      // stream, block-bounded candidates
      val m = pmod(col("doc_id"), lit(10000L))
      val clean = concat(lit("part"), m.cast("string"),
        lit(" grp"), pmod(m, lit(499L)).cast("string"))
      val catalog = d.sparkSession.range(10000)
        .select(concat(lit("part"), col("id").cast("string"),
          lit(" grp"), pmod(col("id"), lit(499L)).cast("string")).as("name"))
      val dirty = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("x"), substring(clean, 2, 100000))).otherwise(clean).as("name"))
      Joins.fuzzyMatchJw(dirty, catalog, "doc_id",
        n => element_at(split(n, " "), -1), minSim = 0.88).count()
    })
    // embedding-side probes (20k → 40k vectors). PQ reuses ONE model fit
    // on the full corpus for both sizes: fit cost is constant in n
    // (sample-capped), so timing it would add a constant that flattens
    // the very ratio being measured; encode and the ADC scan are the
    // paths that must stay linear.
    locally {
      val embFull = spark.read.parquet(s"$dir/embeddings.parquet")
      val embHalf = embFull.filter(col("vec_id") % 2 === 0)
      def probeEmb(name: String)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
        if (skipProbe(name)) return
        val tH = bestOf2(f(embHalf))
        val tF = bestOf2(f(embFull))
        val r = tF / tH
        println(f"$tH%7.2f  $tF%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}$name")
      }
      probeEmb("embedding_dispersion")(d =>
        Clustering.embeddingDispersion(d, "label").count())
      val pqModel = Pq.fit(embFull, dim = 64)
      val q = embFull.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      probeEmb("pq_encode")(d => Pq.encode(d, pqModel).count())
      probeEmb("pq_adc_topk")(d =>
        Pq.adcTopK(Pq.encode(d, pqModel), pqModel, q, topK = 10).count())
      // IVF·PQ: coarse centers fit ONCE on the full corpus (sample-capped
      // constant, same reasoning as the shared pqModel); per-size work is
      // assignment + encode + probe-pruned ADC — the linear paths
      locally {
        import spark.implicits._
        val centers = KMeansIndex.fitCenters(embFull, 8)
        val centroids = centers.zipWithIndex.toSeq
          .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
        probeEmb("ann_ivfpq_topk") { d =>
          val encoded = d.select(col("vec_id"),
            KMeansIndex.cellExpr(col("embedding"), centers).as("cell"),
            Pq.packedCodeExpr(col("embedding"), pqModel).as("pq_code"))
          Pq.ivfAdcTopK(encoded, centroids, pqModel, q, topK = 10, nProbe = 3).count()
        }
      }
      probeEmb("search_hamming_rerank") { d =>
        val qf = q.map(_.toFloat)
        Search.hammingRerank(d, qf, candidates = 50, topK = 10).count()
      }
      // SemDeDup's cost law is Σ|cell|²: at fixed k a doubling quadruples
      // within-cell pairs BY DESIGN, so the scale posture (and this
      // probe) grows k with n to hold expected cell size constant — the
      // way a 100 TB run would provision its coarse quantizer
      probeEmb("semdedup (k ∝ n)") { d =>
        val k = math.max(8, (d.count() / 2500L).toInt)
        Dedup.semDedup(KMeansIndex.build(d, k = k), Dedup.semDedupThreshold).count()
      }
      // the r8 operating-point sweep: one plan, 5 probe arms — the
      // single-scoring design means growth tracks the candidate scan,
      // not (arms × candidates)
      probeEmb("ann_recall_curve") { d =>
        val idx = KMeansIndex.build(d, k = 8)
        val queries = d.filter(col("vec_id") < 160) // 5 per replica block
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        KMeansIndex.recallCurve(idx, queries, topK = 10,
          probes = Seq(1, 2, 4, 8, 16)).count()
      }
      probeEmb("embedding_quantize_codes")(d =>
        d.select(col("vec_id"), col("embedding"),
            graft.functions.VectorOps.absMax(col("embedding")).as("raw_scale"))
          .select(col("vec_id"),
            posexplode(graft.functions.VectorOps.quantizeInt8(
              col("embedding"), col("raw_scale"))))
          .count())
      // hybrid retrieval: BOTH retriever arms scale together (docs for
      // BM25, vectors for cosine); the RRF fusion itself runs on two
      // 10-row lists — growth must come only from the retrievers
      if (!skipProbe("hybrid_search_rrf")) locally {
        import org.apache.spark.sql.expressions.Window
        def hybrid(d: org.apache.spark.sql.DataFrame,
            e: org.apache.spark.sql.DataFrame): Long = {
          val lex = TextAnalysis.bm25TopDocs(d, Seq("query", "fast", "merge"), 10)
            .select(col("doc_id").as("id"),
              row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
                .as("rank"))
          val vec = Search.topK(e, "cosine", 10)
            .select(col("vec_id").as("id"),
              row_number().over(Window.orderBy(col("score").desc, col("vec_id")))
                .as("rank"))
          Search.rrfFuse(lex, vec, 60, 10).count()
        }
        val tH = bestOf2(hybrid(half, embHalf))
        val tF = bestOf2(hybrid(full, embFull))
        val r = tF / tH
        println(f"$tH%7.2f  $tF%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}hybrid_search_rrf")
      }
    }
    // event-family probes (10k → 20k users; per-user streams identical
    // across replicas, so growth is purely the user axis — the axis
    // sessionization/funnel/rolling-window ops must stay linear in)
    locally {
      ScaleProbe.ensureEvents(spark, dir)
      val evFull = sources.Tables.events(spark, dir)
      val evHalf = evFull.filter(col("user_id") % 2 === 0)
      def probeEv(name: String)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
        if (skipProbe(name)) return
        val tH = bestOf2(f(evHalf))
        val tF = bestOf2(f(evFull))
        val r = tF / tH
        println(f"$tH%7.2f  $tF%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}$name")
      }
      probeEv("session_paths")(d => Funnel.sessionPaths(d, 1800L, 3, 20).count())
      probeEv("active_users_7d")(d => Funnel.rollingActiveUsers(d, 7).count())
      probeEv("event_funnel")(d => Funnel.funnel(d).count())
      probeEv("funnel_wilson")(d => Funnel.funnelWilson(d).count())
      // day-domain series diagnostics: cost is the daily map-side
      // count; everything downstream is calendar-bounded
      probeEv("cusum_changepoint")(d => Timeseries.cusumChangepoint(d).count())
      probeEv("theilsen_trend")(d => Timeseries.theilSenTrend(d).count())
      probeEv("seasonality_strength")(d =>
        Timeseries.seasonalityStrength(d).count())
      probeEv("forecast_eval")(d => Timeseries.seasonalNaiveEval(d, 7).count())
      probeEv("rolling_anomaly")(d => Timeseries.rollingAnomaly(d).count())
      probeEv("events_anomaly")(d => Monitor.hourlyAnomaly(d).count())
      probeEv("dq_freshness")(d => DataQuality.freshness(d, col("event_type"),
        col("ts"), "2024-02-01 00:00:00", maxLagSeconds = 604800L).count())
      probeEv("benford_digits")(d =>
        DataQuality.benfordTest(d, col("value")).count())
      probeEv("value_winsorize")(d => DataQuality.winsorize(d,
        col("event_type"), col("value")).count())
      probeEv("equidepth_histogram")(d =>
        Monitor.equidepthHistogram(d, "value", 10).count())
      probeEv("markov_accuracy")(d =>
        Funnel.markovAccuracy(d, 1800L).count())
      probeEv("join_advisor")(d => Joins.joinAdvisor(d, "user_id",
        d.sparkSession.range(1000)
          .select(col("id").as("user_id"), lit("x").as("nm")),
        "user_id").count())
      probeEv("calendar_gaps")(d => DataQuality.calendarGaps(
        d.filter(dayofmonth(col("ts")) % 7 =!= 3),
        col("event_type"), col("ts")).count())
      probeEv("bh_fdr")(d => {
        val tests = Experiment.metricZTests(
          d.filter(col("value").isNotNull),
          col("event_type"), col("value"), col("user_id") % 2 === 0)
        Experiment.bhAdjust(tests.select(col("metric"), col("p")),
          "metric", "p", 0.05).count()
      })
      // subquery-decorrelation probes: 20× orders/lineitem replicated
      // on the ORDER axis (parts fixed), halved by orderkey parity so
      // both sides stay key-aligned. The decorrelated shapes must be
      // linear in the order/lineitem stream.
      locally {
        ScaleProbe.ensureRelational(spark, dir)
        val liFull = spark.read.parquet(s"$dir/lineitem.parquet")
        val ordFull = spark.read.parquet(s"$dir/orders.parquet")
        val part = spark.read.parquet(s"$dir/part.parquet")
        val liHalf = liFull.filter(pmod(col("l_orderkey"), lit(2)) === 0)
        val ordHalf = ordFull.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        def probeRel(name: String)(
            f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => Long): Unit = {
          if (skipProbe(name)) return
          val tH = bestOf2(f(ordHalf, liHalf))
          val tF = bestOf2(f(ordFull, liFull))
          val r = tF / tH
          println(f"$tH%7.2f  $tF%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}$name")
        }
        probeRel("q4_exists_semi")((ord, li) =>
          ord.filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date"))
            .filter(col("o_orderdate").cast("date") < lit("1996-07-01").cast("date"))
            .join(li.filter(col("l_quantity") > 45.0),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
            .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
            .count())
        probeRel("q17_scalar_subquery")((_, li) => {
          val thr = li.groupBy(col("l_partkey").as("t_partkey"))
            .agg((lit(0.2) * avg(col("l_quantity"))).as("thr"))
          li.join(part.filter(col("p_brand") === "Brand#1" && col("p_size") <= 10),
              col("p_partkey") === col("l_partkey"))
            .join(thr, col("l_partkey") === col("t_partkey"))
            .filter(col("l_quantity") < col("thr"))
            .agg(count(lit(1)).as("n")).count()
        })
        // r8 session-3 subquery shapes: argmin join, IN-over-HAVING
        // semi join, nested IN — all must track the lineitem stream
        probeRel("q2_argmin")((_, li) => {
          val mins = li.groupBy(col("l_partkey").as("m_partkey"))
            .agg(min(col("l_extendedprice")).as("m_price"))
          li.join(part.filter(col("p_brand") === "Brand#2"),
              col("p_partkey") === col("l_partkey"))
            .join(mins, col("l_partkey") === col("m_partkey"))
            .filter(col("l_extendedprice") === col("m_price"))
            .count()
        })
        probeRel("q18_in_having")((ord, li) => {
          val big = li.groupBy(col("l_orderkey").as("b_orderkey"))
            .agg(sum(col("l_quantity")).as("b_qty"))
            .filter(col("b_qty") > 200.0)
          ord.join(big, col("o_orderkey") === col("b_orderkey"), "left_semi")
            .join(li, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
            .count()
        })
        probeRel("basket_lift")((_, li) => {
          val baskets = li.join(broadcast(part.select(col("p_partkey"), col("p_type"))),
            col("p_partkey") === col("l_partkey"))
          Association.basketLift(baskets, col("l_orderkey"), col("p_type")).count()
        })
        probeRel("q15_argmax")((_, li) => {
          val rev = li
            .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date"))
            .filter(col("l_shipdate").cast("date") < lit("1997-04-01").cast("date"))
            .groupBy(col("l_suppkey"))
            .agg(sum(col("l_extendedprice")).as("r"))
          val mx = rev.agg(max(col("r")).as("mx"))
          rev.crossJoin(broadcast(mx)).filter(col("r") === col("mx")).count()
        })
        probeRel("q20_nested_in")((_, li) => {
          val widget = part.filter(col("p_name").like("%widget"))
          li.join(broadcast(widget.select(col("p_partkey"))),
              col("l_partkey") === col("p_partkey"), "left_semi")
            .groupBy(col("l_suppkey"))
            .agg(sum(col("l_quantity")).as("tot"))
            .filter(col("tot") > 2000.0)
            .count()
        })
        // Q21 double subquery: BOTH decorrelated arms are lineitem
        // self-joins on the order key — the shape must track the
        // stream, not re-probe per row
        probeRel("q21_double_subquery")((_, li) => {
          val l1 = li.filter(col("l_returnflag") === "R")
          val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
          val othersR = li.filter(col("l_returnflag") === "R")
            .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
          l1.join(others,
              col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
              "left_semi")
            .join(othersR,
              col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
              "left_anti")
            .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n")).count()
        })
        // Q10 head (the other r8-landed-unprobed query): broadcast the
        // fixed dims (customer/nation stay sf0.1-sized — the realistic
        // shape, dims don't grow with the fact stream), filter+join the
        // growing orders/lineitem axis, TakeOrderedAndProject the top-20
        locally {
          val cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
          val nat = spark.read.parquet("/root/testdata/sf0.1/nation.parquet")
          probeRel("q10_returned_customers")((ord, li) =>
            cust.join(nat, col("n_nationkey") === col("c_nationkey"))
              .join(ord
                .filter(col("o_orderdate").cast("date") >= lit("1996-10-01").cast("date"))
                .filter(col("o_orderdate").cast("date") < lit("1997-01-01").cast("date")),
                col("o_custkey") === col("c_custkey"))
              .join(li.filter(col("l_returnflag") === "R"),
                col("l_orderkey") === col("o_orderkey"))
              .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
              .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                .cast("decimal(28,6)")).cast("double").as("revenue"),
                count(lit(1)).as("n_items"))
              .orderBy(col("revenue").desc, col("c_custkey"))
              .limit(20)
              .count())
        }
      }
      // partitioned window frames: RANGE rolling sum + lag + ntile per
      // event_type over the daily series — the windows must parallelize
      // by partition, never collapse to one task
      probeEv("events_rolling")(d => {
        import org.apache.spark.sql.expressions.Window
        val daily = d.select(col("event_type"), to_date(col("ts")).as("day_date"))
          .groupBy(col("event_type"), col("day_date"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("dayn", datediff(col("day_date"), lit("2020-01-01").cast("date")))
        val byDay = Window.partitionBy(col("event_type")).orderBy(col("dayn"))
        daily.select(col("event_type"), col("n_events"),
            sum(col("n_events")).over(byDay.rangeBetween(-6, 0)).as("n_7d"),
            (col("n_events") - coalesce(lag(col("n_events"), 1).over(byDay),
              lit(0L))).as("delta"),
            ntile(4).over(Window.partitionBy(col("event_type"))
              .orderBy(col("n_events"), col("dayn"))).as("q"))
          .count()
      })
      probeEv("attribution_linear")(d => {
        import org.apache.spark.sql.expressions.Window
        val purchases = d.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = d.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
        val touches = Joins.rangeJoinPrior(
          purchases, clicks, "user_id", "ts", "click_ts", gapSeconds = 3600L)
        touches
          .withColumn("n_touches",
            count(lit(1)).over(Window.partitionBy(col("event_id"))))
          .select(concat(lit("campaign_"), col("k") % 4).as("channel"),
            round(col("value") / col("n_touches"), 6).as("credit"))
          .groupBy(col("channel")).agg(count(lit(1)).as("n")).count()
      })
      // r8 session-3 event-family newcomers: the CDC pair is one
      // exchange of windows / one full-outer join; the skyline window
      // runs over the distinct-count domain; A/B is two aggregations;
      // interval overlap is the bucketized equi-join
      probeEv("scd2_history")(d => Cdc.scd2FromLog(d, col("user_id"),
        col("ts"), col("event_type"), col("event_id")).count())
      probeEv("scd2_lookup")(d => {
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        val dim = Cdc.scd2FromLog(d.filter(col("ts") < split),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        Cdc.scd2Lookup(
          d.select(col("user_id").as("key"), col("ts"), col("event_id")),
          dim).count()
      })
      probeEv("scd2_merge")(d => {
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        val cur = Cdc.latestState(d.filter(col("ts") < split), col("user_id"),
            col("ts"), col("event_type"), col("event_id"))
          .select(col("key"), col("state"), col("ts").as("effective_from_ts"))
        val upd = Cdc.latestState(d.filter(col("ts") >= split), col("user_id"),
          col("ts"), col("event_type"), col("event_id"))
        Cdc.scd2Merge(cur, upd).count()
      })
      probeEv("pareto_frontier")(d => Skyline.frontier2d(
        d.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"),
          sum(col("value")).as("total_value")),
        col("n_events"), col("total_value")).count())
      probeEv("ab_test")(d => Experiment.abTest(d, "exp1", "purchase", 15).count())
      probeEv("events_chi2")(d => Experiment.chiSquare(d,
        col("event_type"), dayofweek(col("ts"))).count())
      probeEv("ab_cuped")(d =>
        Experiment.cupedAbTest(d, "exp1", "2024-01-16 00:00:00").count())
      probeEv("survival_churn")(d => {
        val subjects = d.groupBy(col("user_id"))
          .agg(datediff(min(col("ts")).cast("date"),
              lit("2024-01-01").cast("date")).as("first_day"),
            datediff(max(when(col("event_type") === "purchase", col("ts")))
              .cast("date"), lit("2024-01-01").cast("date")).as("lp"))
          .filter(col("lp").isNotNull)
          .select((col("lp") - col("first_day")).cast("long").as("t"),
            (col("lp") < 28).as("event"))
        Survival.kaplanMeier(subjects).count()
      })
      probeEv("session_transitions")(d =>
        Funnel.transitionMatrix(d, 1800L).count())
      probeEv("interval_overlap")(d => {
        val iv = d.filter(col("event_type").isin("view", "click"))
          .groupBy(col("user_id"), col("event_type"),
            session_window(col("ts"), "43200 seconds"))
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        val v = iv.filter(col("event_type") === "view")
          .select(col("user_id"), col("st").as("v_st"), col("en").as("v_en"))
        val c = iv.filter(col("event_type") === "click")
          .select(col("user_id"), col("st").as("c_st"), col("en").as("c_en"))
        Joins.intervalOverlapJoin(v, c, "user_id",
          "v_st", "v_en", "c_st", "c_en", 86400L).count()
      })
      probeEv("attribution_u_shaped")(d =>
        Funnel.uShapedAttribution(d, 3600L).count())
      probeEv("attribution_last_touch")(d => {
        // the contract query's as-of attribution: one ordered-window
        // carry per user — growth is the user axis, like the funnel
        val purchases = d.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = d.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
        Joins.asofJoin(purchases, clicks, "user_id", "ts", "ts", Seq("k"))
          .groupBy(when(col("asof_k").isNull, lit("organic"))
            .otherwise(concat(lit("campaign_"), col("asof_k") % 4)).as("channel"))
          .agg(count(lit(1)).as("n_purchases"))
          .count()
      })
    }
    }
    // `std` arg: run ONLY the standard 50k→100k probes (the 200k ngram
    // doubling below alone takes minutes)
    if (args.contains("std")) { spark.stop(); return }
    // one doubling further for the path nearest the sub-quadratic bound
    // (round-5 ratio 2.10 at 50k→100k): 100k→200k docs. The 2n corpus has
    // 40 near-dup copies per group vs 20, so the pair OUTPUT grows
    // C(40,2)/C(20,2) ≈ 4.1x on the doubling — an output-LINEAR algorithm
    // cannot beat ~4.1x raw here, so the meaningful number is the
    // output-normalized ratio (time per emitted pair at 2n vs n): ≤ ~1.5
    // means candidate generation tracks the pair graph, not n².
    ScaleProbe.ensureDouble(spark, dir)
    val x2 = spark.read.parquet(s"$dir/documents_x2.parquet")
    if (!skipProbe("ngram_jaccard_2x")) locally {
      var p1 = 0L; var p2 = 0L
      val t1 = bestOf2 { p1 = Dedup.ngramJaccardPairs(full, 0.9).count(); p1 }
      val t2 = bestOf2 { p2 = Dedup.ngramJaccardPairs(x2, 0.9).count(); p2 }
      val norm = (t2 / p2.max(1L)) / (t1 / p1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  pairs: $p1%,d → $p2%,d (${p2.toDouble / p1}%4.2fx)  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}ngram_jaccard prefix-exact (n=100k, 2n=200k)")
    }
    // containment's second doubling (round-11 verdict #4): the prefix ×
    // FULL-index join is the heaviest candidate generator on the board,
    // so it gets the same two-doubling record as every other pair
    // family; mass gate raised knowingly as in the 50k→100k lane
    if (!skipProbe("containment_2x")) locally {
      // threshold 0.9 (the graded query's) — see the 50k→100k lane's
      // note for why 0.8 is retired on this corpus
      var p1 = 0L; var p2 = 0L
      val t1 = bestOf2 { p1 = Dedup.containmentPairs(full, 0.9,
        maxJoinMass = 4000000000L).count(); p1 }
      val t2 = bestOf2 { p2 = Dedup.containmentPairs(x2, 0.9,
        maxJoinMass = 4000000000L).count(); p2 }
      val norm = (t2 / p2.max(1L)) / (t1 / p1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  pairs: $p1%,d → $p2%,d (${p2.toDouble / p1.max(1L)}%4.2fx)  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}containment prefix-exact (n=100k, 2n=200k)")
    }
    // the same 100k→200k lane for the round-10 pair families (r10
    // verdict #6): per-unit denominators as in the 50k→100k section
    if (!skipProbe("idf_cosine_rank_2x")) locally {
      var c1 = 0L; var c2 = 0L
      val t1 = bestOf2 { c1 = Dedup.idfCosineRank(full, Dedup.lshCandidates(full)).count(); c1 }
      val t2 = bestOf2 { c2 = Dedup.idfCosineRank(x2, Dedup.lshCandidates(x2)).count(); c2 }
      val norm = (t2 / c2.max(1L)) / (t1 / c1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  cands: $c1%,d → $c2%,d (${c2.toDouble / c1.max(1L)}%4.2fx)  per-candidate ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}idf_cosine_rank (n=100k, 2n=200k)")
    }
    if (!skipProbe("cross_corpus_2x")) locally {
      // %4 split: both corpora interleave train/eval halves (rep spans
      // 0..19 at n, 0..39 at 2n, so % 4 buckets stay balanced)
      def run(d: org.apache.spark.sql.DataFrame) = Dedup.crossCorpusPairs(
        d.filter(col("doc_id") % 4 < 2),
        d.filter(col("doc_id") % 4 >= 2), 0.5).count()
      var p1 = 0L; var p2 = 0L
      val t1 = bestOf2 { p1 = run(full); p1 }
      val t2 = bestOf2 { p2 = run(x2); p2 }
      val norm = (t2 / p2.max(1L)) / (t1 / p1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  pairs: $p1%,d → $p2%,d (${p2.toDouble / p1.max(1L)}%4.2fx)  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}cross_corpus_pairs (n=100k, 2n=200k)")
    }
    // lsh_recall's own doubling record (round-12 verdict #3): it
    // composes the two heaviest candidate generators over ONE shared
    // cached shingle frame, so its raw growth is the SUM of its sides'
    // — the honest denominator is the ground-truth pair count the
    // evaluator itself reports (n_exact; output grows ~4.1x per
    // doubling by corpus design, like every pair lane). Threshold 0.9
    // as in the exact-side lane (0.5 prefixes are half of each doc —
    // a different, far heavier operating point than the graded sf0.1
    // query's corpus presents).
    if (!skipProbe("lsh_recall_2x")) locally {
      var p1 = 0L; var p2 = 0L
      val t1 = bestOf2 {
        p1 = Dedup.lshRecall(full, 0.9).head().getAs[Long]("n_exact"); p1 }
      val t2 = bestOf2 {
        p2 = Dedup.lshRecall(x2, 0.9).head().getAs[Long]("n_exact"); p2 }
      val norm = (t2 / p2.max(1L)) / (t1 / p1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  exact pairs: $p1%,d → $p2%,d (${p2.toDouble / p1.max(1L)}%4.2fx)  per-pair ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}lsh_recall (n=100k, 2n=200k)")
    }
    // the incremental containment gate's doubling: history doubles
    // (the axis a production ingest cares about), the batch stays
    // fixed at ~2.5k docs — the verdict-per-batch-doc cost must track
    // the history-side candidate pairs, not history size
    if (!skipProbe("containment_incremental_2x")) locally {
      def run(hist: org.apache.spark.sql.DataFrame): Long = {
        val batch = full.filter(col("doc_id") % 40 === 0)
          .select(col("doc_id") + 10000000L as "doc_id", col("text"))
        Dedup.containmentGateIncremental(batch,
          hist.filter(col("doc_id") % 40 =!= 0), 0.9,
          maxJoinMass = 4000000000L)
          .agg(sum(col("n_hits"))).head().getLong(0)
      }
      var h1 = 0L; var h2 = 0L
      val t1 = bestOf2 { h1 = run(full); h1 }
      val t2 = bestOf2 { h2 = run(x2); h2 }
      val norm = (t2 / h2.max(1L)) / (t1 / h1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  hits: $h1%,d → $h2%,d (${h2.toDouble / h1.max(1L)}%4.2fx)  per-hit ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}containment_incremental (hist=100k→200k, fixed batch)")
    }
    if (!skipProbe("grouped_jaccard_2x")) locally {
      // the group DOMAIN (source) is constant across the doubling, so
      // the sketch pass must be linear in the exploded word rows — the
      // raw ratio is the honest number here (expect ≈2x)
      def run(d: org.apache.spark.sql.DataFrame) = Kmv.groupedJaccard(
        d.select(col("source"), explode(TextAnalysis.words(col("text"))).as("w")),
        "source", "w", 256).count()
      val t1 = bestOf2(run(full))
      val t2 = bestOf2(run(x2))
      val r = t2 / t1
      println(f"$t1%7.2f  $t2%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}grouped_jaccard (n=100k, 2n=200k; constant group domain)")
    }
    // ---- round-15: doubling lanes for the round-14 newcomers (the
    // r13 precedent: every new pair-family operator gets a 100k→200k
    // lane the round after it lands)
    def icwsRows(d: org.apache.spark.sql.DataFrame) = d
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(TextAnalysis.words(col("text"))).as("w"))
      .filter(col("w") =!= "").withColumn("one", lit(1L))
    // exact weighted containment: constant group domain (source), so
    // the corpus-sized weight aggregate must be linear in token rows —
    // raw ratio ≈2x expected, like grouped_jaccard
    if (!skipProbe("weighted_containment_2x")) locally {
      def run(d: org.apache.spark.sql.DataFrame) =
        Icws.weightedContainment(icwsRows(d), "source", "w", "one").count()
      val t1 = bestOf2(run(full))
      val t2 = bestOf2(run(x2))
      val r = t2 / t1
      println(f"$t1%7.2f  $t2%7.2f  ratio=$r%5.2f  ${if (r > 3.0) "SLOW " else "ok   "}weighted_containment (n=100k, 2n=200k; constant group domain)")
    }
    // persisted ICWS: the PROBE reads the layout's bounded tables only
    // (sketches = groups × k; weights/totals vocabulary-bounded per
    // source), so probe time must grow SLOWER than the corpus — the
    // one-time build carries the corpus-sized pass
    if (!skipProbe("icws_persisted_2x")) locally {
      def buildAndProbe(d: org.apache.spark.sql.DataFrame, path: String) = {
        val tB = bestOf2 {
          Icws.persistSketches(icwsRows(d), "source", "w", "one", path, k = 32); 1L }
        val tP = bestOf2 {
          Icws.weightedJaccardIcwsPersisted(spark, path).count() }
        (tB, tP)
      }
      val (b1, p1) = buildAndProbe(full, "/tmp/growth_icws_100k")
      val (b2, p2) = buildAndProbe(x2, "/tmp/growth_icws_200k")
      println(f"$p1%7.2f  $p2%7.2f  probe ratio=${p2 / p1}%5.2f  (build $b1%.2f → $b2%.2f, ${b2 / b1}%4.2fx)  ${if (p2 / p1 > 3.0) "SLOW " else "ok   "}icws_persisted probe (layout over n=100k vs 2n=200k)")
    }
    // ICWS append economics (round-15, the lane's own doubling check):
    // appending a fixed batch re-aggregates the batch plus the TOUCHED
    // groups' vocabulary-bounded weight view and re-sketches only those
    // groups — with a constant source domain the touched-vocab work is
    // corpus-vocabulary-bounded, so append time must grow far slower
    // than the rebuild, which rightly re-scans the doubled corpus
    if (!skipProbe("icws_append_2x")) locally {
      def run(hist: org.apache.spark.sql.DataFrame, path: String): (Double, Double) = {
        val h = icwsRows(hist.filter(col("doc_id") % 40 =!= 0))
        val batch = icwsRows(full.filter(col("doc_id") % 40 === 0))
        val tRebuild = bestOf2 {
          Icws.persistSketches(h, "source", "w", "one", path, k = 32); 1L }
        val tAppend = bestOf2 {
          Icws.appendSketches(batch, "source", "w", "one", path); 1L }
        (tRebuild, tAppend)
      }
      val (r1, a1) = run(full, "/tmp/growth_icws_app_100k")
      val (r2, a2) = run(x2, "/tmp/growth_icws_app_200k")
      println(f"$a1%7.2f  $a2%7.2f  append ratio=${a2 / a1}%5.2f  (rebuild $r1%.2f → $r2%.2f, ${r2 / r1}%4.2fx)  ${if (a2 / a1 > 3.0) "SLOW " else "ok   "}icws_append fixed batch (hist=100k→200k)")
    }
    // persisted containment gate: layout built+appended ONCE per
    // history size (untimed), then the fixed batch probes it — the
    // per-batch cost a daily ingest actually pays; history text is
    // never rescanned, so growth must track the candidate pairs
    if (!skipProbe("containment_persisted_2x")) locally {
      def run(hist: org.apache.spark.sql.DataFrame, path: String): (Double, Long) = {
        val h = hist.filter(col("doc_id") % 40 =!= 0)
        // build on ~95%, append the rest — the lane exercises the
        // committed view the way production does
        Dedup.persistContainmentIndex(h.filter(col("doc_id") % 20 =!= 1), path)
        Dedup.appendContainmentIndex(h.filter(col("doc_id") % 20 === 1), path)
        val batch = full.filter(col("doc_id") % 40 === 0)
          .select(col("doc_id") + 10000000L as "doc_id", col("text"))
        var hits = 0L
        val t = bestOf2 {
          hits = Dedup.containmentGateIncrementalPersisted(batch, path, 0.9,
            maxJoinMass = 4000000000L)
            .agg(sum(col("n_hits"))).head().getLong(0); hits }
        (t, hits)
      }
      val (t1, h1) = run(full, "/tmp/growth_containment_100k")
      val (t2, h2) = run(x2, "/tmp/growth_containment_200k")
      val norm = (t2 / h2.max(1L)) / (t1 / h1.max(1L))
      println(f"$t1%7.2f  $t2%7.2f  raw=${t2 / t1}%5.2f  hits: $h1%,d → $h2%,d  per-hit ratio=$norm%5.2f  ${if (norm > 1.5) "SLOW " else "ok   "}containment_persisted probe (hist=100k→200k, fixed batch)")
    }
    // the append lane's own economics (round-15): appending a fixed
    // batch to an existing layout must cost ~the batch, not the
    // corpus — vs the full rebuild, which rightly doubles with history
    if (!skipProbe("containment_append_2x")) locally {
      def run(hist: org.apache.spark.sql.DataFrame, path: String): (Double, Double) = {
        val h = hist.filter(col("doc_id") % 40 =!= 0)
        val batch = full.filter(col("doc_id") % 40 === 0)
          .select(col("doc_id") + 20000000L as "doc_id", col("text"))
        val tRebuild = bestOf2 { Dedup.persistContainmentIndex(h, path); 1L }
        val tAppend = bestOf2 { Dedup.appendContainmentIndex(batch, path); 1L }
        (tRebuild, tAppend)
      }
      val (r1, a1) = run(full, "/tmp/growth_capp_100k")
      val (r2, a2) = run(x2, "/tmp/growth_capp_200k")
      println(f"$a1%7.2f  $a2%7.2f  append ratio=${a2 / a1}%5.2f  (rebuild $r1%.2f → $r2%.2f, ${r2 / r1}%4.2fx)  ${if (a2 / a1 > 3.0) "SLOW " else "ok   "}containment_append fixed batch (hist=100k→200k)")
    }
    spark.stop()
  }
}
