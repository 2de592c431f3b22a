package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorOps
import graft.operators.{Ann, Clustering, CorpusPipeline, Dedup, Search, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching ANSI-SQL oracle in `oracleSql`
  * (run by the driver in DuckDB over the same parquet tables) unless the
  * operator is not SQL-expressible (then: rows-only check).
  *
  * Hash-stability rules used throughout (the driver compares by value
  * hash after sorting columns by name):
  *  - every computed column is aliased identically on both sides;
  *  - double aggregates accumulate in DECIMAL (order-independent, exact)
  *    or are rounded to 6 dp after same-order folds;
  *  - every top-k has a deterministic secondary sort key;
  *  - timestamps are formatted to strings.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.table(s, dir, name)

  private def emb(s: SparkSession, dir: String) = sources.Tables.embeddings(s, dir)

  /** The (source, token, 1L) rows both ICWS queries weight — ONE
    * definition, because `icws_persisted`'s row-for-row-identical
    * contract with `source_weighted_jaccard_icws` (and their shared
    * oracle) rests on the two preparations never drifting.
    */
  private def icwsSourceTokenRows(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame =
    tbl(s, dir, "documents")
      .filter(col("text").isNotNull && col("source").isNotNull)
      .filter(pred)
      .select(col("source"),
        explode(operators.TextAnalysis.words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .withColumn("one", lit(1L))

  private def events(s: SparkSession, dir: String) = sources.Tables.events(s, dir)

  // φ-band break factors 1 − φ^{−k}, interpolated into the oracle SQL so
  // both engines compare against bit-identical double constants.
  private val phiF1 = 1.0 - 1.0 / VectorOps.Phi
  private val phiF2 = 1.0 - 1.0 / (VectorOps.Phi * VectorOps.Phi)

  // DuckDB has no base-conversion function, so the oracle parses a 15-char
  // (60-bit) hex slice as a positional digit sum — bit-identical to Spark's
  // conv(substring(hex, start, 15), 16, 10). Max value 16^15 = 2^60 and the
  // largest term 15·16^14 < 2^63, so plain BIGINT arithmetic is exact.
  // lower() makes the digit lookup case-insensitive by construction —
  // without it an uppercase hex digit would hit strpos=0 and silently
  // contribute -1·16^k instead of failing.
  private def duckHex60(hexCol: String, start: Int): String =
    (0 until 15).map { i =>
      val w = java.math.BigInteger.valueOf(16).pow(14 - i)
      s"(strpos('0123456789abcdef', substr(lower($hexCol), ${start + i}, 1)) - 1) * $w"
    }.mkString(" + ")

  /** The local session every main and the test suites run on: `cores`
    * task slots and as many shuffle partitions, the UTC session time
    * zone, no UI.
    */
  def localSession(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE's coalescer merges post-shuffle partitions up to at least
      // minPartitionSize (default 1 MiB) — at bench scale whole
      // aggregated frames are under 1 MiB, so CPU-dense post-shuffle
      // operators (collect_list + array_sort, verify UDFs) were
      // serialized onto ONE task (round-15 profile). 128 KiB keeps
      // those stages parallel while still coalescing trivial shuffles;
      // a 3-way interleaved A/B (32k / 128k / 1m over the affected
      // families) showed 32k over-splits small aggregates (doc_quality
      // 1.6× worse) while 1m serializes the containment family
      // (dedup_containment 1.7× worse) — 128k was best overall. It is a
      // local-scale floor: partitions at real data sizes are GBs, and
      // the coalescer never binds there.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Search.topK(emb(spark, "/root/testdata/sf0.001"), "cosine", 10)

  /** One entry per implemented operator from SURVEY.md §2: the
    * DataFrame-built queries below, plus every query whose contract form
    * is its SQL ([[SqlSurface.query]]) — exactly the names that keep a
    * DataFrame twin in [[SqlSurface.twins]], so SqlSurfaceSpec compares
    * each SQL-form query with an independent DataFrame build. A `def`:
    * SqlSurface's SQL strings read this object's vals while SqlSurface
    * initialises.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val built = dataFrameQueries
    val viaSql = SqlSurface.twins.keySet
    val clash = built.keySet intersect viaSql
    require(clash.isEmpty, s"queries both DataFrame-built and SQL-form: ${clash.toSeq.sorted}")
    built ++ viaSql.map(name => name -> SqlSurface.query(name))
  }

  private def dataFrameQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 search: scan → score → top-k (TakeOrderedAndProject, no
    // shuffle). The five flat searches run as SQL (SqlSurface).
    "knn_join_top3" -> ((s, dir) => Search.knnJoin(emb(s, dir), "cosine", 3, 10)),
    // contrastive-training data mining: per query, the top-5 nearest
    // vectors with a DIFFERENT label (the batch-worthy negatives)
    "hard_negatives" -> ((s, dir) =>
      Search.hardNegatives(emb(s, dir), "cosine", 5, 5)),
    // the full contrastive-training input: per anchor, nearest
    // same-label positive + nearest cross-label hard negative + margin,
    // both arms from ONE scan via the (anchor, label-match) grouping
    "triplet_mining" -> ((s, dir) =>
      Search.tripletMining(emb(s, dir), "cosine", 5)),
    // §2.3 clustering: vector-mean Aggregator + two-pass inertia
    "cluster_centroid_dims" -> ((s, dir) =>
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("dim_idx", (col("pos") + 1).cast("int"))
        .filter(col("dim_idx") <= 8)
        .groupBy(col("label"), col("dim_idx"))
        .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("c"))
        .orderBy(col("label"), col("dim_idx"))),
    "cluster_inertia_by_label" -> ((s, dir) =>
      Clustering.withInertia(emb(s, dir), col("label"), col("vec_id"), withMembers = false)
        .select(col("cluster_key").cast("int").as("cluster_key"),
          col("n_members"), col("inertia"))
        .orderBy(col("cluster_key"))),
    // cluster-health dial beside inertia: simplified (centroid-form)
    // silhouette over the trained KMeans cells; centroids dumped so the
    // oracle replays distance/assignment from the same doubles
    "cluster_silhouette" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath + "_sil")
      // bounded collect: k=8 centroid rows (the established k-centroids
      // exception) — they become codegen literals in the dists array
      val centers = idx.centroids.orderBy(col("cell")).collect()
        .map(r => r.getSeq[Double](1).toArray)
      Clustering.simplifiedSilhouette(e, centers)
    }),
    "phi_bands" -> ((s, dir) =>
      Clustering.withPhiBand(emb(s, dir), 3)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_members"),
          round(min(col("norm")), 9).as("min_norm"),
          round(max(col("norm")), 9).as("max_norm"))
        .orderBy(col("band"))),
    // north-star: dedup suite (documents table)
    "dedup_exact_summary" -> ((s, dir) => Dedup.exactSummary(tbl(s, dir, "documents"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), 0.5)),
    // the GRADED sibling of the Jaccard pair reports: idf-weighted
    // shingle-set cosine, so rare shared content outranks shared
    // boilerplate — same inverted-index pair space, df-capped
    "dedup_idf_cosine" -> ((s, dir) =>
      Dedup.idfCosinePairs(tbl(s, dir, "documents"), 50)),
    // schema/statistics drift between two snapshots: per column, null
    // rates, size-scaled distinct shift, and added/dropped columns —
    // the cur slice deliberately drops `lang` to exercise the
    // schema-change lane
    "profile_drift" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      operators.Monitor.profileDrift(
        d.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("source"), col("n_chars")))
    }),
    // pair-level train-vs-eval contamination: cross-side band
    // collisions only, exact-Jaccard verified — WHICH eval doc a
    // training doc near-duplicates (contaminationFlags' count alone
    // cannot drive a per-pair quarantine decision)
    "cross_corpus_pairs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.crossCorpusPairs(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), 0.5)
    }),
    // the composed decontamination release: cross-corpus pairs →
    // per-training-doc quarantine → snapshotDiff audit of the corpus
    // vs its decontaminated survivor set (round-10 verdict #8)
    "pipeline_decontaminate" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      operators.CorpusPipeline.decontaminate(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), 0.5)
    }),
    // the corpus-scale composition: LSH banding proposes candidates,
    // idf-weighted cosine ranks them — work bounded by the candidate
    // list, never the corpus-wide co-occurrence mass
    "dedup_idf_rank" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.idfCosineRank(d, Dedup.lshCandidates(d))
    }),
    "dedup_groups" -> ((s, dir) =>
      Dedup.dupGroups(Dedup.minhashLshPairsCore(tbl(s, dir, "documents"), 0.5))),
    // the asymmetric geometry both Jaccard and LSH miss: a short doc
    // quoted whole inside a long one (containment ≈ 1, Jaccard ≈ 0);
    // exact via the smaller-side prefix filter against the full index
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(tbl(s, dir, "documents"), 0.9)),
    // the third candidate-generation strategy beside LSH banding and
    // prefix filtering: per-block sort-rank (first word blocks,
    // trimmed text orders), neighbors within 6 positions, exact
    // Jaccard verify — hard n·(w−1) candidate bound; the oracle
    // replays rank, window and verify identically
    "dedup_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(tbl(s, dir, "documents"),
        t => element_at(split(trim(t), "\\s+"), 1), t => trim(t),
        window = 6, threshold = 0.5)),
    // triangle census over the dup graph (degree-ordered orientation —
    // each triangle found once at its unique two-out-edge vertex, join
    // fan-out bounded by oriented out-degree ≤ O(√E)): family-vs-chain
    // structure the component size alone can't see
    "dup_triangles" -> ((s, dir) =>
      operators.Graph.triangles(
        Dedup.minhashLshPairsCore(tbl(s, dir, "documents"), 0.5))),
    // quality-aware canonical selection: per near-dup component keep
    // the LONGEST doc (min-id only as tie-break) — "keep the best
    // copy", not "keep the first"; argmax is a map-side-combinable
    // min(struct(-len, id)) per group, never a per-group sort window
    "dedup_keep_best" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.keepBest(docs, Dedup.dupGroups(Dedup.minhashLshPairsCore(docs, 0.5)),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // the appeal view: per verified near-dup pair, set sizes, shared
    // count and the first-5 shared shingles — evidence, not just a verdict
    "dup_evidence" -> ((s, dir) =>
      Dedup.dupEvidence(tbl(s, dir, "documents"), 0.5)),
    // the dup-cluster SIZE distribution — the one-glance answer to
    // "is dedup removing boilerplate families or isolated near-pairs":
    // two map-side-combinable groupBys over the already-resolved
    // components, output bounded by the largest cluster size
    "dup_size_histogram" -> ((s, dir) =>
      Dedup.dupGroups(Dedup.minhashLshPairsCore(tbl(s, dir, "documents"), 0.5))
        .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("group_size"))),
    // physical layout: Morton-interleave (length-bucket, source-code)
    // and cut file groups on the z-key's high bits — every group is a
    // bounded rectangle in BOTH dimensions, i.e. two-column data
    // skipping where a plain sort prunes on one (the OPTIMIZE ZORDER
    // layout, computed as pure codegen bit arithmetic)
    "layout_zorder" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      operators.Partitioning.zOrderLayout(
        docs.select(col("doc_id"),
          least(floor(col("n_chars") / 4), lit(255L)).cast("long").as("len_bucket"),
          substring(col("source"), 4, 10).cast("long").as("src_code")),
        col("len_bucket"), col("src_code"))
        .orderBy(col("doc_id"))
    }),
    // sketch calibration: Broder estimate (matching minhash rows / 16)
    // vs exact Jaccard for every LSH candidate pair — the "is k=16
    // enough?" table; unthresholded by design
    "minhash_estimate_error" -> ((s, dir) =>
      Dedup.minhashEstimateError(tbl(s, dir, "documents"))),
    // group-aware split: near-dup components assign WHOLE to one split
    // (per-doc splits leak near-copies across train/eval); rescued =
    // docs the naive per-doc rule would have separated from their group
    "leakage_safe_split" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      operators.Sampling.leakageSafeSplit(docs,
        Dedup.dupGroups(Dedup.minhashLshPairsCore(docs, 0.5)))
    }),
    "decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.contaminationFlags(docs, docs.filter(col("doc_id") % 50 === 0),
        n = 8, minShared = 3)
    }),
    // the eval-side complement: per benchmark item, what fraction of
    // its 8-grams the training corpus already contains — the
    // drop-this-eval-item report contaminationFlags cannot produce
    "eval_contamination" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.evalContamination(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 8, dirtyFrac = 0.2)
    }),
    // the release-over-release drift of that report: the "old" corpus
    // is the even half of the training side, the "new" corpus the
    // whole of it — per eval item, how much dirtier this release made
    // it and whether it newly crossed the dirty threshold
    "contamination_drift" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      Dedup.contaminationDrift(train.filter(col("doc_id") % 2 === 0),
        train, docs.filter(col("doc_id") % 50 === 0),
        n = 8, dirtyFrac = 0.2)
    }),
    // provenance rollup of the train-side flags: which SOURCE the
    // leakage keeps arriving from — the actionable unit is a feed,
    // not a document
    "contamination_by_source" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.contaminationBySource(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 8, minShared = 3)
    }),
    // the containment geometry in the incremental ingest shape: every
    // incoming doc (the %10 slice) gets a TOTAL verdict against the
    // already-shipped history — hit count, max containment, flag —
    // without a full-corpus pair pass per batch
    "containment_incremental" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.containmentGateIncremental(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), 0.9)
    }),
    // the gate's COST dial (round-13 handoff): "batch" skips the
    // history-prefix pass — the expensive direction at a real ingest
    // ratio — and restricts the verdict to incoming docs that are the
    // smaller-or-equal side (quoted inside history); wrapper detection
    // is left to the release-time full-corpus pass
    "containment_incremental_batch" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.containmentGateIncremental(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), 0.9, directions = "batch")
    }),
    // the 100 TB ingest shape for the containment gate: the probe reads
    // the persisted history artifacts (df table + sorted base), built
    // once per history release through the process memo, so this lane
    // grades PROBE cost; verdicts are containment_incremental's, so the
    // oracle is its replay verbatim. The name predates the removal of
    // the Bloom prefilter: the inner-joined mass gates already drop
    // history-novel shingles before the candidate exchange
    "containment_incremental_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val path = Dedup.containmentIndexCached(
        docs.filter(col("doc_id") % 10 =!= 0), corpusKey = dir + "#hist90")
      Dedup.containmentGateIncrementalPersisted(
        docs.filter(col("doc_id") % 10 === 0), path, 0.9)
    }),
    // the UNCACHED history-artifact build + gate — the maintenance
    // lifecycle the memo above amortizes away, kept visible under the
    // bench's `lifecycle` total; verdicts are the same replay, so the
    // same oracle pins it
    "containment_bloom_build" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.containmentGateIncremental(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), 0.9)
    }),
    // the gate's persist-once posture made real, now with the append
    // lane (round-15: the last persisted layout to gain one): base
    // builds on deciles 1-8, decile 9 arrives through the _COMMITTED
    // batch protocol, and the probe reads the committed view — exact
    // under appends because the candidate passes are prefix x
    // FULL-index (order-lossless) and df is additive, so the oracle
    // is still containment_incremental's replay over the FULL history
    // verbatim; a mis-sorted append or a batch invisible to the
    // committed view breaks the hash (graded under `lifecycle`: each
    // rep rebuilds + appends)
    "containment_incremental_persisted" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val path = Dedup.containmentIndexDumpPath
      Dedup.persistContainmentIndex(
        docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 9),
        path)
      Dedup.appendContainmentIndex(
        docs.filter(col("doc_id") % 10 === 9), path)
      Dedup.containmentGateIncrementalPersisted(
        docs.filter(col("doc_id") % 10 === 0), path, 0.9)
    }),
    // index MAINTENANCE under the gate (completing the compaction trio
    // for the containment layout): two committed append batches folded
    // back into the base by compactContainmentIndex — df re-aggregated
    // additively, sorted arrays REBUILT in the folded df order from
    // the stored arrays (no raw-text rescan) — then the same probe;
    // the oracle is the full-history replay verbatim, so a fold that
    // lost a doc's array or mis-folded one df count breaks the hash
    "containment_incremental_compacted" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val path = Dedup.containmentIndexDumpPath + "_compacted"
      Dedup.persistContainmentIndex(
        docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 < 8),
        path)
      Dedup.appendContainmentIndex(
        docs.filter(col("doc_id") % 10 === 8), path)
      Dedup.appendContainmentIndex(
        docs.filter(col("doc_id") % 10 === 9), path)
      Dedup.compactContainmentIndex(s, path)
      Dedup.containmentGateIncrementalPersisted(
        docs.filter(col("doc_id") % 10 === 0), path, 0.9)
    }),
    // build-once-probe-often for the ICWS sketches (the
    // persistDedupIndex posture, graded under `lifecycle`): the
    // corpus-sized weight aggregate and the 5-md5 sample draws land as
    // a persisted layout; the pair probe reads the bounded tables only
    // — output identical to source_weighted_jaccard_icws, so the
    // oracle is its replay verbatim
    "icws_persisted" -> ((s, dir) => {
      // build → committed append → probe (round 15: the append lane
      // that closed the family's last rebuild-only layout); the final
      // merged view covers the full corpus, so the oracle is
      // source_weighted_jaccard_icws's replay verbatim
      val path = operators.Icws.sketchDumpPath
      operators.Icws.persistSketches(
        icwsSourceTokenRows(s, dir, col("doc_id") % 10 =!= 0),
        "source", "w", "one", path, k = 32)
      operators.Icws.appendSketches(
        icwsSourceTokenRows(s, dir, col("doc_id") % 10 === 0),
        "source", "w", "one", path)
      operators.Icws.weightedJaccardIcwsPersisted(s, path)
    }),
    // index MAINTENANCE under the ICWS layout (the compaction-trio
    // shape): two committed append batches — the second re-touching
    // groups the first touched, exercising latest-batch-wins — folded
    // back into the base by compactSketches (weights re-aggregated
    // additively, sketches/totals resolved; no corpus rescan, no md5
    // redraw), then the same probe; a fold that lost a weight row or
    // resolved a stale sketch breaks the full-corpus oracle hash
    "icws_compacted" -> ((s, dir) => {
      val path = operators.Icws.sketchDumpPath + "_compacted"
      val dten = col("doc_id") % 10
      operators.Icws.persistSketches(
        icwsSourceTokenRows(s, dir, dten =!= 0 && dten =!= 9),
        "source", "w", "one", path, k = 32)
      operators.Icws.appendSketches(
        icwsSourceTokenRows(s, dir, dten === 9), "source", "w", "one", path)
      operators.Icws.appendSketches(
        icwsSourceTokenRows(s, dir, dten === 0), "source", "w", "one", path)
      operators.Icws.compactSketches(s, path)
      operators.Icws.weightedJaccardIcwsPersisted(s, path)
    }),
    // release-over-release drift of the token-denominated dedup
    // savings: old = the even half, new = the full corpus — which
    // source got more duplicated in this release
    "dedup_savings_drift" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.dedupSavingsDrift(docs.filter(col("doc_id") % 2 === 0), docs)
    }),
    // the DIRECTIONAL sibling of source_jaccard_kmv from the same one
    // sketch pass: containment(A→B) = |A∩B|/|A| — a source whose
    // vocabulary sits inside another's is redundant even when Jaccard
    // looks small
    "source_containment_kmv" -> ((s, dir) =>
      operators.Kmv.groupedContainment(
        tbl(s, dir, "documents")
          .select(col("source"),
            explode(operators.TextAnalysis.words(col("text"))).as("w")),
        "source", "w", 256)),
    // the WEIGHTED-Jaccard sibling of source_jaccard_kmv (ICWS, Ioffe
    // 2010): collision probability IS the generalized Jaccard
    // Σmin/Σmax over tf weights — feeds that share vocabulary but not
    // its usage separate here; estimate reported next to the exact
    "source_weighted_jaccard_icws" -> ((s, dir) =>
      operators.Icws.weightedJaccardIcws(icwsSourceTokenRows(s, dir),
        "source", "w", "one", k = 32)),
    // the DIRECTIONAL complement on the weighted axis — C(A→B) =
    // Σmin/Σ_A, exact (no sketch, 9-dp decimal folds): a feed whose
    // tf-weighted usage sits INSIDE another's is redundant even when
    // the symmetric weighted Jaccard looks small
    "source_weighted_containment" -> ((s, dir) =>
      operators.Icws.weightedContainment(icwsSourceTokenRows(s, dir),
        "source", "w", "one")),
    // candidate-generation calibration: what pair-level recall the
    // configured LSH banding ACTUALLY delivered on this corpus vs the
    // exact prefix-filtered ground truth at the same threshold
    "lsh_recall" -> ((s, dir) =>
      Dedup.lshRecall(tbl(s, dir, "documents"), 0.5)),
    // the operating-point SWEEP behind that number: recall/precision
    // of three band layouts (2/4/8 bands over the same k=16
    // signature) against one shared exact ground truth — the dial a
    // curation owner reads before picking the banding, measured on
    // THIS corpus rather than the textbook collision curve
    "lsh_recall_curve" -> ((s, dir) =>
      Dedup.lshRecallCurve(tbl(s, dir, "documents"), 0.5)),
    // token-denominated dedup accounting: what the canonical keep buys
    // back in TOKENS per source (dup groups skew long, so doc counts
    // understate it) — feeds straight into token_budget planning
    "dedup_token_savings" -> ((s, dir) =>
      Dedup.dedupTokenSavings(tbl(s, dir, "documents"))),
    // per-source n-gram distribution health: type-token ratio +
    // Shannon entropy over bigrams — the template-flood alarm read
    // next to source_overlap's cross-source duplication report
    "ngram_diversity" -> ((s, dir) =>
      operators.TextAnalysis.ngramDiversity(tbl(s, dir, "documents"), 2)),
    // Zipf exponent per source (ln-ln least squares over the top-500
    // tokens, WindowGroupLimit rank) — natural text sits near α ≈ 1;
    // the α trend across snapshots is the synthetic-flood alarm
    "zipf_alpha" -> ((s, dir) =>
      operators.TextAnalysis.zipfAlpha(tbl(s, dir, "documents"), 500)),
    // incremental ingest: every third doc arrives as the new batch and
    // is checked against the other two thirds as shipped history
    "dedup_incremental" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.incrementalFlags(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), 0.5)
    }),
    // the same incremental check under the name of its removed Bloom
    // prefilter (the prefilter never changed a flag), so the oracle is
    // dedup_incremental's replay verbatim
    "dedup_incremental_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.incrementalFlags(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), 0.5)
    }),
    // the dedup-index maintenance variant (completing the compaction
    // trio): the SAME history split lands as base (%3=1) plus two
    // committed append batches (%3=2 by parity), gets FOLDED by
    // compactDedupIndex, and the incoming batch probes the compacted
    // layout — the oracle is dedup_incremental's two-set replay
    // verbatim, so a fold that lost a band row or re-duplicated a
    // digest flips a flag and breaks the hash
    "dedup_incremental_compacted" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val path = Dedup.indexDumpPath
      Dedup.persistDedupIndex(docs.filter(col("doc_id") % 3 === 1), path)
      Dedup.appendDedupIndex(docs.filter(col("doc_id") % 6 === 2), path)
      Dedup.appendDedupIndex(docs.filter(col("doc_id") % 6 === 5), path)
      Dedup.compactDedupIndex(s, path)
      Dedup.incrementalFlagsPersisted(docs.filter(col("doc_id") % 3 === 0),
        path, 0.5)
    }),
    "mixture_sample" -> ((s, dir) =>
      operators.Sampling.mixtureSummary(tbl(s, dir, "documents"),
        mixtureWeights, defaultWeight = 0.75)),
    "stratified_sample" -> ((s, dir) =>
      operators.Sampling.stratifiedSample(tbl(s, dir, "documents"),
          col("source"), col("doc_id"), 5)
        .select(col("source"), col("rank_in_stratum").cast("long").as("rank_in_stratum"),
          col("doc_id"))
        .orderBy(col("source"), col("rank_in_stratum"))),
    "mixture_upsample" -> ((s, dir) =>
      operators.Sampling.upsample(tbl(s, dir, "documents"),
          upsampleWeights, defaultWeight = 1.25)
        .groupBy(col("source"), col("rep"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("rep"))),
    // concat-and-chunk sequence packing: replayable shuffle into 8
    // shards, 512-token windows; row-level (shard, pack, offset)
    // assignment is the oracle check
    "pack_windows" -> ((s, dir) =>
      operators.Packing.packWindows(tbl(s, dir, "documents"),
        packWindowTokens, packWindowShards)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("pack_id"), col("off"), col("n_windows"))
        .orderBy(col("doc_id"))),
    // token-budget corpus assembly: weights → hard token counts per
    // source, selection order = the shared (shard, sha256) hash layout
    "token_budget" -> ((s, dir) =>
      operators.Sampling.tokenBudgetSummary(tbl(s, dir, "documents"),
        tokenBudgets, defaultBudget = tokenBudgetDefault,
        numShards = tokenBudgetShards)),
    // C4-style sub-document span dedup: non-overlapping 4-word blocks,
    // corpus-wide keep-first, cleaned text rebuilt from survivors
    "span_dedup" -> ((s, dir) => Dedup.spanDedup(tbl(s, dir, "documents"), 4)),
    // BM25 top-k retrieval for a bag-of-words query
    "bm25_search" -> ((s, dir) =>
      TextAnalysis.bm25TopDocs(tbl(s, dir, "documents"), bm25Query, 10)),
    // graded-relevance retrieval eval beside MRR: the IDCG side never
    // sorts the corpus — grades take ≤ |q|+1 values, so the grade
    // HISTOGRAM determines the ideal list and a ≤ k-position explode
    // folds it
    "bm25_ndcg" -> ((s, dir) =>
      TextAnalysis.bm25Ndcg(tbl(s, dir, "documents"), bm25Query, 10)),
    // retrieval EVALUATION: MRR@10 over a fixed query set (relevance =
    // contains every query term) — q queries in ONE corpus scan via the
    // broadcast term→query fan-out; the evaluation-family companion of
    // classifier_auc and ann_recall_curve. Honesty note (the
    // quality_classifier convention): this synthetic corpus is so
    // term-dense that every query's top-1 is conjunctively relevant —
    // the contract row validates the machinery and its oracle parity;
    // TextAnalysisSpec shows the non-saturated metric on a corpus
    // where tf-spam outranks the one relevant doc
    "bm25_mrr" -> ((s, dir) =>
      TextAnalysis.bm25MrrEval(tbl(s, dir, "documents"), mrrQueries)),
    // hybrid retrieval: BM25 top-10 and cosine top-10 fused by
    // reciprocal-rank (score-free — the two scales never compare);
    // documents and embeddings share the id space by construction.
    // The rank windows run over the already-cut 10-row lists
    "hybrid_search_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25TopDocs(tbl(s, dir, "documents"), bm25Query, 10)
        .select(col("doc_id").as("id"),
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
            .as("rank"))
      val vec = Search.topK(emb(s, dir), "cosine", 10)
        .select(col("vec_id").as("id"),
          row_number().over(Window.orderBy(col("score").desc, col("vec_id")))
            .as("rank"))
      Search.rrfFuse(lex, vec, rrfK0, 10)
    }),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(tbl(s, dir, "documents"), 0.5)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(tbl(s, dir, "documents"))),
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(tbl(s, dir, "documents"), 3)),
    // embedding dedup DEFAULT: banded sign-LSH candidates + exact verify
    // (sub-quadratic); the exact Ω(n²) top-N grid survives only as the
    // explicitly-named baseline row below
    "dedup_embedding_pairs" -> ((s, dir) => Dedup.embeddingNearDup(emb(s, dir), 0.4)),
    "dedup_embedding_exact_topn_baseline" -> ((s, dir) =>
      Dedup.embeddingTopPairs(emb(s, dir), 20)),
    "dedup_keep_canonical" -> ((s, dir) => Dedup.keepCanonical(tbl(s, dir, "documents"))),
    // deterministic train/valid/test split (mod-based here for oracle
    // portability; production uses xxhash64 of the id for mixing)
    "sample_split" -> ((s, dir) =>
      emb(s, dir)
        .withColumn("split",
          when(col("vec_id") % 10 < 8, "train")
            .when(col("vec_id") % 10 === 8, "valid").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("label")).as("n_labels"),
          min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .orderBy(col("split"))),
    // north-star: text analysis (documents table)
    "text_stats" -> ((s, dir) => TextAnalysis.textStats(tbl(s, dir, "documents"))),
    // character-level Shannon entropy (bits/char): the gibberish /
    // encoding-damage signal word stats can't see — base64 blobs score
    // near-maximal, single-char runs 0, natural text ~4±1
    "char_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(tbl(s, dir, "documents"))),
    // Flesch reading ease + FK grade from deterministic regex
    // heuristics (sentence runs, vowel-group syllables floored at 1
    // per word) — one narrow codegen projection, no shuffle
    "readability" -> ((s, dir) =>
      TextAnalysis.readability(tbl(s, dir, "documents"))),
    "doc_quality" -> ((s, dir) => TextAnalysis.qualityFlags(tbl(s, dir, "documents"))),
    // Gopher-style looping-text signal: fraction of trigram INSTANCES
    // belonging to a trigram that repeats within the doc
    "doc_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(tbl(s, dir, "documents"))),
    // cross-source contamination matrix over distinct shingle sets
    "source_overlap" -> ((s, dir) =>
      TextAnalysis.sourceOverlap(tbl(s, dir, "documents"))),
    // tokenizer-prep vocab curve: top-V words + cumulative token share
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(tbl(s, dir, "documents"))),
    // phrase mining: adjacent pairs scoring far above their unigram
    // frequencies — one fixed left-to-right double expression over
    // exact counts so both engines agree bit-for-bit before the round
    "collocations_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(tbl(s, dir, "documents"))),
    // mixture diagnostics: per-source JSD vs the rest of the corpus
    // over the DENSE sources × vocab grid (absent words still
    // contribute their ½·q·ln 2), decimal-folded order-free
    "source_divergence" -> ((s, dir) =>
      TextAnalysis.sourceJsDivergence(tbl(s, dir, "documents"))),
    // Efraimidis–Spirakis weighted sampling without replacement:
    // stateless per-row −ln(u)/w score + top-k — the parallel form of
    // the weighted reservoir; u is a content hash, fully replayable
    "weighted_sample" -> ((s, dir) =>
      operators.Sampling.weightedSample(tbl(s, dir, "documents"),
        col("doc_id"), col("n_chars"), 50)),
    "token_percentiles" -> ((s, dir) => TextAnalysis.sizePercentiles(tbl(s, dir, "documents"))),
    // quality-curriculum quartiles: broadcast percentile thresholds +
    // narrow when-chain — never an ntile() global ranking window
    "quality_buckets" -> ((s, dir) => TextAnalysis.curriculumSummary(tbl(s, dir, "documents"))),
    // market-basket lift over orders: which part types move together
    // (lift > 1) vs merely both being common — distinct (order, type)
    // rows bound the self-join multiplicity by the TYPE domain
    "basket_lift" -> ((s, dir) => {
      val baskets = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("p_partkey") === col("l_partkey"))
      operators.Association.basketLift(baskets, col("l_orderkey"), col("p_type"))
    }),
    // incremental view maintenance: the per-source stats view kept as
    // MERGEABLE partial states (count/decimal-sum/min/max) — base(2/3)
    // ⊕ delta(1/3) must equal the from-scratch aggregate the oracle
    // computes; avg derives at read time, never persisted in state
    "ivm_source_stats" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val base = operators.Ivm.aggState(d.filter(col("doc_id") % 3 =!= 0),
        col("source"), col("n_chars"))
      val delta = operators.Ivm.aggState(d.filter(col("doc_id") % 3 === 0),
        col("source"), col("n_chars"))
      operators.Ivm.read(operators.Ivm.merge(base, delta))
        .select(col("key").as("source"), col("n").as("n_docs"),
          col("sum_v").as("sum_chars"), col("min_v").as("min_chars"),
          col("max_v").as("max_chars"), col("avg_v").as("avg_chars"))
    }),
    // the per-source corpus datasheet (volume, dup share, gate rate)
    "corpus_report" -> ((s, dir) => CorpusPipeline.corpusReport(tbl(s, dir, "documents"))),
    "pipeline_clean_corpus" -> ((s, dir) =>
      CorpusPipeline.cleanSummary(tbl(s, dir, "documents"))),
    // n-gram novelty vs all lower-id docs (inverted min-index, no doc×doc)
    "doc_novelty" -> ((s, dir) => TextAnalysis.noveltyScores(tbl(s, dir, "documents"))),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(tbl(s, dir, "documents"))),
    // unigram-LM surprisal (KenLM-filter analogue, self-referenced)
    "doc_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(tbl(s, dir, "documents"))),
    // CCNet-style statistical-LM fluency dial: per-doc cross-entropy
    // under the corpus's own ML bigram model
    "bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(tbl(s, dir, "documents"))),
    // PII scrub over the corpus with deterministic PII injected inline
    // (the synthetic corpus contains none): both engines build the same
    // dirty text, so the counts AND the cleaned-text digest must agree
    "pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(tbl(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            concat(lit("contact user"), col("doc_id"), lit("@example.com "))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("call 415-555-0123 ")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit("host 10.0."), col("doc_id") % 256, lit(".7 "))).otherwise(lit("")),
          col("text")).as("text")))),
    // normalization-aware exact dedup (custom codegen NFC expression —
    // Spark has no built-in). The ASCII corpus is trivially NFC, so
    // both engines append the same visually-identical-but-byte-distinct
    // twin per doc: precomposed lowercase " café" on the original,
    // decomposed uppercase "  CAFE<U+0301>" (double space) on a shifted
    // copy — every normalized group must absorb exactly those variants
    "normalized_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      TextAnalysis.normalizedDedup(
        d.select(col("doc_id"), concat(col("text"), lit(nfcSuffixA)).as("text"))
          .unionByName(d.select((col("doc_id") + nfcTwinOffset).as("doc_id"),
            concat(col("text"), lit(nfcSuffixB)).as("text"))))
    }),
    // CCNet/MassiveText line-level boilerplate removal. The synthetic
    // corpus has no naturally repeated lines, so both engines prepend
    // the shared 10-word banner to every even doc (pii_scrub's
    // deterministic-injection discipline): its cross-doc frequency
    // fires the filter while every natural line survives
    "boilerplate_removal" -> ((s, dir) =>
      TextAnalysis.removeBoilerplate(tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit(TextAnalysis.boilerplateLine + " "), col("text")))
          .otherwise(col("text")).as("text")))),
    // DSIR hashed-unigram importance weights, target model = English
    // docs, raw model = the rest; selected = looks more target than raw
    "dsir_weights" -> ((s, dir) =>
      operators.Sampling.dsirWeights(tbl(s, dir, "documents"))),
    "token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(tbl(s, dir, "documents"))),
    "doc_digests" -> ((s, dir) => TextAnalysis.digests(tbl(s, dir, "documents"))),
    "doc_sketch" -> ((s, dir) => TextAnalysis.minKSketch(tbl(s, dir, "documents"), 4)),
    // exact top-k frequent tokens WITHOUT a vocabulary-sized shuffle:
    // one-pass mergeable Misra-Gries candidates (bounded task state),
    // exact recount of the candidate set, exactness precondition
    // CHECKED (k-th count vs the n/(capacity+1) undercount bound)
    "heavy_hitters" -> ((s, dir) =>
      operators.HeavyHitters.topTokens(tbl(s, dir, "documents"), 20, 1024)),
    // Count-Min point-frequency estimates for an arbitrary term list
    // (md5 hashing replayed verbatim by the oracle — the sketch is the
    // deterministic artifact, so estimates hash-compare exactly);
    // "absent" pins the missing-term → 0 lane
    "cms_estimate" -> ((s, dir) =>
      operators.CountMin.estimates(tbl(s, dir, "documents"),
        Seq("join", "hash", "vector", "data", "merge", "absent"),
        depth = 4, width = 1024)),
    // shuffle-key skew report via the generalized checked two-pass —
    // the number that decides salting; event_type's domain is bounded
    // at every SF so the sketch provably never evicts here
    "key_skew" -> ((s, dir) =>
      operators.HeavyHitters.keySkew(events(s, dir), "event_type", 5)),
    // CMS inner product: the user_id self-join size (sum of squared
    // key counts) predicted WITHOUT running the join — the planning
    // statistic behind salting / pre-aggregation decisions
    "join_size_estimate" -> ((s, dir) =>
      operators.CountMin.joinSizeEstimate(
        events(s, dir), "user_id", events(s, dir), "user_id")),
    // Poisson-bootstrap CI for the mean document length: every
    // replicate from ONE pass (per-row Poisson(1) weights, no
    // resampling shuffle); md5 draws make the whole CI deterministic
    "bootstrap_ci" -> ((s, dir) =>
      operators.Bootstrap.meanCi(tbl(s, dir, "documents"),
        "doc_id", "n_chars", reps = 200)),
    // uplift CI: difference of mean document length, en - fr, with
    // paired per-row draws (the same row keeps its weight in any
    // group) — one rep-keyed aggregation, no per-replicate join
    "bootstrap_diff_ci" -> ((s, dir) =>
      operators.Bootstrap.diffCi(tbl(s, dir, "documents"),
        "doc_id", "n_chars", "lang", "en", "fr", reps = 200)),
    // KMV distinct-count sketch: bounded bottom-k state where an exact
    // countDistinct would shuffle the whole key domain; k=256 < the
    // user domain so the (k-1)/u_k estimator branch is the one graded
    "distinct_estimate" -> ((s, dir) =>
      operators.Kmv.distinctValues(events(s, dir), "user_id", 256)),
    // quantile member of the bounded-state sketch family: exact
    // percentiles over the k smallest md5-draw rows (a content-stable
    // uniform row sample via TakeOrderedAndProject) vs the corpus
    // exact — the sample side is the 100 TB path, the exact side the
    // evaluator's capped comparison pass
    "quantile_estimate" -> ((s, dir) =>
      operators.Sampling.hashSampleQuantiles(
        tbl(s, dir, "documents"), "doc_id", "n_chars", 1024)),
    // grouped form: per-source length quantiles from k-row per-group
    // samples (WindowGroupLimit map-side cut) vs the capped exact pass
    "group_quantile_estimate" -> ((s, dir) =>
      operators.Sampling.groupHashSampleQuantiles(
        tbl(s, dir, "documents"), "source", "doc_id", "n_chars", 64)),
    // theta-sketch set algebra: click-audience vs view-audience
    // union / Jaccard / intersection from two bounded sketch passes —
    // the exact version is source_overlap's distinct self-join
    "audience_overlap_estimate" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Kmv.overlapEstimate(
        ev.filter(col("event_type") === "click"), "user_id",
        ev.filter(col("event_type") === "view"), "user_id", 256)
    }),
    // the per-group form: every source-pair's vocabulary Jaccard from
    // ONE grouped sketch pass (the exact sibling is source_overlap's
    // distinct self-join) — the "which crawls duplicate each other"
    // planning table
    "source_jaccard_kmv" -> ((s, dir) =>
      operators.Kmv.groupedJaccard(
        tbl(s, dir, "documents")
          .select(col("source"),
            explode(operators.TextAnalysis.words(col("text"))).as("w")),
        "source", "w", 256)),
    // how many bits does knowing the language tell you about the
    // source — the MEASURE next to events_chi2's TEST of dependence
    "mutual_information" -> ((s, dir) =>
      operators.Monitor.mutualInformation(
        tbl(s, dir, "documents"), col("lang"), col("source"))),
    // PSI drift gate between two deterministic corpus slices —
    // reference-decile bins, Laplace smoothing, 9-dp decimal fold
    "psi_drift" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      operators.Monitor.psi(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "n_chars", bins = 10)
    }),
    // the same KS machinery as a TWO-SAMPLE drift test: slice
    // membership is the "class", n_chars the score — max CDF gap
    // between even- and odd-id documents (PSI's bin-free sibling)
    "drift_ks" -> ((s, dir) =>
      operators.QualityModel.ksStatistic(
        tbl(s, dir, "documents").select(
          col("n_chars").cast("double").as("quality"),
          (col("doc_id") % 2 === 0).cast("long").as("label")))),
    "tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"), 3)),
    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkWords(tbl(s, dir, "documents"), 50, 10)),
    // north-star: ANN coarse-to-fine (reference search_pglyphs generalized)
    "search_centroids_topk" -> ((s, dir) => Ann.searchCentroids(emb(s, dir), "cosine", 5)),
    "ann_ivf_topk" -> ((s, dir) => Ann.ivfTopK(emb(s, dir), "cosine", 10, 2)),
    "ann_lsh_pairs" -> ((s, dir) => Ann.lshCosinePairs(emb(s, dir), 0.4)),
    // north-star: int8 embedding compression with error accounting
    // exploded (vec_id, pos, ux) shape: the driver's pandas comparator
    // sorts rows by value and cannot hash array cells, so the unit vector
    // is emitted one scalar per dimension (doubles round-trip the harness
    // bit-exactly — proven by embedding_quantize since r4)
    "embedding_normalize" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
          round(sqrt(VectorOps.dotProduct(col("embedding"), col("embedding"))), 6).as("norm"),
          posexplode(transform(VectorOps.l2Normalize(col("embedding")), x => round(x, 6))))
        .toDF("vec_id", "norm", "pos", "ux")
        .orderBy(col("vec_id"), col("pos"))),
    // PER-CODE verification of the same quantization (r8): every int8
    // code crosses the oracle hash individually (the summary row above
    // only pins the L1 aggregate); exploded to scalar rows for
    // hashability, zero vectors quantize to zeros with zero error
    "embedding_quantize_codes" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"), col("embedding"),
          // distinct internal name (the embedding_quantize lesson):
          // aliasing the output as "scale" in the same select would
          // lateral-alias-shadow the raw column — with posexplode in
          // the projection that is an analyzer INTERNAL_ERROR
          VectorOps.absMax(col("embedding")).as("raw_scale"))
        // per-vector HOF work (max_err) happens ONCE, below the explode
        // — an expression sharing a select with posexplode is split
        // into a Project ABOVE the Generate and re-evaluates per
        // EXPLODED row (64×: 10.4 s at sf0.1). The generator input is
        // the RAW embedding attribute, so the non-empty/non-null
        // filter Catalyst infers from the Generate stays a cheap
        // column predicate at the scan instead of inlining the whole
        // quantization chain into a pushed-down Filter (the 3 s
        // residue of exploding a computed array). Each element then
        // quantizes SCALAR-wise in the codegen projection above —
        // identical left-to-right math to the lambda form
        .select(col("vec_id"), col("embedding"), col("raw_scale"),
          when(col("raw_scale") === 0.0, lit(0.0))
            .otherwise(round(VectorOps.quantizationError(col("embedding"),
              col("raw_scale")), 9)).as("max_err"))
        .select(col("vec_id"), col("raw_scale"), col("max_err"),
          posexplode(col("embedding")))
        .select(col("vec_id"),
          round(col("raw_scale"), 6).as("scale"),
          col("max_err"), col("pos"),
          when(col("raw_scale") === 0.0, lit(0))
            .otherwise(round(col("col").cast("double") * lit(127.0)
              / col("raw_scale"), 0).cast("int")).as("q"))
        .orderBy(col("vec_id"), col("pos"))),
    // JL projection 64 → 8 dims (seed 7) — compression before ANN;
    // exploded to scalar rows for the same harness-hashability reason
    "embedding_project" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
          posexplode(transform(VectorOps.randomProject(col("embedding"),
            Ann.hyperplanes(8, 64, 7L)), x => round(x, 6))))
        .toDF("vec_id", "pos", "px")
        .orderBy(col("vec_id"), col("pos"))),
    "embedding_quantize" -> ((s, dir) =>
      emb(s, dir)
        // distinct internal name: aliasing the output as "scale" in the
        // same select would lateral-alias-shadow the raw column
        .withColumn("raw_scale", VectorOps.absMax(col("embedding")))
        .select(col("vec_id"), round(col("raw_scale"), 6).as("scale"),
          round(VectorOps.quantizationError(col("embedding"), col("raw_scale")), 9)
            .as("max_err"),
          aggregate(VectorOps.quantizeInt8(col("embedding"), col("raw_scale")),
            lit(0L), (acc, q) => acc + abs(q).cast("long")).as("l1_q"))
        .orderBy(col("vec_id"))),
    // product quantization (encode): 64 float dims → 8×4-bit codes in
    // ONE packed bigint (32× storage cut). MLlib trains the per-subspace
    // codebooks (dumped for the oracle); assignment + packing + the
    // 9dp-quantized decimal error fold are pure codegen expressions the
    // oracle replays from the same doubles
    "pq_encode" -> ((s, dir) => {
      val e = emb(s, dir)
      val m = operators.Pq.fitCached(e, dir, dim = 64)
      operators.Pq.dump(s, m)
      operators.Pq.encode(e, m).orderBy(col("vec_id"))
    }),
    // product quantization (ADC search): top-10 by asymmetric distance
    // computed ONLY from (vec_id, pq_code) — codes unpacked by
    // shift/mask, per-subspace literal-LUT lookups quantized at 9 dp and
    // summed in exact decimals; order/limit on the exact decimal. The
    // oracle rebuilds codes AND the LUT from the dumped codebooks
    "pq_adc_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val m = operators.Pq.fitCached(e, dir, dim = 64)
      operators.Pq.dump(s, m, operators.Pq.codebookDumpPath + "_adc")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      operators.Pq.adcTopK(operators.Pq.encode(e, m), m, q, topK = 10)
    }),
    // IVF·PQ composed index (the FAISS IVFPQ shape): the coarse
    // quantizer prunes to nProbe=3 of 8 cells, ADC ranks only those
    // cells' members from packed codes — probe pruning × 32× compression
    // in one scan. Centroids AND codebooks are dumped so the oracle
    // replays both quantizers from the same doubles
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath + "_ivfpq")
      val m = operators.Pq.fitCached(e, dir, dim = 64)
      operators.Pq.dump(s, m, operators.Pq.codebookDumpPath + "_ivfpq")
      val encoded = idx.assigned.select(col("vec_id"), col("cell"),
        operators.Pq.packedCodeExpr(col("embedding"), m).as("pq_code"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      operators.Pq.ivfAdcTopK(encoded, idx.centroids, m, q, topK = 10, nProbe = 3)
    }),
    // north-star: MLlib batch KMeans index + probe search. Training is
    // the only non-SQL-expressible step, so the trained centroids are
    // persisted and the oracle replays assignment+probe+scan from them —
    // everything downstream of training is deterministic
    "ann_kmeans_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath)
      val query = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      operators.KMeansIndex.search(idx, query, topK = 10, nProbe = 3)
    }),
    // SemDeDup: k-means cells bound the cosine comparison (the paper's
    // n² → Σ|cell|² collapse); threshold pairs resolve to connected
    // components, each keeping its minimum id. Centroids are dumped so
    // the oracle replays assignment → within-cell pairs → recursive-CTE
    // components from the same doubles
    "semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath + "_sem")
      Dedup.semDedup(idx, threshold = Dedup.semDedupThreshold)
    }),
    "ann_batch_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath + "_batch")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.KMeansIndex.searchMany(idx, queries, topK = 5, nProbe = 3)
    }),
    // the ANN quality dial: recall@10 of the pruned IVF search against
    // ground truth — which is the SAME searchMany probing all k cells
    // (assignment covers every row, so nProbe=k IS brute force). The
    // deliberately tight nProbe=2 makes recall < 1 reachable; the
    // oracle replays both arms from the dumped centroids
    "ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath + "_recall")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val ivf = operators.KMeansIndex.searchMany(idx, queries, topK = 10, nProbe = 2)
        .select(col("query_id"), col("vec_id"))
      val brute = operators.KMeansIndex.searchMany(idx, queries, topK = 10, nProbe = 8)
        .select(col("query_id"), col("vec_id"))
      val hits = brute.join(ivf, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 10.0, 6).as("recall"))
        .orderBy(col("query_id"))
    }),
    // matryoshka-truncation recall (MRL): the storage/recall dial for
    // prefix-truncatable embeddings — full-dim cosine top-10 vs the
    // first-16-dims arm, exact integer hits per query. Completes the
    // embedding-compression family (int8, PQ, JL, PCA → MRL)
    "mrl_truncation_recall" -> ((s, dir) =>
      Search.mrlTruncationRecall(emb(s, dir), "cosine", dims = 16,
        k = 10, nQueries = 5)),
    // binary quantization + rescore: stage 1 ranks everything by
    // popcount-XOR Hamming distance over 1-bit sign signatures (an
    // 8-byte-per-row scan at 64 dims — 32× less IO than floats),
    // stage 2 reranks the 50 survivors with exact cosine
    "search_hamming_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Search.hammingRerank(e, q, candidates = 50, topK = 10)
    }),
    // the ann_recall dial generalized to the OPERATING-POINT table
    // (round-7 verdict item 4): recall@10 and cells-scanned for
    // nProbe ∈ {1,2,4,8,16} in one plan — candidates scored once,
    // arms attached by rank inequality; arms ≥ k plateau at recall 1
    "ann_recall_curve" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e, dir, k = 8)
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(operators.KMeansIndex.centroidDumpPath + "_curve")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      operators.KMeansIndex.recallCurve(idx, queries, topK = 10,
        probes = Seq(1, 2, 4, 8, 16))
    }),
    // the persisted "build once, search many" path end-to-end: train on a
    // deterministic 80% split, persist the cell-partitioned layout,
    // append the held-out 20% through the committed-batch protocol
    // (same centroids, read back from the layout), then probe-search the
    // committed view. The oracle replays assignment+probe+scan from
    // <layout>/centroids over ALL embeddings — base and appended rows go
    // through the identical argmin, so a mis-assigned append batch or a
    // batch invisible to the committed view breaks the hash
    "ann_ivf_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(e.filter(col("vec_id") % 5 =!= 4), dir + "#train80", k = 8)
      val path = operators.KMeansIndex.persistDumpPath
      operators.KMeansIndex.persist(idx, path)
      operators.KMeansIndex.appendPersisted(s, path, e.filter(col("vec_id") % 5 === 4))
      val query = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      operators.KMeansIndex.searchPersisted(s, path, query, topK = 10, nProbe = 3)
    }),
    // index MAINTENANCE under the gate: two committed append batches
    // folded back into the base by compactPersisted (staging write +
    // atomic dir swap; batches folded, never dropped), then the same
    // probe-pruned search — the oracle replays probe+scan from the
    // dumped centroids, layout-invisible, so a compaction that lost or
    // duplicated one row breaks the hash
    "ann_ivf_compacted" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = operators.KMeansIndex.buildCached(
        e.filter(col("vec_id") % 5 < 3), dir + "#train60", k = 8)
      val path = operators.KMeansIndex.compactDumpPath
      operators.KMeansIndex.persist(idx, path)
      operators.KMeansIndex.appendPersisted(s, path, e.filter(col("vec_id") % 5 === 3))
      operators.KMeansIndex.appendPersisted(s, path, e.filter(col("vec_id") % 5 === 4))
      operators.KMeansIndex.compactPersisted(s, path)
      val query = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      operators.KMeansIndex.searchPersisted(s, path, query, topK = 10, nProbe = 3)
    }),
    // §2.9 relational: multi-join, window, semi/anti, json, audit hash.
    // the bucketed-layout path as a contract query: both sides are
    // written bucketBy(8, doc_id) external tables, so the join runs
    // WITHOUT a shuffle Exchange (the 100 TB co-location story;
    // BucketingSpec pins the no-Exchange property, the oracle pins the
    // result). Tables are dropped and rewritten per run — the layout
    // build is part of what's measured, like the persisted BM25/IVF
    "bucketed_join" -> ((s, dir) => {
      // path + table names carry a dir-derived suffix so two concurrent
      // runs (bench vs gate) on different sf dirs never clobber each
      // other's layouts mid-query (round-7 advice; the centroid-dump
      // suffix discipline)
      val sfx = java.lang.Long.toHexString(
        java.lang.Integer.toUnsignedLong(dir.hashCode))
      val base = s"/tmp/graft_bucketed_$sfx"
      for (t <- Seq(s"graft_docstats_b_$sfx", s"graft_labels_b_$sfx"))
        s.sql(s"DROP TABLE IF EXISTS $t")
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.words(col("text"))).cast("long").as("n_words"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$base/docstats").mode("overwrite")
        .saveAsTable(s"graft_docstats_b_$sfx")
      emb(s, dir).select(col("vec_id").as("doc_id"), col("label"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$base/labels").mode("overwrite")
        .saveAsTable(s"graft_labels_b_$sfx")
      s.table(s"graft_docstats_b_$sfx").join(s.table(s"graft_labels_b_$sfx"), "doc_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"))
        .orderBy(col("label"))
    }),
    "skew_salted_join" -> ((s, dir) =>
      operators.Joins.saltedJoin(tbl(s, dir, "lineitem"),
          tbl(s, dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey"), "l_suppkey", 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_lineitems"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_name"))),
    // blocked edit-distance entity resolution: every even part gets one
    // char of its FIRST token deleted at a partkey-derived position
    // (pos >= 2, so the last token — the blocking key — and the lead
    // char survive), then each dirty name is matched back to the
    // distinct-name catalog at maxDist 1. Both engines build the same
    // dirty strings; levenshtein is exact+integer in both
    "fuzzy_match" -> ((s, dir) =>
      fuzzyMatched(s, dir).orderBy(col("p_partkey"))),
    // the same linkage scored by the Jaro-Winkler codegen kernel
    // instead of edit distance — same dirty strings, same last-token
    // blocking, sound length-ratio prune, max(struct) winner; the
    // oracle recomputes the similarity with DuckDB's own
    // jaro_winkler_similarity (byte-identical semantics, empirically
    // pinned in JoinsSpec)
    "fuzzy_match_jw" -> ((s, dir) =>
      operators.Joins.fuzzyMatchJw(fuzzyDirty(s, dir),
          tbl(s, dir, "part").select(col("p_name").as("name")), "p_partkey",
          n => element_at(split(n, " "), -1), minSim = 0.88)
        .orderBy(col("p_partkey"))),
    // the linkage evaluated against its constructed ground truth — the
    // ER member of the evaluation family (P/R/F1 per lane); one extra
    // broadcast join + a 2-row aggregate on top of the match itself
    "fuzzy_match_eval" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
      val scored = fuzzyMatched(s, dir)
        .join(p.select(col("p_partkey"), col("p_name").as("true_name")),
          Seq("p_partkey"))
        .select(
          when(col("p_partkey") % 2 === 0, "corrupted").otherwise("clean")
            .as("lane"),
          col("matched_name").isNotNull.as("matched"),
          (col("matched_name").isNotNull &&
            col("matched_name") === col("true_name")).as("correct"))
      val prec = col("n_correct").cast("double") / col("n_matched")
      val rec = col("n_correct").cast("double") / col("n")
      scored.groupBy(col("lane"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("lane"), col("n"), col("n_matched"), col("n_correct"),
          when(col("n_matched") > 0L, round(prec, 6)).as("precision"),
          round(rec, 6).as("recall"),
          when(col("n_matched") > 0L && (prec + rec) > 0.0,
            round(lit(2.0) * prec * rec / (prec + rec), 6)).as("f1"))
        .orderBy(col("lane"))
    }),
    // as-of join: for each error event, the user's most recent preceding
    // click (union + ordered-window implementation; oracle = native
    // DuckDB ASOF JOIN)
    "asof_error_click" -> ((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      operators.Joins.asofJoin(errors, clicks, "user_id", "ts", "ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("error_ts"),
          col("asof_click_id").as("last_click_id"))
        .orderBy(col("event_id"))
    }),
    // range join: prior-view counts in the 30 min before each purchase
    // (time-bucketed candidates, not a per-key cross product)
    // interval × interval overlap (the join shape range_join's
    // point-in-window can't express): view sessions overlapping click
    // sessions per user — bucketized equi-join with the
    // canonical-bucket rule (pair kept only in its overlap-start
    // bucket), never a per-key inequality join
    "interval_overlap" -> ((s, dir) => {
      val iv = events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"), col("event_type"),
          session_window(col("ts"), "43200 seconds"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"),
          count(lit(1)).as("n"))
      val v = iv.filter(col("event_type") === "view")
        .select(col("user_id"), col("st").as("v_st"), col("en").as("v_en"),
          col("n").as("n_view_events"))
      val c = iv.filter(col("event_type") === "click")
        .select(col("user_id"), col("st").as("c_st"), col("en").as("c_en"),
          col("n").as("n_click_events"))
      operators.Joins.intervalOverlapJoin(v, c, "user_id",
          "v_st", "v_en", "c_st", "c_en", bucketSeconds = 86400L)
        .select(col("user_id"),
          date_format(col("v_st"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_start"),
          date_format(col("c_st"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_start"),
          col("n_view_events"), col("n_click_events"),
          (unix_micros(least(col("v_en"), col("c_en"))) -
            unix_micros(greatest(col("v_st"), col("c_st")))).as("overlap_micros"))
        .orderBy(col("user_id"), col("view_start"), col("click_start"))
    }),
    "range_join_views" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"))
      val counts = operators.Joins
        .rangeJoinPrior(purchases, views, "user_id", "ts", "view_ts", 1800)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      purchases.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n"), lit(0L)).as("n_prior_views"))
        .orderBy(col("event_id"))
    }),
    // streaming operator exercised on batch input (same plan modulo the
    // watermark node, which EliminateEventTimeWatermark drops in batch):
    // errors joined to same-user clicks in the preceding 10 minutes
    // watermarked ingest dedup on batch input: a deterministic replayed
    // slice (exact copies — the at-least-once delivery failure mode) is
    // unioned in, then dropped by dedupIngest's batch branch (stream
    // parity pinned in StreamingSpec on the same replayed shape);
    // aggregated per type so the contract row set is tiny
    "stream_dedup_ingest" -> ((s, dir) => {
      val e = events(s, dir)
      val replayed = e.unionByName(e.filter(col("event_id") % 97 === 0))
      streaming.Streaming.dedupIngest(replayed)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    }),
    // ingest-time contamination gate: one stateless broadcast-vocab
    // projection, identical under readStream (parity pinned in
    // StreamingIngestSpec); %3 slice plays today's crawl
    "stream_contamination_gate" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.contaminationGate(d.filter(col("doc_id") % 3 === 0),
        d.filter(col("doc_id") % 50 === 0), n = 8, minShared = 3)
    }),
    "stream_click_error" -> ((s, dir) =>
      streaming.Streaming.clickErrorJoin(events(s, dir), 600)
        .select(col("user_id"), col("error_id"),
          date_format(col("error_ts"), "yyyy-MM-dd HH:mm:ss").as("error_ts"),
          col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy(col("error_id"), col("click_id"))),
    "stats_advanced" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(stddev_pop(col("l_quantity")), 6).as("sd_qty"))
        .orderBy(col("l_returnflag"))),
    // runs as SQL (SqlSurface, r8 widening): the string function set
    "events_json_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .orderBy(col("event_type"))),
    // HOPPING (sliding) windows — the remaining time-window shape
    // (tumbling = events_hourly, session = events_sessions): 2-hour
    // windows sliding by 1 hour, so every event lands in exactly TWO
    // windows. Spark's TimeWindow expression expands each row to its
    // covering windows before one map-side-combinable aggregate — the
    // same plan runs under readStream with a watermark. The oracle
    // replays the expansion as an explicit 2-way explode.
    "events_hopping" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("w_end"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))),
    // streaming semantics in batch: session windows over events (the
    // identical plan runs under readStream with the watermark — see
    // graft.streaming.Streaming + StreamingSpec)
    "events_sessions" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))),
    // multimodal plumbing: binary payloads + metadata/decode-stub/chunking
    "multimodal_meta" -> ((s, dir) =>
      operators.Multimodal.metaSql(operators.Multimodal.fromDocuments(tbl(s, dir, "documents")))),
    // REAL codec work: a deterministic BMP per doc, encoded then decoded
    // by javax.imageio inside the partition; the oracle knows the seed
    // dims and the BMP container-size formula, so a decoder that misreads
    // the raster (or never runs) breaks the hash
    "multimodal_decode" -> ((s, dir) =>
      operators.Multimodal.imageRoundTripMeta(tbl(s, dir, "documents"))),
    "multimodal_chunks" -> ((s, dir) =>
      operators.Multimodal.chunk(operators.Multimodal.fromDocuments(tbl(s, dir, "documents")), 256)
        .select(col("media_id"), col("chunk_idx"), col("chunk_bytes"))
        .orderBy(col("media_id"), col("chunk_idx"))),
    // decode → nearest-neighbor resample → re-encode; pix_sum reads the
    // RESIZED raster back, and the oracle replays it per-pixel from the
    // seed formula — wrong source-pixel mapping breaks the hash
    "multimodal_resize" -> ((s, dir) =>
      operators.Multimodal.imageResizeMeta(tbl(s, dir, "documents"))),
    // container parse + per-frame real decode: every 2nd frame of a
    // GVID (length-prefixed BMP) container; dims + container size are
    // closed-form for the oracle
    "multimodal_frames" -> ((s, dir) =>
      operators.Multimodal.videoFrameSample(tbl(s, dir, "documents"))),
    // feature extraction: per-channel pixel sums over the decoded
    // raster; oracle replays the seed formula per (x, y) in SQL
    "multimodal_features" -> ((s, dir) =>
      operators.Multimodal.imageChannelStats(tbl(s, dir, "documents"))),
    // audio: RIFF/WAVE parse via javax.sound.sampled + PCM signal
    // features; oracle replays the sample formula per index
    "multimodal_audio" -> ((s, dir) =>
      operators.Multimodal.audioFeatures(tbl(s, dir, "documents"))),
    // build-once/search-many retrieval: postings partitioned by term
    // bucket, search reads only the query terms' buckets (static
    // PartitionFilters) and must match the from-scratch BM25 ranking
    "bm25_persisted" -> ((s, dir) => {
      operators.InvertedIndex.build(tbl(s, dir, "documents"))
      operators.InvertedIndex.search(s, bm25Query, k = 10)
    }),
    // incremental ingest: base index on a third of the corpus, the two
    // held-out thirds appended as separate _COMMITTED-gated batches;
    // the committed union must rank EXACTLY like a from-scratch index
    // of the full corpus (df and stats compose additively over
    // disjoint doc sets) — same oracle again
    "bm25_incremental" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // TWO committed append batches, not one: the searched view must
      // union base + every committed batch, and a single-batch run
      // can't tell "unions all batches" from "unions the last batch" —
      // the same multi-batch discipline dedup_incremental pins
      operators.InvertedIndex.build(docs.filter(col("doc_id") % 3 === 2))
      operators.InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === 0))
      operators.InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === 1))
      operators.InvertedIndex.search(s, bm25Query, k = 10)
    }),
    // index MAINTENANCE: the same two-batch ingest folded back into the
    // base by InvertedIndex.compact (postings re-laid by bucket, stats
    // summed to one row), then searched — the oracle is the full-corpus
    // BM25 replay, so a fold that lost a posting or double-counted a
    // stats row breaks rank order or the scores
    "bm25_compacted" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val idx = operators.InvertedIndex.indexDir + "_compact"
      operators.InvertedIndex.build(docs.filter(col("doc_id") % 3 === 2), idx)
      operators.InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === 0), idx)
      operators.InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === 1), idx)
      operators.InvertedIndex.compact(s, idx)
      operators.InvertedIndex.search(s, bm25Query, k = 10, idx)
    }),
    // strict ordered funnel (view → click → purchase): stage k counts
    // only strictly after the user's earliest stage-(k-1) completion —
    // one filtered min-aggregation per stage chained on user_id, no
    // window over event history, no event×event self-join
    "event_funnel" -> ((s, dir) => operators.Funnel.funnel(events(s, dir))),
    "funnel_summary" -> ((s, dir) => operators.Funnel.funnelSummary(events(s, dir))),
    // each funnel step's conversion WITH its Wilson 95% interval —
    // the uncertainty the bare rates lack; same counts, fixed-order
    // double formula shared with the oracle
    "funnel_wilson" -> ((s, dir) => operators.Funnel.funnelWilson(events(s, dir))),
    // CUSUM changepoint scan over daily ingest volume — cumulative
    // deviation from the series mean, peak day(s) flagged; the "did
    // the level shift, and when" monitor (day-domain windows only)
    "cusum_changepoint" -> ((s, dir) =>
      operators.Timeseries.cusumChangepoint(events(s, dir))),
    // seasonal-naive forecast scorecard: predict each day with the
    // count 7 days earlier; MAE / sMAPE / MASE (lag joins on the day
    // key, so calendar gaps mean "no forecast", never a wrong lag)
    "forecast_eval" -> ((s, dir) =>
      operators.Timeseries.seasonalNaiveEval(events(s, dir), 7)),
    // trailing-7-observed-days z-score per day, current day excluded
    // from its own baseline — local spikes flag, level shifts don't
    "rolling_anomaly" -> ((s, dir) =>
      operators.Timeseries.rollingAnomaly(events(s, dir), 7, 3.0)),
    // the seasonality-aware sibling: each day judged against its own
    // WEEKDAY's trailing baseline, so the weekly rhythm does not
    // masquerade as anomaly
    "dow_adjusted_anomaly" -> ((s, dir) =>
      operators.Timeseries.dowAdjustedAnomaly(events(s, dir), 4, 3.0)),
    // weekly cohort retention (epoch-anchored integer weeks — no
    // calendar/week-start convention for the engines to disagree on)
    "user_retention" -> ((s, dir) => operators.Funnel.retention(events(s, dir))),
    // sliding 7-day active users via the contribute-forward shape
    // (dedup to user-day, bounded explode, re-dedup) — never a
    // range self-join or a distinct-in-moving-frame window
    "active_users_7d" -> ((s, dir) =>
      operators.Funnel.rollingActiveUsers(events(s, dir), 7)),
    // CDC surface: rebuild the full SCD2 dimension history from the
    // event stream as a change log — run-length compaction of each
    // user's event_type sequence into half-open [from, to) intervals;
    // two window frames over ONE exchange+sort (event_id tie-break
    // makes the ordering total, so lag/lead agree across engines)
    "scd2_history" -> ((s, dir) =>
      operators.Cdc.scd2FromLog(events(s, dir), col("user_id"), col("ts"),
          col("event_type"), col("event_id"))
        .select(col("key").as("user_id"), col("state"),
          date_format(col("effective_from_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("effective_from"),
          date_format(col("effective_to_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("effective_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("effective_from"))),
    // the CONSUMER side of the SCD2 family: every event looks up the
    // dimension version effective at its own timestamp in the
    // pre-split history — mid-history facts exercise the half-open
    // [from, to) boundary rule (an event AT a version boundary takes
    // the newer version), post-split facts hit the open versions, and
    // facts from users absent pre-split come back NULL
    "scd2_lookup" -> ((s, dir) => {
      val ev = events(s, dir)
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      val dim = operators.Cdc.scd2FromLog(ev.filter(col("ts") < split),
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      val facts = ev.select(col("user_id").as("key"), col("ts"), col("event_id"))
      operators.Cdc.scd2Lookup(facts, dim)
        .select(col("event_id"), col("key").as("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("dim_state"),
          date_format(col("dim_effective_from_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("dim_effective_from"))
        .orderBy(col("event_id"))
    }),
    // the MERGE half of the CDC pair: current snapshot (latest state
    // per user before the split) ⊕ updates batch (latest state after)
    // through one full-outer join — unchanged / closed / new /
    // reopened lanes, idempotent on same-state re-sends
    "scd2_merge" -> ((s, dir) => {
      val ev = events(s, dir)
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      val cur = operators.Cdc.latestState(ev.filter(col("ts") < split),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .select(col("key"), col("state"), col("ts").as("effective_from_ts"))
      val upd = operators.Cdc.latestState(ev.filter(col("ts") >= split),
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      operators.Cdc.scd2Merge(cur, upd)
        .select(col("key").as("user_id"), col("state"),
          date_format(col("effective_from_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("effective_from"),
          date_format(col("effective_to_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("effective_to"),
          col("is_current"), col("lane"))
        .orderBy(col("user_id"), col("lane"), col("effective_from"))
    }),
    // timeliness beside the expectation suite: per-type last delivery
    // + lag against an EXPLICIT as-of instant (determinism: the
    // scheduler's tick is a parameter, never wall-clock in the plan)
    // robust clamping before mean-based readouts: per-event-type exact
    // p01/p99 edges, codegen least/greatest clamp, decimal-accumulated
    // raw-vs-winsorized means — the clamp keeps n intact where a
    // filter would bias it
    "value_winsorize" -> ((s, dir) => {
      val w = operators.DataQuality.winsorize(events(s, dir),
        col("event_type"), col("value"), 0.01, 0.99)
      w.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("clamped_lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
          sum(when(col("clamped_hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
          round(min(col("lo")), 6).as("p_lo"),
          round(min(col("hi")), 6).as("p_hi"),
          round(sum(col("v").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("mean_raw"),
          round(sum(col("v_w").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("mean_winsorized"))
        .select(col("grp").as("event_type"), col("n"), col("n_clamped_lo"),
          col("n_clamped_hi"), col("p_lo"), col("p_hi"),
          col("mean_raw"), col("mean_winsorized"))
        .orderBy(col("event_type"))
    }),
    // missing-day report over a corpus with PLANTED holes: drop every
    // day-of-month ≡ 3 (mod 7) deterministically in both engines, the
    // report must find exactly those days inside each type's observed
    // range — gap detection verified against known gaps, not assumed
    "calendar_gaps" -> ((s, dir) => {
      val ev = events(s, dir)
        .filter(dayofmonth(col("ts")) % 7 =!= 3)
      operators.DataQuality.calendarGaps(ev, col("event_type"), col("ts"))
    }),
    "dq_freshness" -> ((s, dir) =>
      operators.DataQuality.freshness(events(s, dir), col("event_type"),
        col("ts"), "2024-02-01 00:00:00", maxLagSeconds = 604800L)),
    // Benford first-digit conformance of order amounts: digit via an
    // exact BIGINT shift + string head (never floor(log10) on data),
    // χ² vs the log law on the 9-row digit domain
    "benford_digits" -> ((s, dir) =>
      operators.DataQuality.benfordTest(tbl(s, dir, "orders"),
        col("o_totalprice"))),
    // the ingest admission gate: predicate expectations fold into ONE
    // aggregate pass per table (a check is a column, not a scan),
    // uniqueness is one groupBy, referential integrity one anti join —
    // the report is |checks| rows regardless of corpus size. The
    // date-range and discount checks genuinely FAIL on this corpus
    // (orders run past 1999; discounts reach 0.1) — the report shows
    // real violation counts, not a wall of zeros.
    "dq_expectations" -> ((s, dir) => {
      val ord = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      val cust = tbl(s, dir, "customer")
      val dq = operators.DataQuality
      dq.tableExpectations(ord, "orders", Seq(
          "status_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
          "date_range" -> (col("o_orderdate").cast("date") <
            lit("1995-01-01").cast("date") ||
            col("o_orderdate").cast("date") >= lit("2000-01-01").cast("date")),
          "totalprice_positive" -> (col("o_totalprice").isNull ||
            col("o_totalprice") <= 0.0)))
        .unionAll(dq.tableExpectations(li, "lineitem", Seq(
          "qty_range" -> (col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
          "discount_range" -> (col("l_discount") < 0.0 ||
            col("l_discount") > 0.08))))
        .unionAll(dq.tableExpectations(cust, "customer", Seq(
          "name_nonnull" -> col("c_name").isNull)))
        .unionAll(dq.uniqueness(ord, col("o_orderkey"), "orders.pk_unique"))
        .unionAll(dq.referentialIntegrity(li, ord, col("l_orderkey"),
          col("o_orderkey"), "lineitem.fk_orders"))
        .orderBy(col("check_name"))
    }),
    // 2-D Pareto frontier over per-user engagement: the users nobody
    // beats on BOTH "fewer events" and "more total value" — the
    // quadratic NOT EXISTS definition computed in O(n log n) via the
    // distinct-domain window (oracle states the quadratic form; equal
    // rows prove the construction). Value folds in exact decimals so
    // the frontier's equality joins are bit-deterministic.
    "pareto_frontier" -> ((s, dir) => {
      val perUser = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).as("total_value"))
      operators.Skyline.frontier2d(perUser, col("n_events"), col("total_value"))
        .select(col("user_id"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy(col("n_events"), col("user_id"))
    }),
    // deterministic experiment readout: content-hash variant
    // assignment (md5 + salt, replayable across engines) and the
    // pooled two-proportion z on ≥15-purchase conversion — one
    // shuffle on user_id, z arithmetic on the 2-row frame
    "ab_test" -> ((s, dir) =>
      operators.Experiment.abTest(events(s, dir), "exp1", "purchase", 15)),
    // P(next event | current) within sessions — the Markov form of
    // session_paths; gap break and predecessor from ONE window
    // exchange, matrix bounded by |types|²
    "session_transitions" -> ((s, dir) =>
      operators.Funnel.transitionMatrix(events(s, dir), 1800L)),
    // the langId heuristic evaluated against the lang ground-truth
    // column: confusion cells + per-true-lang share — the evaluation
    // lane for the classifier the pipeline actually gates on
    "langid_confusion" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val preds = TextAnalysis.langId(d).select(col("doc_id"), col("pred_lang"))
      val cells = d.select(col("doc_id"), col("lang")).join(preds, "doc_id")
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      val rowW = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      cells.withColumn("share_of_true",
          round(col("n").cast("double") / sum(col("n")).over(rowW), 6))
        .orderBy(col("lang"), col("pred_lang"))
    }),
    // right-censored churn: Kaplan–Meier over purchase lifetimes —
    // users whose last purchase sits at the window edge are CENSORED,
    // not churned; the curve runs on the bounded duration domain
    "survival_churn" -> ((s, dir) => {
      val ev = events(s, dir)
      val subjects = ev.groupBy(col("user_id"))
        .agg(
          datediff(min(col("ts")).cast("date"),
            lit("2024-01-01").cast("date")).as("first_day"),
          datediff(max(when(col("event_type") === "purchase", col("ts")))
            .cast("date"), lit("2024-01-01").cast("date")).as("last_purchase_day"))
        .filter(col("last_purchase_day").isNotNull)
        .select(col("user_id"),
          (col("last_purchase_day") - col("first_day")).cast("long").as("t"),
          (col("last_purchase_day") < 28).as("event"))
      operators.Survival.kaplanMeier(subjects)
    }),
    // categorical-structure shift alarm: χ² independence of event
    // type × day-of-week — one count aggregation over the corpus,
    // everything else on the bounded contingency table
    "events_chi2" -> ((s, dir) =>
      operators.Experiment.chiSquare(events(s, dir), col("event_type"),
        dayofweek(col("ts")))),
    // CUPED variance reduction: pre-period spend adjusts post-period
    // spend (θ = cov/var from exact decimal moments); the same
    // experiment detects smaller effects at the same n
    "ab_cuped" -> ((s, dir) =>
      operators.Experiment.cupedAbTest(events(s, dir), "exp1",
        "2024-01-16 00:00:00")),
    // metric-sweep FDR: Welch z per event-type metric between user-
    // parity arms (null by construction) PLUS one deliberately shifted
    // synthetic metric, then Benjamini-Hochberg step-up — the shifted
    // metric must survive correction, the null ones must not; p via
    // the shared-literal A&S 26.2.17 normal-CDF fold
    "bh_fdr" -> ((s, dir) => {
      val base = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type").as("metric"),
          (col("user_id") % 2 === 0).as("isa"),
          col("value").cast("double").as("v"))
      val aug = base.unionByName(base.select(
        lit("synthetic_shift").as("metric"), col("isa"),
        (col("v") + when(col("isa"), 0.0).otherwise(50.0)).as("v")))
      val tests = operators.Experiment.metricZTests(aug,
        col("metric"), col("v"), col("isa"))
      operators.Experiment.bhAdjust(
        tests.select(col("metric"), col("p")), "metric", "p", 0.05)
    }),
    // experiment sizing from the OBSERVED base rate: per-variant n to
    // detect each absolute lift at α=0.05 / power 0.8
    "ab_power" -> ((s, dir) =>
      operators.Experiment.abPower(events(s, dir), "purchase", 15)),
    // chance-corrected agreement between two heuristic quality gates
    // (length rule vs word-count rule) — the label-audit readout; all
    // cells and marginals from ONE aggregate pass
    "rater_agreement" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      operators.Experiment.cohensKappa(d,
        col("n_chars") >= 300L,
        size(TextAnalysis.words(col("text"))) >= 55)
    }),
    // monitoring family: hourly volume z-scores from exact integer
    // moments; per-label centroid drift between the vec_id-parity
    // snapshots; equi-width value histogram
    "events_anomaly" -> ((s, dir) => operators.Monitor.hourlyAnomaly(events(s, dir))),
    // last-touch attribution: each purchase credits the user's most
    // recent preceding click's campaign bucket (k % 4 from the props
    // JSON) via the as-of join; purchases with no prior click land in
    // the organic lane
    "attribution_last_touch" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      operators.Joins.asofJoin(purchases, clicks, "user_id", "ts", "ts", Seq("k"))
        .groupBy(when(col("asof_k").isNull, lit("organic"))
          .otherwise(concat(lit("campaign_"), col("asof_k") % 4)).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("attributed_value"))
        .orderBy(col("channel"))
    }),
    // multi-touch LINEAR attribution — last-touch's companion: every
    // click in the hour before a purchase shares the credit equally
    // (value/n per touch). The purchase×click product is bounded by
    // the time-bucketed range join (never a full per-user cross
    // product); the touch count is a window PARTITIONED by purchase;
    // per-touch credits round at 6 dp per ROW then fold in exact
    // decimals (the pipeline_media discipline), so the per-channel
    // sum is order-independent. Untouched purchases keep full credit
    // in the organic lane via a left anti join.
    "attribution_linear" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      val touches = operators.Joins.rangeJoinPrior(
        purchases, clicks, "user_id", "ts", "click_ts", gapSeconds = 3600L)
      val credits = touches
        .withColumn("n_touches",
          count(lit(1)).over(Window.partitionBy(col("event_id"))))
        .select(concat(lit("campaign_"), col("k") % 4).as("channel"),
          round(col("value") / col("n_touches"), 6).as("credit"))
      val organic = purchases
        .join(touches.select(col("event_id")).distinct(),
          Seq("event_id"), "left_anti")
        .select(lit("organic").as("channel"), round(col("value"), 6).as("credit"))
      credits.unionByName(organic)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit").cast(DecimalType(18, 6))).cast("double")
            .as("attributed_value"))
        .orderBy(col("channel"))
    }),
    // position-based (U-shaped) attribution — the third member of the
    // credit family: first and last touch take 40% each, middles share
    // the remaining 20% (1 touch → 100%, 2 → 50/50). Same bounded
    // range-join touch set as linear; position is a row_number window
    // PARTITIONED by purchase ordered on (click_ts, k) — a full tie
    // implies the same k, hence the same channel, so per-channel sums
    // stay deterministic even when the endpoint assignment among tied
    // rows is not. Per-row rounding + decimal fold as in linear.
    "attribution_u_shaped" -> ((s, dir) =>
      operators.Funnel.uShapedAttribution(events(s, dir), 3600L)),
    // the planning family composed into its decision: counts + CMS
    // join-size estimate + exact top-key share → a deterministic,
    // oracle-replayable strategy recommendation (the join itself is
    // never executed)
    "join_advisor" -> ((s, dir) =>
      operators.Joins.joinAdvisor(
        tbl(s, dir, "lineitem"), "l_suppkey",
        tbl(s, dir, "supplier"), "s_suppkey")),
    // weekly-cycle variance share: 1 − SS_within/SS_total over dow
    // means — "is this series mostly weekly rhythm?" next to the
    // lag-7 forecast eval
    "seasonality_strength" -> ((s, dir) =>
      operators.Timeseries.seasonalityStrength(events(s, dir))),
    // robust daily trend: median pairwise slope over the (guarded,
    // pre-squaring-bounded) day domain + median intercept — the
    // breakdown-resistant "is volume actually growing" number
    "theilsen_trend" -> ((s, dir) =>
      operators.Timeseries.theilSenTrend(events(s, dir))),
    // the transition matrix EVALUATED as an order-1 model: argmax
    // next-type per from-state (min(struct(-n, to)) — highest n,
    // first name on ties), accuracy = n(from, argmax)/n(from); the
    // "how predictable is this stream" baseline
    "markov_accuracy" -> ((s, dir) =>
      operators.Funnel.markovAccuracy(events(s, dir), 1800L)),
    // top 3-step event paths inside gap sessions (the flow-diagram
    // feed); deterministic in-session order on (ts, event_id)
    "session_paths" -> ((s, dir) =>
      operators.Funnel.sessionPaths(events(s, dir), 1800L, 3, 20)),
    // signup -> first-subsequent-purchase latency quantiles (exact
    // percentile interpolation, the token_percentiles contract)
    "time_to_convert" -> ((s, dir) =>
      operators.Funnel.timeToConvert(events(s, dir))),
    // corpus-versioning audit: classify every doc across two snapshots
    // by content digest; the "new" snapshot is built deterministically
    // in both engines — %7 docs removed, %5 survivors changed, %11
    // docs re-added under a shifted id
    "corpus_diff" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val nw = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + nfcTwinOffset).as("doc_id"), col("text")))
      operators.CorpusPipeline.snapshotDiff(d, nw)
    }),
    // per-column completeness/cardinality profile in one scan
    "table_profile" -> ((s, dir) =>
      operators.Monitor.profile(events(s, dir), profileCols)),
    // trending top-k types per tumbling window — the batch form of the
    // windowCounts streaming stage + sink-side ranking (stream/batch
    // parity pinned in StreamingSpec)
    "stream_trending" -> ((s, dir) =>
      streaming.Streaming.trendingTypes(events(s, dir),
        trendingWindowSeconds, trendingTopK)),
    // all-pairs mean cosine per label from ONE linear pass (the
    // ||Σx||² identity on unit vectors) — the n² diversity statistic
    // without a pair join anywhere
    "embedding_dispersion" -> ((s, dir) =>
      operators.Clustering.embeddingDispersion(emb(s, dir), "label")),
    "embedding_drift" -> ((s, dir) =>
      operators.Monitor.embeddingDrift(emb(s, dir), col("vec_id") % 2 === 0)),
    "value_histogram" -> ((s, dir) =>
      operators.Monitor.valueHistogram(events(s, dir), "event_type", "value", histWidth)),
    // the planner-stats histogram: quantile edges (every bin ~n/bins
    // rows), observed counts reported so tie-skew SHOWS; one
    // percentile pass + one codegen bin fold (the psi_drift shape)
    "equidepth_histogram" -> ((s, dir) =>
      operators.Monitor.equidepthHistogram(events(s, dir), "value", 10)),
    // privacy release gate: equivalence-class size distribution over
    // the (source, lang, length-bucket) quasi-identifier tuple — the
    // k-anonymity table the pii_scrub family's auditors read
    "k_anonymity" -> ((s, dir) =>
      operators.Monitor.kAnonymity(
        tbl(s, dir, "documents").withColumn("len_bucket",
          floor(col("n_chars") / lit(100)).cast("long")),
        Seq("source", "lang", "len_bucket"))),
    // the disclosure HALF of the privacy pair: a k-anonymous class
    // whose records all share one sensitive value still leaks it —
    // per-class distinct-sensitive-value counts, reported as the l
    // distribution (release gate = min l)
    "l_diversity" -> ((s, dir) =>
      operators.Monitor.lDiversity(
        tbl(s, dir, "documents"),
        Seq("source", "lang"),
        floor(col("n_chars") / lit(100)).cast("long"))),
    // the privacy trio's third gate: even an l-diverse class leaks if
    // its sensitive DISTRIBUTION skews from the table's — per-class
    // ordered EMD (cumulative |p−q| over the observed value domain)
    "t_closeness" -> ((s, dir) =>
      operators.Monitor.tCloseness(
        tbl(s, dir, "documents"),
        Seq("source", "lang"),
        floor(col("n_chars") / lit(100)).cast("long"))),
    // recency-weighted popularity: 2^(-age/1d) at the stream horizon
    "events_decayed" -> ((s, dir) =>
      operators.Monitor.decayedCounts(events(s, dir), "event_type", 86400L)),
    // the mixing dial: per-source language balance (entropy in nats)
    "class_balance" -> ((s, dir) =>
      operators.Sampling.classBalance(tbl(s, dir, "documents"), "source", "lang")),
    // robust (MAD) length outliers — the median cannot be dragged by
    // the very outliers being hunted, unlike a mean/stddev z-score
    "doclen_outliers" -> ((s, dir) =>
      operators.Monitor.robustOutliers(
        tbl(s, dir, "documents")
          .select(col("doc_id"), size(TextAnalysis.words(col("text"))).as("n_words")),
        "doc_id", "n_words")),
    // PageRank over the minhash dup graph: centrality as a curation
    // signal (hub copies of a template family rank highest); fixed
    // 5-round power iteration with every step 9-dp-quantized so the
    // oracle replays identical rank tables in a recursive CTE. On THIS
    // corpus every dup component is regular (isolated pairs + complete
    // triangles from exact-dup triples), so the correct fixpoint is
    // uniform 1/n — the contract verifies five rounds of identical
    // arithmetic; GraphSpec pins centrality ORDERING on asymmetric
    // graphs (stars, paths) where ranks genuinely differ
    "dup_pagerank" -> ((s, dir) =>
      operators.Graph.pageRank(Dedup.minhashLshPairsCore(tbl(s, dir, "documents"), 0.5))),
    // distributed BPE: merges learned over the vocabulary-bounded
    // word-frequency table (m aggregation rounds, one driver row each),
    // dumped, then applied as chained codegen'd literal replaces; the
    // oracle re-applies the dumped merges with a list_reduce fold —
    // learning is spec-verified, the applied tokenizer hash-verified
    "bpe_tokenize" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val merges = operators.Bpe.learnMerges(d, m = 12)
      operators.Bpe.dumpMerges(s, merges)
      operators.Bpe.tokenizeCounts(d, merges)
    }),
    // learned quality filter (CCNet/fastText analogue): MLlib fits a
    // logistic regression on per-doc signals vs the lang='en' proxy
    // label; scoring is a codegen'd dot fold + sigmoid over the DUMPED
    // weights — the oracle replays it from the same parquet doubles
    "quality_classifier" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val w = operators.QualityModel.fitCached(d, dir)
      operators.QualityModel.dumpWeights(s, w)
      operators.QualityModel.score(d, w)
    }),
    // classifier EVALUATION at corpus scale: tie-aware Mann-Whitney
    // ROC AUC from per-score counts (the global cumulative window runs
    // on the ≤10⁶-row quantized score domain, not the corpus) — the
    // oracle replays scoring from the dumped weights, then the same
    // integral rank arithmetic
    "classifier_auc" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val w = operators.QualityModel.fitCached(d, dir)
      operators.QualityModel.dumpWeights(s, w)
      operators.QualityModel.rocAuc(
        operators.QualityModel.score(d, w).join(
          d.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("label")), Seq("doc_id")))
    }),
    // KS separation of the same classifier: the max CDF gap names the
    // single best filter threshold's power (AUC integrates all cuts)
    "classifier_ks" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val w = operators.QualityModel.fitCached(d, dir)
      operators.QualityModel.dumpWeights(s, w)
      operators.QualityModel.ksStatistic(
        operators.QualityModel.score(d, w).join(
          d.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("label")), Seq("doc_id")))
    }),
    // the reliability-diagram table: per score decile, count, mean
    // predicted quality (exact decimal fold), observed positive rate —
    // the check that filter scores work as sampling WEIGHTS
    "calibration_bins" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val w = operators.QualityModel.fitCached(d, dir)
      operators.QualityModel.dumpWeights(s, w)
      operators.QualityModel.calibrationBins(
        operators.QualityModel.score(d, w).join(
          d.select(col("doc_id"),
            (col("lang") === "en").cast("long").as("label")), Seq("doc_id")))
    }),
    // staged curriculum order under a seeded deterministic shuffle —
    // the replayable epoch-order builder (md5 keys, not rand();
    // TakeOrderedAndProject, no global sort)
    "curriculum_order" -> ((s, dir) =>
      operators.Sampling.curriculumOrder(tbl(s, dir, "documents"))),
    // score → percentile calibration ("keep the top 30%", model-swap
    // stable) — the oracle runs the global percent_rank window; the
    // engine builds the same ranks from bounded-domain per-score
    // counts, no global sort
    "quality_percentiles" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val w = operators.QualityModel.fitCached(d, dir)
      operators.QualityModel.dumpWeights(s, w)
      operators.QualityModel.percentileRanks(
        operators.QualityModel.score(d, w))
    }),
    // learned dimensionality reduction: MLlib fits the components, the
    // projection is our codegen'd dot fold over the DUMPED weights —
    // the oracle replays it with list_dot_product on the same doubles
    "embedding_pca" -> ((s, dir) => {
      val e = emb(s, dir)
      val comps = operators.Pca.fitComponents(e, k = 4)
      operators.Pca.dumpComponents(s, comps)
      operators.Pca.project(e, comps)
    }),
    // lenient decode with a quarantine lane: every 7th payload is
    // truncated mid-header; the real decoder must quarantine those rows
    // (status/error, null dims) and decode the rest — job survives
    "multimodal_quarantine" -> ((s, dir) =>
      operators.Multimodal.quarantineRoundTrip(tbl(s, dir, "documents"),
        corruptEvery = quarantineEvery)),
    // media-curation composition (the multimodal analogue of
    // pipeline_clean_corpus): route docs by modality to real decode
    // branches — channel stats / audio RMS / frame sampling — gate each
    // on its metric threshold, summarize keep rates per modality. The
    // metric is rounded at 6 dp per ROW, then accumulated in exact
    // decimals, so the per-modality average is an order-independent fold
    "pipeline_media" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val MMo = operators.Multimodal
      val img = MMo.imageChannelStats(docs.filter(col("doc_id") % 3 === 0))
        .select(lit("image").as("modality"),
          round((col("sum_r") * 299 + col("sum_g") * 587 + col("sum_b") * 114)
            .cast("double") / (lit(1000.0) * col("width") * col("height")), 6)
            .as("metric"))
      val aud = MMo.audioFeatures(docs.filter(col("doc_id") % 3 === 1))
        .select(lit("audio").as("modality"), round(col("rms"), 6).as("metric"))
      val vid = MMo.videoFrameSample(docs.filter(col("doc_id") % 3 === 2))
        .groupBy(col("media_id")).agg(sum(col("frame_bytes")).as("fb"))
        .select(lit("video").as("modality"), col("fb").cast("double").as("metric"))
      val thr = typedLit(mediaThresholds)
      img.unionByName(aud).unionByName(vid)
        .withColumn("keep", col("metric") >= element_at(thr, col("modality")))
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          round(sum(col("metric").cast(DecimalType(24, 6))).cast("double")
            / count(lit(1)), 6).as("avg_metric"))
        .orderBy(col("modality"))
    }),
    // §2.2/§2.3 facade integration: embeddings → VectorFieldDB →
    // autoClusterPhi(ctx=3) → per-band pglyph summary. Oracle-checked:
    // pglyph UUIDs are generated, but the reported (tag, size, inertia)
    // triple is deterministic — the φ-band partition + rounded-centroid
    // inertia of the ctx=3 slice, SQL-expressible on `embeddings`
    "vfdb_pipeline" -> ((s, dir) => {
      import s.implicits._
      val db = new VectorFieldDB(s, 64)
      val glyphs = sources.Tables.embeddingsAddressed(s, dir).select(
        col("vec_id").cast("string").as("iglyph_id"),
        col("glyph_id").cast("int").as("glyph_id"),
        col("outer_context_id"),
        col("embedding"),
        col("label").cast("string").as("label"),
        lit(null).cast("string").as("proto_id"),
        parse_json(lit("{}")).as("meta"),
        lit("1.0.0").as("version"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("timestamp"))
      db.addIGlyphsDF(glyphs) // distributed batch write — no driver collect
      val pgIds = db.autoClusterPhiBatch(ctx = 3, anchorGlyphId = 100)
      // one distributed pass over the pglyph table (isin over ≤ levels
      // generated UUIDs is bounded) — not a point lookup per band, which
      // would re-execute the cluster aggregation through the lineage
      db.pglyphs.filter(col("pglyph_id").isin(pgIds: _*))
        .select(col("cluster_tag"),
          size(col("member_ids")).cast("long").as("n_members"),
          round(col("inertia"), 6).as("inertia"))
        .orderBy(col("cluster_tag"))
    })
  )

  /** Shared oracle-SQL fragments. */
  // mixture_sample weights — shared by the query and its oracle so both
  // engines apply the identical when-chain
  private val mixtureWeights = Map(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  // mixture_upsample weights — exact binary fractions so `w - floor(w)`
  // folds bit-identically in both engines
  private val upsampleWeights = Map(
    "src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.0, "src3" -> 0.0)

  // token_budget per-source budgets (tokens): sized to bite at sf0.01
  // (~1.3k tokens/source) — src2 drops entirely, others keep a prefix.
  // Shard count and default budget are shared between the registration
  // and the oracle SQL, so changing either cannot silently break parity
  private val tokenBudgets = Map("src0" -> 800L, "src1" -> 500L, "src2" -> 0L)
  private val tokenBudgetShards = 8
  private val tokenBudgetDefault = 1000L

  // pack_windows geometry, shared between registration and oracle for
  // the same reason
  private val packWindowTokens = 512
  private val packWindowShards = 8

  // normalized_dedup twin decoration: suffix A is precomposed lowercase
  // " café" (U+00E9), suffix B is DECOMPOSED uppercase with a double
  // space ("  CAFE" + combining acute U+0301) — byte-distinct, but
  // NFC + casefold + whitespace-collapse maps both to " café". Escapes,
  // not raw glyphs, so no editor/transport can silently re-normalize
  // the source; the oracle interpolation below rebuilds the same
  // strings via chr() codepoints for the same reason
  private[graft] val nfcSuffixA = " caf\u00e9"
  private[graft] val nfcSuffixB = "  CAFE\u0301"
  private[graft] val nfcTwinOffset = 1000000L

  // value_histogram bin width, shared with the oracle
  private val histWidth = 25.0

  // table_profile column list, shared with the oracle AND the
  // SQL-surface form (one definition, three consumers — a missed edit
  // would otherwise produce a silent row-count mismatch between them)
  private[graft] val profileCols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  // stream_trending geometry, shared with the oracle (Spark's window()
  // buckets are epoch-aligned; the oracle floors epoch micros to match)
  private val trendingWindowSeconds = 21600L
  private val trendingTopK = 3

  // RRF smoothing constant (Cormack et al. 2009), shared with the oracle
  private val rrfK0 = 60

  // events_pivot column set, shared with the oracle (sorted, fixed —
  // a dynamic pivot would scan once just to discover values)
  private[graft] val pivotTypes = Seq("click", "error", "purchase", "signup", "view")
  /** A DuckDB expression producing `s` via chr() codepoints only. */
  private def sqlChr(s: String): String =
    s.codePoints().toArray.map(cp => s"chr($cp)").mkString("(", " || ", ")")

  /** The event_funnel / funnel_summary oracle stage chain — min-ts per
    * stage, strictly-after + window gating at epoch micros. ONE
    * definition so the per-user table and its summary cannot disagree.
    */
  private lazy val funnelCtes: String = {
    val Seq(st1, st2, st3) = operators.Funnel.funnelStages
    val w = operators.Funnel.funnelWindowSeconds * 1000000L
    s"""s1 AS (SELECT user_id, min(ts) AS t1 FROM events
       |            WHERE event_type = '$st1' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
       |       WHERE e.event_type = '$st2' AND epoch_us(e.ts) > epoch_us(s1.t1)
       |         AND epoch_us(e.ts) <= epoch_us(s1.t1) + $w GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
       |       WHERE e.event_type = '$st3' AND epoch_us(e.ts) > epoch_us(s2.t2)
       |         AND epoch_us(e.ts) <= epoch_us(s2.t2) + $w GROUP BY 1)""".stripMargin
  }

  // bm25_search query terms — all in the synthetic vocabulary
  private val bm25Query = Seq("query", "fast", "merge")

  /** The MRR evaluation query set — fixed ids, corpus-present terms
    * (TESTDATA vocabulary), shared verbatim with the oracle.
    */
  private val mrrQueries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("query", "fast", "merge"),
    1 -> Seq("vector", "window"),
    2 -> Seq("stream", "sort", "hash"))

  /** BM25 oracle — shared by bm25_search (from-scratch) and
    * bm25_persisted (inverted-index path): identical expected ranking.
    */
  /** The shared BM25 CTE chain (no leading WITH), ending in `lex`
    * (doc_id, n_terms_hit, bm25) — one definition for the three BM25
    * oracles AND the hybrid-fusion oracle's lexical arm.
    */
  /** The fuzzy-linkage ENGINE side, shared by fuzzy_match and
    * fuzzy_match_eval exactly as [[fuzzyCtes]] is shared by their
    * oracles — one corruption construction, so the linkage shipped and
    * the linkage evaluated can never drift apart.
    */
  private def fuzzyDirty(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part")
    val name = col("p_name")
    val len1 = length(element_at(split(name, " "), 1))
    val pos = lit(2) + pmod(col("p_partkey"), (len1 - lit(1)).cast("bigint"))
    p.select(col("p_partkey"),
      when(col("p_partkey") % 2 === 0,
        concat(name.substr(lit(1), (pos - 1).cast("int")),
          name.substr((pos + 1).cast("int"), lit(1000))))
        .otherwise(name).as("name"))
  }

  private def fuzzyMatched(s: SparkSession, dir: String): DataFrame =
    operators.Joins.fuzzyMatch(fuzzyDirty(s, dir),
      tbl(s, dir, "part").select(col("p_name").as("name")), "p_partkey",
      n => element_at(split(n, " "), -1), maxDist = 1)

  /** The fuzzy-linkage CTE chain (no leading WITH), ending in `dirty`
    * and `best` — shared by the fuzzy_match oracle and its P/R/F1
    * evaluation so the two replays cannot drift.
    */
  /** The shared dirty-name construction (no leading WITH), ending in
    * `dirty` and `cat` — one definition for every linkage oracle.
    */
  private lazy val fuzzyBaseCtes: String =
    s"""pos AS (SELECT p_partkey, p_name,
       |    2 + p_partkey % (length(split_part(p_name, ' ', 1)) - 1) AS pos
       |  FROM part),
       |dirty AS (SELECT p_partkey,
       |    CASE WHEN p_partkey % 2 = 0
       |      THEN substr(p_name, 1, CAST(pos - 1 AS INT)) || substr(p_name, CAST(pos + 1 AS INT))
       |      ELSE p_name END AS name
       |  FROM pos),
       |cat AS (SELECT DISTINCT p_name AS cname FROM part)""".stripMargin

  private lazy val fuzzyCtes: String =
    s"""$fuzzyBaseCtes,
       |cand AS (SELECT d.p_partkey, d.name, c.cname,
       |    levenshtein(d.name, c.cname) AS dist
       |  FROM dirty d JOIN cat c
       |    ON split_part(d.name, ' ', 2) = split_part(c.cname, ' ', 2)
       |  WHERE abs(length(d.name) - length(c.cname)) <= 1
       |    AND levenshtein(d.name, c.cname) <= 1),
       |best AS (SELECT p_partkey, cname, dist,
       |    row_number() OVER (PARTITION BY p_partkey ORDER BY dist, cname) AS rn
       |  FROM cand)""".stripMargin

  private lazy val bm25Ctes: String = {
      val terms = bm25Query.map(t => s"x = '$t'").mkString(" OR ")
      s"""w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
         |e AS (SELECT doc_id, dl, unnest(list_filter(ws, x -> $terms)) AS w FROM d),
         |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf FROM e GROUP BY 1, 2, 3),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
         |sc AS (SELECT tf.doc_id,
         |         round((ln((st.n_docs - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE) + 1.0::DOUBLE)
         |           * (tf.tf * 2.2::DOUBLE)) /
         |           (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE
         |             + (0.75::DOUBLE * tf.dl) / (st.sum_dl::DOUBLE / st.n_docs))), 9) AS s
         |       FROM tf JOIN df USING (w) CROSS JOIN st),
         |lex AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
         |          round(CAST(sum(CAST(s AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
         |        FROM sc GROUP BY doc_id)""".stripMargin
  }

  private lazy val bm25OracleSql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, n_terms_hit, bm25
       |FROM lex ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** MRR replay: the same per-(query, doc) decimal-accumulated BM25,
    * row_number ranking with the TopKAgg tie rule, first-relevant-rank
    * inside the top-10, rr = 0 when no relevant doc makes the cut.
    */
  /** The two-set incremental replay shared by dedup_incremental and
    * dedup_incremental_compacted — history is doc_id %3 != 0 either
    * way; whether it sits in one frame or a compacted persisted index
    * must not change a single flag.
    */
  private lazy val dedupIncrementalOracleSql: String =
    s"""WITH seeds AS (SELECT unnest(range(16)) AS seed),
         |${minhashSideCtes("I", "doc_id % 3 = 0")},
         |${minhashSideCtes("H", "doc_id % 3 <> 0")},
         |hd AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 3 <> 0),
         |ie AS (SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 3 = 0),
         |ex AS (SELECT DISTINCT ie.doc_id FROM ie JOIN hd USING (h)),
         |cand AS (SELECT DISTINCT i.doc_id, h.doc_id AS hist_id
         |         FROM bandedI i JOIN bandedH h
         |           ON i.band = h.band AND i.band_key = h.band_key),
         |inter AS (SELECT c.doc_id, c.hist_id, count(*) AS c
         |          FROM cand c JOIN shI a ON a.doc_id = c.doc_id
         |                      JOIN shH b ON b.doc_id = c.hist_id AND a.shingle = b.shingle
         |          GROUP BY 1, 2),
         |near AS (SELECT DISTINCT i.doc_id
         |         FROM inter i JOIN szI x ON i.doc_id = x.doc_id
         |                      JOIN szH y ON i.hist_id = y.doc_id
         |         WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5)
         |SELECT ie.doc_id,
         |  (ex.doc_id IS NOT NULL) AS exact_dup_hist,
         |  (near.doc_id IS NOT NULL) AS near_dup_hist,
         |  (ex.doc_id IS NULL AND near.doc_id IS NULL) AS keep
         |FROM ie LEFT JOIN ex ON ie.doc_id = ex.doc_id
         |        LEFT JOIN near ON ie.doc_id = near.doc_id
         |ORDER BY ie.doc_id""".stripMargin

  private lazy val bm25MrrOracleSql: String = {
    val allTerms = mrrQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val qtRows = mrrQueries.flatMap { case (q, ts) =>
      ts.distinct.map(t => s"($q, '$t', ${ts.distinct.size})")
    }.mkString(", ")
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
       |d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |qt(query_id, w, n_q_terms) AS (VALUES $qtRows),
       |e AS (SELECT doc_id, dl, unnest(list_filter(ws, x -> x IN ($allTerms))) AS w FROM d),
       |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf FROM e GROUP BY 1, 2, 3),
       |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |sc AS (SELECT qt.query_id, qt.n_q_terms, tf.doc_id,
       |         CAST(count(*) AS BIGINT) AS n_hit,
       |         round(CAST(sum(CAST(
       |           round((ln((st.n_docs - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE) + 1.0::DOUBLE)
       |             * (tf.tf * 2.2::DOUBLE)) /
       |             (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE
       |               + (0.75::DOUBLE * tf.dl) / (st.sum_dl::DOUBLE / st.n_docs))), 9)
       |           AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
       |       FROM tf JOIN df USING (w) JOIN qt USING (w) CROSS JOIN st
       |       GROUP BY 1, 2, 3),
       |rk AS (SELECT *, CAST(row_number() OVER
       |         (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
       |       FROM sc),
       |rel AS (SELECT query_id, doc_id FROM sc WHERE n_hit = n_q_terms),
       |fr AS (SELECT r.query_id,
       |         min(CASE WHEN rel.doc_id IS NOT NULL AND r.rank <= 10
       |                  THEN r.rank END) AS first_rel_rank
       |       FROM rk r LEFT JOIN rel
       |         ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
       |       GROUP BY 1),
       |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
       |       FROM rel GROUP BY 1)
       |SELECT fr.query_id, coalesce(nr.n_relevant, 0) AS n_relevant,
       |  fr.first_rel_rank,
       |  coalesce(round(1.0 / fr.first_rel_rank, 6), 0.0) AS reciprocal_rank
       |FROM fr LEFT JOIN nr ON fr.query_id = nr.query_id
       |ORDER BY fr.query_id""".stripMargin
  }

  /** Layout-independent IVF probe+scan replay from a layout's dumped
    * centroids — shared by ann_ivf_persisted and ann_ivf_compacted
    * (compaction must be invisible to semantics, so both layouts
    * verify against the SAME oracle text modulo the centroid path).
    */
  private def ivfPersistedOracle(path: String): String =
    s"""WITH c AS (SELECT cell, centroid FROM '$path/centroids/*.parquet'),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
       |pr AS (SELECT cell FROM c CROSS JOIN q
       |       ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, cell LIMIT 3),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |d AS (SELECT e.vec_id, e.v, c.cell,
       |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
       |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
       |      FROM e CROSS JOIN c),
       |a AS (SELECT vec_id, v, cell FROM
       |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |         FROM d)
       |      WHERE rn = 1)
       |SELECT a.vec_id, CAST(a.cell AS INT) AS cell, round(${cosSql("a.v", "q.qe")}, 6) AS score
       |FROM a JOIN pr ON a.cell = pr.cell CROSS JOIN q
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) + 1e-12)"

  // 62-bit count-weighted SimHash per document (bit j = bit j of
  // md5(word), MSB-first) — shared prefix of both simhash oracles
  private val simhashSql =
    s"""WITH wrd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |            FROM documents),
       |wc AS (SELECT doc_id, word, count(*) AS cnt, md5(word) AS h FROM wrd GROUP BY doc_id, word),
       |bits AS (SELECT doc_id, j,
       |           sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(j//4 AS INT)+1, 1)) - 1)
       |                          >> CAST(3 - (j%4) AS INT)) & 1 = 1
       |               THEN cnt ELSE -cnt END) AS weight
       |         FROM wc CROSS JOIN (SELECT unnest(range(${operators.Dedup.SimhashBits})) AS j)
       |         GROUP BY doc_id, j),
       |sh2 AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN weight > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |        FROM bits GROUP BY doc_id)""".stripMargin

  // distinct 3-word shingles per document
  // doc_quality CTE chain, shared with pipeline_clean_corpus. The ratio
  // expressions are repeated inside `keep` (not referenced by alias) so
  // both engines fold the identical rounded doubles.
  private val qTopW = "round(top_w::DOUBLE / n_words, 6)"
  private val qTopBg = "CASE WHEN coalesce(n_bg, 0) = 0 THEN 0.0 " +
    "ELSE round(top_bg::DOUBLE / n_bg, 6) END"
  private val qPunct =
    "CASE WHEN n_chars = 0 THEN 0.0 ELSE round(punct_c::DOUBLE / n_chars, 6) END"
  private val qKeep = s"(n_words >= 10 AND $qTopW <= 0.20 AND ($qTopBg) <= 0.18 " +
    s"AND $qPunct <= 0.30 AND stop_c >= 1)"
  private val qualityCtes = {
    val stops = operators.TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
    s"""d AS (SELECT doc_id, trim(text) AS t,
       |        regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
       |wu AS (SELECT doc_id, unnest(ws) AS w FROM d),
       |wc AS (SELECT doc_id, w, count(*) AS c FROM wu GROUP BY 1, 2),
       |wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
       |         CAST(max(c) AS BIGINT) AS top_w,
       |         CAST(sum(CASE WHEN w IN ($stops) THEN c ELSE 0 END) AS BIGINT) AS stop_c
       |       FROM wc GROUP BY 1),
       |bu AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
       |       FROM d),
       |bc AS (SELECT doc_id, bg, count(*) AS c FROM bu GROUP BY 1, 2),
       |ba AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg,
       |         CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1),
       |ca AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
       |         CAST(length(t) - length(regexp_replace(t, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS punct_c
       |       FROM d)""".stripMargin
  }

  // fixture-formula constants shared with the multimodal operators —
  // interpolated into the oracle SQL so a retuned operator cannot
  // silently drift from its oracle (same discipline as tokenBudget)
  private val MM = operators.Multimodal
  private val mmDimW = s"${MM.DimBase} + doc_id % ${MM.DimMod}"
  private val mmDimH = s"${MM.DimBase} + (doc_id // ${MM.DimMod}) % ${MM.DimMod}"

  /** Per-modality keep thresholds for pipeline_media — near the sf0.01
    * metric medians so the gate splits non-trivially; shared between the
    * Spark plan and the oracle SQL.
    */
  private val mediaThresholds: Map[String, Double] =
    Map("image" -> 125.0, "audio" -> 18918.0, "video" -> 2300.0)

  /** Corruption stride for multimodal_quarantine — shared between the
    * fixture and the oracle.
    */
  private val quarantineEvery = 7

  private val shingleCte =
    """w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                                            for i in range(1, len(ws)-1)])) AS shingle
      |       FROM w WHERE len(ws) >= 3)""".stripMargin

  // brute-force incremental-containment replay — shared VERBATIM by
  // containment_incremental and every lane that runs the same gate
  // (from text, or persisted, or persisted-then-appended/compacted)
  private lazy val containmentIncrementalOracle =
    s"""WITH $shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |it AS (SELECT a.doc_id AS doc_id, b.doc_id AS hist_id, count(*) AS c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle
       |       WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       |       GROUP BY 1, 2),
       |v AS (SELECT i.doc_id,
       |        round(i.c::DOUBLE / least(x.n, y.n), 6) AS containment
       |      FROM it i JOIN sz x ON i.doc_id = x.doc_id
       |                JOIN sz y ON i.hist_id = y.doc_id
       |      WHERE round(i.c::DOUBLE / least(x.n, y.n), 6) >= 0.9),
       |hh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |         max(containment) AS max_containment
       |       FROM v GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(z.n, 0) AS BIGINT) AS n_sh,
       |  coalesce(hh.n_hits, 0) AS n_hits,
       |  coalesce(hh.max_containment, 0.0) AS max_containment,
       |  coalesce(hh.n_hits, 0) > 0 AS contained
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN sz z ON d.doc_id = z.doc_id
       |LEFT JOIN hh ON d.doc_id = hh.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ICWS weighted-Jaccard replay: identical md5-mantissa uniforms,
  // every ln 9-dp-quantized immediately (+, x, /, floor on identical
  // doubles are exactly rounded in both engines), the degenerate-draw
  // greatest() clamps, argmin ties broken on (lna, elem, t), the same
  // 6-dp readouts — shared VERBATIM by source_weighted_jaccard_icws
  // and the persisted-layout probe (row-for-row identical)
  private lazy val icwsWeightedJaccardOracle =
    s"""WITH t AS (SELECT source AS g,
       |             unnest(regexp_split_to_array(trim(text), '\\s+')) AS e
       |           FROM documents
       |           WHERE text IS NOT NULL AND source IS NOT NULL),
       |wts AS (SELECT g, e, CAST(count(*) AS DOUBLE) AS w FROM t
       |        WHERE e <> '' GROUP BY g, e),
       |tot AS (SELECT g, sum(w) AS tot FROM wts GROUP BY g),
       |ex AS (SELECT g, e, w, i FROM wts
       |       CROSS JOIN (SELECT unnest(range(32)) AS i)),
       |d AS (SELECT g, e, w, i,
       |  (CAST('0x' || substr(md5('icws:r1:' || i || ':' || e), 1, 12) AS BIGINT) + 0.5) / power(16.0, 12) AS ur1,
       |  (CAST('0x' || substr(md5('icws:r2:' || i || ':' || e), 1, 12) AS BIGINT) + 0.5) / power(16.0, 12) AS ur2,
       |  (CAST('0x' || substr(md5('icws:c1:' || i || ':' || e), 1, 12) AS BIGINT) + 0.5) / power(16.0, 12) AS uc1,
       |  (CAST('0x' || substr(md5('icws:c2:' || i || ':' || e), 1, 12) AS BIGINT) + 0.5) / power(16.0, 12) AS uc2,
       |  (CAST('0x' || substr(md5('icws:b:' || i || ':' || e), 1, 12) AS BIGINT) + 0.5) / power(16.0, 12) AS ub
       |      FROM ex),
       |sc AS (SELECT g, e, i, ub,
       |         greatest(round(-ln(ur1 * ur2), 9), 1e-9) AS lr,
       |         round(ln(greatest(-round(ln(uc1 * uc2), 9), 1e-9)), 9) AS lnc,
       |         round(ln(w), 9) AS lnw
       |       FROM d),
       |s2 AS (SELECT g, e, i, lr, lnc, ub,
       |         floor(lnw / lr + ub) AS t
       |       FROM sc),
       |s3 AS (SELECT g, e, i, t,
       |         round(lnc - lr * (t + 1.0 - ub), 9) AS lna
       |       FROM s2),
       |sk AS (SELECT g, i, e AS se, t AS st FROM (
       |         SELECT g, e, i, t, lna,
       |           row_number() OVER (PARTITION BY g, i
       |             ORDER BY lna, e, t) AS rn
       |         FROM s3) WHERE rn = 1),
       |est AS (SELECT a.g AS group_a, b.g AS group_b,
       |          CAST(sum(CASE WHEN a.se = b.se AND a.st = b.st
       |            THEN 1 ELSE 0 END) AS BIGINT) AS matches
       |        FROM sk a JOIN sk b ON a.i = b.i AND a.g < b.g
       |        GROUP BY 1, 2),
       |sh AS (SELECT x.g AS group_a, y.g AS group_b,
       |         sum(least(x.w, y.w)) AS sm
       |       FROM wts x JOIN wts y ON x.e = y.e AND x.g < y.g
       |       GROUP BY 1, 2)
       |SELECT e.group_a, e.group_b, CAST(32 AS BIGINT) AS k,
       |  round(e.matches::DOUBLE / 32.0, 6) AS est_weighted_jaccard,
       |  round(coalesce(s.sm, 0.0)
       |    / (ta.tot + tb.tot - coalesce(s.sm, 0.0)), 6)
       |    AS exact_weighted_jaccard,
       |  round(abs(round(e.matches::DOUBLE / 32.0, 6)
       |    - round(coalesce(s.sm, 0.0)
       |        / (ta.tot + tb.tot - coalesce(s.sm, 0.0)), 6)), 6)
       |    AS abs_err
       |FROM est e JOIN tot ta ON e.group_a = ta.g
       |           JOIN tot tb ON e.group_b = tb.g
       |LEFT JOIN sh s ON e.group_a = s.group_a AND e.group_b = s.group_b
       |ORDER BY e.group_a, e.group_b""".stripMargin

  // MinHash-LSH chain over `sh` up to verified-candidate intersections —
  // shared by dedup_minhash_lsh (pair output) and dedup_groups
  // (connected components over the pairs)
  private val minhashCtes =
    s"""$shingleCte,
       |seeds AS (SELECT unnest(range(16)) AS seed),
       |sig AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
       |        FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
       |banded AS (SELECT doc_id, CAST(floor(seed/4.0) AS INT) AS band,
       |  md5(string_agg(seed || '=' || minhash, '|' ORDER BY seed || '=' || minhash)) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(floor(seed/4.0) AS INT)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS c
       |          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
       |                      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
       |          GROUP BY 1, 2)""".stripMargin

  // Cross-side banding chain ending in CTE `ccp(corpus_doc, bench_doc,
  // jaccard)` — the verified contamination pairs over the %2 corpus /
  // benchmark split. Shared by cross_corpus_pairs (the pair table) and
  // pipeline_decontaminate (the quarantine + release-diff rollup).
  private val crossCorpusCtes =
    s"""w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       |           FROM documents),
       |shx AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                                             for i in range(1, len(ws)-1)])) AS shingle
       |        FROM w WHERE len(ws) >= 3),
       |cs AS (SELECT * FROM shx WHERE doc_id % 2 = 0),
       |bs AS (SELECT * FROM shx WHERE doc_id % 2 = 1),
       |seeds AS (SELECT unnest(range(16)) AS seed),
       |sigc AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
       |         FROM cs CROSS JOIN seeds GROUP BY doc_id, seed),
       |bandc AS (SELECT doc_id, CAST(floor(seed/4.0) AS INT) AS band,
       |  md5(string_agg(seed || '=' || minhash, '|' ORDER BY seed || '=' || minhash)) AS band_key
       |  FROM sigc GROUP BY doc_id, CAST(floor(seed/4.0) AS INT)),
       |sigb AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
       |         FROM bs CROSS JOIN seeds GROUP BY doc_id, seed),
       |bandb AS (SELECT doc_id, CAST(floor(seed/4.0) AS INT) AS band,
       |  md5(string_agg(seed || '=' || minhash, '|' ORDER BY seed || '=' || minhash)) AS band_key
       |  FROM sigb GROUP BY doc_id, CAST(floor(seed/4.0) AS INT)),
       |cand AS (SELECT DISTINCT x.doc_id AS corpus_doc, y.doc_id AS bench_doc
       |         FROM bandc x JOIN bandb y
       |           ON x.band = y.band AND x.band_key = y.band_key),
       |szc AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY doc_id),
       |szb AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY doc_id),
       |ins AS (SELECT c.corpus_doc, c.bench_doc, count(*) AS c
       |        FROM cand c JOIN cs a ON a.doc_id = c.corpus_doc
       |                    JOIN bs b ON b.doc_id = c.bench_doc
       |                             AND a.shingle = b.shingle
       |        GROUP BY 1, 2),
       |ccp AS (SELECT i.corpus_doc, i.bench_doc,
       |          round(i.c::DOUBLE/(x.n + y.n - i.c), 6) AS jaccard
       |        FROM ins i JOIN szc x ON i.corpus_doc = x.doc_id
       |          JOIN szb y ON i.bench_doc = y.doc_id
       |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5)""".stripMargin

  // DuckDB replay of QualityModel scoring from the dumped weights:
  // identical feature doubles, the same left-to-right dot fold, the
  // same sigmoid, rounded at 6 dp — ends in CTE `sc(doc_id, quality)`.
  // Shared by quality_classifier, classifier_auc, calibration_bins.
  private lazy val qualityScoreCtes: String = {
    val stop = operators.TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    val mark = operators.QualityModel.targetMarkers.map(s => s"'$s'").mkString(", ")
    s"""m AS (SELECT weights, intercept FROM '${operators.QualityModel.weightsDumpPath}/*.parquet'),
       |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
       |f AS (SELECT doc_id, [
       |        len(list_filter(ws, x -> x IN ($stop)))::DOUBLE / len(ws),
       |        len(list_distinct(ws))::DOUBLE / len(ws),
       |        list_sum(list_transform(ws, x -> CAST(length(x) AS BIGINT)))::DOUBLE / len(ws),
       |        ln(1.0 + len(ws)::DOUBLE),
       |        len(list_filter(ws, x -> x IN ($mark)))::DOUBLE / len(ws)
       |      ] AS f FROM w),
       |sc AS (SELECT doc_id,
       |        round(1.0 / (1.0 + exp(-(list_dot_product(f.f, m.weights) + m.intercept))), 6) AS quality
       |      FROM f CROSS JOIN m)""".stripMargin
  }

  // one side of the two-set MinHash chain for dedup_incremental —
  // identical signature/band/size formulation to `minhashCtes`, filtered
  // to the given doc subset and suffixed so both sides coexist
  private def minhashSideCtes(sfx: String, where: String): String =
    s"""w$sfx AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       |          FROM documents WHERE $where),
       |sh$sfx AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                                                for i in range(1, len(ws)-1)])) AS shingle
       |           FROM w$sfx WHERE len(ws) >= 3),
       |sig$sfx AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
       |            FROM sh$sfx CROSS JOIN seeds GROUP BY doc_id, seed),
       |banded$sfx AS (SELECT doc_id, CAST(floor(seed/4.0) AS INT) AS band,
       |    md5(string_agg(seed || '=' || minhash, '|' ORDER BY seed || '=' || minhash)) AS band_key
       |  FROM sig$sfx GROUP BY doc_id, CAST(floor(seed/4.0) AS INT)),
       |sz$sfx AS (SELECT doc_id, count(*) AS n FROM sh$sfx GROUP BY doc_id)""".stripMargin

  // per-label element-wise mean centroids as DOUBLE[] (rounded to 6dp)
  private val centroidCte =
    """ex AS (SELECT label, generate_subscripts(embedding, 1) AS i,
      |              CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |cent AS (SELECT label, i, round(sum(x)/count(*), 6) AS c FROM ex GROUP BY label, i),
      |cl AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label)""".stripMargin

  /** DuckDB-runnable oracle SQL, same table names, same column aliases. */
  def oracleSql: Map[String, String] = Map(
    "search_cosine_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
         |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         |       * sqrt(list_dot_product(q.qe, q.qe)) + 1e-12), 6) AS score
         |FROM embeddings e CROSS JOIN q
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "search_dot_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS score
         |FROM embeddings e CROSS JOIN q
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "search_euclidean_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(1.0 / (1.0 + list_distance(CAST(e.embedding AS DOUBLE[]), q.qe)), 6) AS score
         |FROM embeddings e CROSS JOIN q
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "search_phi_topk" -> {
      val powers = VectorOps.PhiPowers.mkString(", ")
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |z AS (SELECT e.vec_id, list_zip(CAST(e.embedding AS DOUBLE[]), q.qe) AS z
         |      FROM embeddings e CROSS JOIN q),
         |w AS (SELECT vec_id, z,
         |        list_transform(z, x ->
         |          1.0/(1e-8 + list_min(list_transform([$powers], p ->
         |            abs((abs(x[1])+abs(x[2]))/2.0 + 1e-12 - p))))) AS wraw
         |      FROM z),
         |n AS (SELECT vec_id, z,
         |        list_transform(wraw, v -> v / (list_sum(wraw) + 1e-12)) AS wn FROM w),
         |s AS (SELECT vec_id,
         |        list_sum(list_transform(list_zip(z, wn), t -> (t[1][1]*t[2]) * (t[1][2]*t[2]))) AS dot,
         |        sqrt(list_sum(list_transform(list_zip(z, wn), t -> (t[1][1]*t[2]) * (t[1][1]*t[2])))) AS na,
         |        sqrt(list_sum(list_transform(list_zip(z, wn), t -> (t[1][2]*t[2]) * (t[1][2]*t[2])))) AS nb
         |      FROM n)
         |SELECT vec_id, round(dot/(na*nb + 1e-12), 6) AS score
         |FROM s ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    "search_filtered_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.vec_id % 144000 AS glyph_id,
         |  CAST(e.vec_id % 10 AS INT) AS outer_context_id,
         |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
         |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         |       * sqrt(list_dot_product(q.qe, q.qe)) + 1e-12), 6) AS score
         |FROM embeddings e CROSS JOIN q
         |WHERE e.vec_id % 10 = 3
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "knn_join_top3" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
         |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         |         * sqrt(list_dot_product(q.qe, q.qe)) + 1e-12), 6) AS score
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, score, rank FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // knn_join with the label-mismatch predicate and the neighbor's
    // label in the output
    "hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
         |             CAST(embedding AS DOUBLE[]) AS qe
         |           FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         |    round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qe")}, 6) AS score
         |  FROM embeddings e CROSS JOIN q WHERE e.label <> q.q_label),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(label AS INT) AS label, score, rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // both arms replayed with the same tie rule the bounded TopKAgg
    // uses (score desc, candidate id asc)
    "triplet_mining" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
         |             CAST(embedding AS DOUBLE[]) AS qe
         |           FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, q.q_label, e.vec_id AS cand_id, e.label,
         |    round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qe")}, 6) AS score
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id, (label = q_label)
         |    ORDER BY score DESC, cand_id) AS rn
         |  FROM scored),
         |pos AS (SELECT query_id, cand_id AS positive_id, score AS pos_score
         |        FROM ranked WHERE label = q_label AND rn = 1),
         |neg AS (SELECT query_id, cand_id AS negative_id, score AS neg_score
         |        FROM ranked WHERE label <> q_label AND rn = 1)
         |SELECT p.query_id, p.positive_id, p.pos_score,
         |  n.negative_id, n.neg_score,
         |  round(p.pos_score - n.neg_score, 6) AS margin
         |FROM pos p JOIN neg n ON p.query_id = n.query_id
         |ORDER BY p.query_id""".stripMargin,
    "cluster_centroid_dims" ->
      s"""WITH ex AS (
         |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INT) AS dim_idx,
         |         CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings)
         |SELECT label, dim_idx, round(sum(x)/count(*), 6) AS c
         |FROM ex WHERE dim_idx <= 8 GROUP BY label, dim_idx ORDER BY label, dim_idx""".stripMargin,
    "cluster_inertia_by_label" ->
      s"""WITH ex AS (
         |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS i,
         |         CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings),
         |cent AS (SELECT label, i, round(sum(x)/count(*), 6) AS c FROM ex GROUP BY label, i)
         |SELECT CAST(ex.label AS INT) AS cluster_key, count(DISTINCT ex.vec_id) AS n_members,
         |       round(sum((ex.x - cent.c)*(ex.x - cent.c)), 6) AS inertia
         |FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
         |GROUP BY ex.label ORDER BY cluster_key""".stripMargin,
    // replay of assignment + a/b distances from the dumped centroids:
    // same dot-form dist (clamped at 0), rn=1 is the own-cell distance
    // (lowest-cell tie-break, as cellExpr), rn=2 the second-nearest
    "cluster_silhouette" -> {
      val path = operators.KMeansIndex.centroidDumpPath + "_sil"
      s"""WITH c AS (SELECT cell, centroid FROM '$path/*.parquet'),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, c.cell,
         |        greatest(list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid), 0.0) AS dist
         |      FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, cell, dist,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |      FROM d),
         |ab AS (SELECT a.vec_id, a.cell, sqrt(a.dist) AS a, sqrt(b.dist) AS b
         |       FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
         |s AS (SELECT vec_id, cell,
         |        CASE WHEN b = 0 THEN 0.0 ELSE round((b - a) / b, 6) END AS s
         |      FROM ab)
         |SELECT CAST(cell AS INT) AS cell, count(*) AS n_members,
         |  round(CAST(sum(CAST(s AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_silhouette
         |FROM s GROUP BY cell ORDER BY cell""".stripMargin
    },
    "phi_bands" ->
      s"""WITH n AS (
         |  SELECT vec_id, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                       CAST(embedding AS DOUBLE[]))) AS norm
         |  FROM embeddings),
         |b AS (SELECT min(norm) AS min_n, max(norm) AS max_n FROM n),
         |banded AS (
         |  SELECT vec_id, norm,
         |    CASE WHEN norm < min_n + (max_n - min_n + 1e-12) * $phiF1 THEN 0
         |         WHEN norm < min_n + (max_n - min_n + 1e-12) * $phiF2 THEN 1
         |         ELSE 2 END AS band
         |  FROM n CROSS JOIN b)
         |SELECT band, count(*) AS n_members,
         |  round(min(norm), 9) AS min_norm, round(max(norm), 9) AS max_norm
         |FROM banded GROUP BY band ORDER BY band""".stripMargin,
    "stats_summary" ->
      s"""SELECT count(*) AS n_vectors,
         |  count(DISTINCT vec_id % 144000) AS n_glyph_ids,
         |  count(DISTINCT vec_id % 10) AS n_contexts,
         |  CAST(max(len(embedding)) AS BIGINT) AS dim
         |FROM embeddings""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
         |  round(sum(l_quantity)/count(*), 6) AS avg_qty,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(*), 6) AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "events_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_exact_summary" ->
      s"""WITH g AS (SELECT sha256(text) AS h, count(*) AS c FROM documents GROUP BY 1)
         |SELECT CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_distinct,
         |  CAST(sum(c) - count(*) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
         |FROM g""".stripMargin,
    // exact semantics (the Spark side's prefix filtering is a lossless
    // candidate scheme, so the plain exact formulation IS the oracle)
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(c::DOUBLE/(x.n + y.n - c), 6) AS jaccard
         |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
         |WHERE round(c::DOUBLE/(x.n + y.n - c), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the engine's prefix filter is LOSSLESS for containment ≥ t, so
    // the oracle is the brute-force definition itself
    "dedup_containment" ->
      s"""WITH $shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, x.n AS n_a, y.n AS n_b,
         |  CAST(i.c AS BIGINT) AS n_shared,
         |  round(i.c::DOUBLE / least(x.n, y.n), 6) AS containment
         |FROM it i JOIN sz x ON i.doc_a = x.doc_id
         |          JOIN sz y ON i.doc_b = y.doc_id
         |WHERE round(i.c::DOUBLE / least(x.n, y.n), 6) >= 0.9
         |ORDER BY i.doc_a, i.doc_b""".stripMargin,
    // the engine's cross-table prefix filter is lossless under any
    // shared total order, so the oracle is the brute-force cross join
    // rolled up per incoming doc (total verdict: every %10 doc a row)
    "containment_incremental" -> containmentIncrementalOracle,
    // the persisted probe over the memoized layout — same replay verbatim
    "containment_incremental_bloom" -> containmentIncrementalOracle,
    // the uncached-build lifecycle lane runs the identical gate
    "containment_bloom_build" -> containmentIncrementalOracle,
    // the persisted layout's probe is verdict-identical too — and the
    // build+append split reassembles EXACTLY the %10<>0 history, so
    // the same full-history replay pins the append lane's exactness
    "containment_incremental_persisted" -> containmentIncrementalOracle,
    // base + two appends + compaction still reassemble the same
    // history; a lossy fold breaks this hash
    "containment_incremental_compacted" -> containmentIncrementalOracle,
    // the "batch" directions dial: the same brute-force definition
    // restricted to pairs where the INCOMING doc is the
    // smaller-or-equal side (x.n <= y.n) — the predicate the single
    // surviving prefix direction is lossless for
    "containment_incremental_batch" ->
      s"""WITH $shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |it AS (SELECT a.doc_id AS doc_id, b.doc_id AS hist_id, count(*) AS c
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle
         |       WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |       GROUP BY 1, 2),
         |v AS (SELECT i.doc_id,
         |        round(i.c::DOUBLE / least(x.n, y.n), 6) AS containment
         |      FROM it i JOIN sz x ON i.doc_id = x.doc_id
         |                JOIN sz y ON i.hist_id = y.doc_id
         |      WHERE x.n <= y.n
         |        AND round(i.c::DOUBLE / least(x.n, y.n), 6) >= 0.9),
         |hh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |         max(containment) AS max_containment
         |       FROM v GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(z.n, 0) AS BIGINT) AS n_sh,
         |  coalesce(hh.n_hits, 0) AS n_hits,
         |  coalesce(hh.max_containment, 0.0) AS max_containment,
         |  coalesce(hh.n_hits, 0) > 0 AS contained
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN sz z ON d.doc_id = z.doc_id
         |LEFT JOIN hh ON d.doc_id = hh.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // identical 9-dp idf quantization (ln of the same double
    // division), 9-dp product re-quantization into DECIMAL(28,9)
    // order-free folds, one double division, 6-dp readout, the same
    // (cosine desc, doc_a, doc_b) total order at the cut; documents
    // with zero norm (every surviving shingle at df = N) are excluded
    // on both sides rather than dividing by zero
    "dedup_idf_cosine" ->
      s"""WITH $shingleCte,
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
         |        HAVING count(*) <= 10000),
         |wt AS (SELECT sh.doc_id, sh.shingle,
         |         round(ln(CAST(nd.n_docs AS DOUBLE) / dfq.df), 9) AS wt
         |       FROM sh JOIN dfq USING (shingle), nd),
         |nrm AS (SELECT doc_id,
         |          sqrt(CAST(sum(CAST(round(wt*wt, 9) AS DECIMAL(28,9)))
         |            AS DOUBLE)) AS nrm
         |        FROM wt GROUP BY doc_id),
         |nrmp AS (SELECT doc_id, nrm FROM nrm WHERE nrm > 0.0),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |           CAST(sum(CAST(round(a.wt*b.wt, 9) AS DECIMAL(28,9)))
         |             AS DOUBLE) AS dot
         |         FROM wt a JOIN wt b
         |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2)
         |SELECT d.doc_a, d.doc_b,
         |  round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
         |FROM dots d JOIN nrmp na ON d.doc_a = na.doc_id
         |  JOIN nrmp nb ON d.doc_b = nb.doc_id
         |ORDER BY cosine DESC, doc_a, doc_b LIMIT 50""".stripMargin,
    // per-column aggregates per side, full-outer on the column name,
    // the same fixed-order rate/shift arithmetic and 6-dp readouts
    "profile_drift" ->
      s"""WITH ref AS (SELECT doc_id, lang, source, n_chars FROM documents
         |             WHERE doc_id % 3 <> 0),
         |cur AS (SELECT doc_id, source, n_chars FROM documents
         |        WHERE doc_id % 3 = 0),
         |pr AS (
         |  SELECT 'doc_id' AS col_name, count(*) AS n_ref,
         |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_ref,
         |    count(DISTINCT doc_id) AS dist_ref FROM ref
         |  UNION ALL SELECT 'lang', count(*),
         |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
         |    count(DISTINCT lang) FROM ref
         |  UNION ALL SELECT 'source', count(*),
         |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
         |    count(DISTINCT source) FROM ref
         |  UNION ALL SELECT 'n_chars', count(*),
         |    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
         |    count(DISTINCT n_chars) FROM ref),
         |pc AS (
         |  SELECT 'doc_id' AS col_name, count(*) AS n_cur,
         |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_cur,
         |    count(DISTINCT doc_id) AS dist_cur FROM cur
         |  UNION ALL SELECT 'source', count(*),
         |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
         |    count(DISTINCT source) FROM cur
         |  UNION ALL SELECT 'n_chars', count(*),
         |    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
         |    count(DISTINCT n_chars) FROM cur),
         |j AS (SELECT coalesce(pr.col_name, pc.col_name) AS col_name,
         |        pr.n_ref, pr.null_ref, pr.dist_ref,
         |        pc.n_cur, pc.null_cur, pc.dist_cur,
         |        CAST(pr.null_ref AS DOUBLE) / pr.n_ref AS nrr,
         |        CAST(pc.null_cur AS DOUBLE) / pc.n_cur AS nrc,
         |        CAST(pr.dist_ref AS DOUBLE) / pr.n_ref AS dnr,
         |        CAST(pc.dist_cur AS DOUBLE) / pc.n_cur AS dnc,
         |        CASE WHEN pr.dist_ref > 0 THEN
         |          CAST(abs(pc.dist_cur - pr.dist_ref) AS DOUBLE) / pr.dist_ref
         |        END AS cshift
         |      FROM pr FULL OUTER JOIN pc ON pr.col_name = pc.col_name)
         |SELECT col_name,
         |  CASE WHEN n_ref IS NULL THEN 'added'
         |       WHEN n_cur IS NULL THEN 'dropped'
         |       ELSE 'common' END AS status,
         |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
         |  round(nrr, 6) AS null_rate_ref,
         |  round(nrc, 6) AS null_rate_cur,
         |  round(nrc - nrr, 6) AS null_rate_delta,
         |  CAST(dist_ref AS BIGINT) AS dist_ref,
         |  CAST(dist_cur AS BIGINT) AS dist_cur,
         |  round(dnr, 6) AS distinctness_ref,
         |  round(dnc, 6) AS distinctness_cur,
         |  round(cshift, 6) AS cardinality_shift,
         |  CAST((n_ref IS NULL OR n_cur IS NULL
         |    OR abs(round(nrc - nrr, 6)) > 0.05
         |    OR coalesce(round(cshift, 6) > 0.5
         |         AND round(abs(dnc - dnr), 6) > round(0.5 * dnr, 6),
         |       false)) AS INT) AS drifted
         |FROM j ORDER BY col_name""".stripMargin,
    // per-side replay of the banding chain (even ids = corpus, odd =
    // benchmark), cross-side candidates only, the shared exact-Jaccard
    // rounding/threshold semantics
    "cross_corpus_pairs" ->
      s"""WITH $crossCorpusCtes
         |SELECT corpus_doc, bench_doc, jaccard FROM ccp
         |ORDER BY corpus_doc, bench_doc""".stripMargin,
    // quarantine verdict = any verified pair; the release audit is the
    // corpus_diff digest classification between the training corpus
    // and its decontaminated survivor set — cleaned ⊂ corpus with
    // identical text, so only removed/unchanged can appear
    "pipeline_decontaminate" ->
      s"""WITH $crossCorpusCtes,
         |q AS (SELECT DISTINCT corpus_doc FROM ccp),
         |t AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
         |SELECT CASE WHEN q.corpus_doc IS NOT NULL THEN 'removed'
         |            ELSE 'unchanged' END AS status,
         |  count(*) AS n_docs
         |FROM t LEFT JOIN q ON t.doc_id = q.corpus_doc
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SAME banding chain as dedup_minhash_lsh proposes the
    // candidates (cand CTE), the SAME idf scoring as dedup_idf_cosine
    // ranks them; a candidate with no shared surviving shingle scores
    // 0.0, zero-norm docs drop
    "dedup_idf_rank" ->
      s"""WITH $minhashCtes,
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
         |        HAVING count(*) <= 10000),
         |wt AS (SELECT sh.doc_id, sh.shingle,
         |         round(ln(CAST(nd.n_docs AS DOUBLE) / dfq.df), 9) AS wt
         |       FROM sh JOIN dfq USING (shingle), nd),
         |nrm AS (SELECT doc_id,
         |          sqrt(CAST(sum(CAST(round(wt*wt, 9) AS DECIMAL(28,9)))
         |            AS DOUBLE)) AS nrm
         |        FROM wt GROUP BY doc_id),
         |nrmp AS (SELECT doc_id, nrm FROM nrm WHERE nrm > 0.0),
         |dots AS (SELECT c.doc_a, c.doc_b,
         |           CAST(sum(CAST(round(a.wt*b.wt, 9) AS DECIMAL(28,9)))
         |             AS DOUBLE) AS dot
         |         FROM cand c
         |         JOIN wt a ON a.doc_id = c.doc_a
         |         JOIN wt b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |         GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b,
         |  round(coalesce(d.dot, 0.0) / (na.nrm * nb.nrm), 6) AS cosine
         |FROM cand c
         |JOIN nrmp na ON c.doc_a = na.doc_id
         |JOIN nrmp nb ON c.doc_b = nb.doc_id
         |LEFT JOIN dots d ON c.doc_a = d.doc_a AND c.doc_b = d.doc_b
         |ORDER BY cosine DESC, c.doc_a, c.doc_b""".stripMargin,
    // same rank (block = first word, order = trimmed text then
    // doc_id), same w−1 neighbor window, same exact-Jaccard tail as
    // the ngram oracle
    "dedup_sorted_neighborhood" ->
      s"""WITH $shingleCte,
         |base AS (SELECT doc_id, trim(text) AS sk,
         |           regexp_split_to_array(trim(text), '\\s+')[1] AS blk
         |         FROM documents),
         |r AS (SELECT doc_id, blk,
         |        row_number() OVER (PARTITION BY blk ORDER BY sk, doc_id) AS rn
         |      FROM base),
         |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |           greatest(a.doc_id, b.doc_id) AS doc_b
         |         FROM r a JOIN r b
         |           ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 5),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS c
         |          FROM cand c
         |          JOIN sh x ON x.doc_id = c.doc_a
         |          JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
         |          GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b,
         |  round(i.c::DOUBLE/(x.n + y.n - i.c), 6) AS jaccard
         |FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |  JOIN sz y ON i.doc_b = y.doc_id
         |WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT i.doc_a, i.doc_b, round(i.c::DOUBLE/(x.n + y.n - i.c), 6) AS jaccard
         |FROM inter i JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // LSH candidate-generation recall vs the brute-force exact pair
    // set at the same threshold — the banding chain is the
    // dedup_minhash_lsh replay, the ground truth the dedup_ngram
    // brute-force definition
    "lsh_recall" ->
      s"""WITH $minhashCtes,
         |lsh AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |ei AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |ex AS (SELECT e.doc_a, e.doc_b
         |       FROM ei e JOIN sz x ON e.doc_a = x.doc_id
         |                 JOIN sz y ON e.doc_b = y.doc_id
         |       WHERE round(e.c::DOUBLE/(x.n + y.n - e.c), 6) >= 0.5),
         |u AS (SELECT doc_a, doc_b, 1 AS e, 0 AS l FROM ex
         |      UNION ALL SELECT doc_a, doc_b, 0, 1 FROM lsh),
         |g AS (SELECT doc_a, doc_b, max(e) AS e, max(l) AS l FROM u GROUP BY 1, 2)
         |SELECT CAST(0.5 AS DOUBLE) AS threshold,
         |  CAST(coalesce(sum(e), 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(sum(l), 0) AS BIGINT) AS n_lsh,
         |  CAST(coalesce(sum(e * l), 0) AS BIGINT) AS n_hit,
         |  CASE WHEN coalesce(sum(e), 0) > 0
         |       THEN round(sum(e * l)::DOUBLE / sum(e), 6) ELSE 0.0 END AS recall,
         |  CASE WHEN coalesce(sum(l), 0) > 0
         |       THEN round(sum(e * l)::DOUBLE / sum(l), 6) ELSE 0.0 END AS "precision"
         |FROM g""".stripMargin,
    // the sweep: one shared signature (16 seeds) + one exact side,
    // three band layouts replayed arm by arm — the banding CTE is the
    // dedup_minhash_lsh chain's, parametrized on rows-per-band
    "lsh_recall_curve" -> {
      def armSql(b: Int): String = {
        val r = 16 / b
        s"""band$b AS (SELECT doc_id, CAST(floor(seed/$r.0) AS INT) AS band,
           |  md5(string_agg(seed || '=' || minhash, '|' ORDER BY seed || '=' || minhash)) AS band_key
           |  FROM sig GROUP BY doc_id, CAST(floor(seed/$r.0) AS INT)),
           |cand$b AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |           FROM band$b x JOIN band$b y
           |             ON x.band = y.band AND x.band_key = y.band_key
           |            AND x.doc_id < y.doc_id),
           |int$b AS (SELECT c.doc_a, c.doc_b, count(*) AS c
           |          FROM cand$b c JOIN sh a ON a.doc_id = c.doc_a
           |                        JOIN sh b ON b.doc_id = c.doc_b
           |                                 AND a.shingle = b.shingle
           |          GROUP BY 1, 2),
           |lsh$b AS (SELECT i.doc_a, i.doc_b
           |          FROM int$b i JOIN sz x ON i.doc_a = x.doc_id
           |                       JOIN sz y ON i.doc_b = y.doc_id
           |          WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
           |g$b AS (SELECT doc_a, doc_b, max(e) AS e, max(l) AS l FROM (
           |          SELECT doc_a, doc_b, 1 AS e, 0 AS l FROM ex
           |          UNION ALL SELECT doc_a, doc_b, 0, 1 FROM lsh$b) t
           |        GROUP BY 1, 2),
           |arm$b AS (SELECT CAST(16 AS BIGINT) AS k,
           |  CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
           |  CAST(coalesce(sum(e), 0) AS BIGINT) AS n_exact,
           |  CAST(coalesce(sum(l), 0) AS BIGINT) AS n_lsh,
           |  CAST(coalesce(sum(e * l), 0) AS BIGINT) AS n_hit,
           |  CASE WHEN coalesce(sum(e), 0) > 0
           |       THEN round(sum(e * l)::DOUBLE / sum(e), 6) ELSE 0.0 END AS recall,
           |  CASE WHEN coalesce(sum(l), 0) > 0
           |       THEN round(sum(e * l)::DOUBLE / sum(l), 6) ELSE 0.0 END AS "precision"
           |  FROM g$b)""".stripMargin
      }
      s"""WITH $shingleCte,
         |seeds AS (SELECT unnest(range(16)) AS seed),
         |sig AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
         |        FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ei AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |ex AS (SELECT e.doc_a, e.doc_b
         |       FROM ei e JOIN sz x ON e.doc_a = x.doc_id
         |                 JOIN sz y ON e.doc_b = y.doc_id
         |       WHERE round(e.c::DOUBLE/(x.n + y.n - e.c), 6) >= 0.5),
         |${Seq(2, 4, 8).map(armSql).mkString(",\n")}
         |SELECT * FROM arm2 UNION ALL SELECT * FROM arm4
         |UNION ALL SELECT * FROM arm8 ORDER BY bands""".stripMargin
    },
    "mixture_sample" -> {
      val cases = mixtureWeights.toSeq.sortBy(_._1)
        .map { case (s, w) => s"WHEN source = '$s' THEN $w" }.mkString(" ")
      s"""WITH u AS (SELECT doc_id, source,
         |  (${duckHex60("sha256(CAST(doc_id AS VARCHAR))", 1)})::DOUBLE
         |    / 1152921504606846976.0 AS u FROM documents),
         |w AS (SELECT *, (CASE $cases ELSE 0.75 END)::DOUBLE AS w FROM u)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  round(min(w), 6) AS weight,
         |  round(sum(CASE WHEN u < w THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS rate
         |FROM w GROUP BY source ORDER BY source""".stripMargin
    },
    "stratified_sample" ->
      s"""WITH r AS (SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rank_in_stratum
         |  FROM documents)
         |SELECT source, CAST(rank_in_stratum AS BIGINT) AS rank_in_stratum, doc_id
         |FROM r WHERE rank_in_stratum <= 5 ORDER BY source, rank_in_stratum""".stripMargin,
    "mixture_upsample" -> {
      val cases = upsampleWeights.toSeq.sortBy(_._1)
        .map { case (s, w) => s"WHEN source = '$s' THEN $w" }.mkString(" ")
      s"""WITH u AS (SELECT doc_id, source,
         |  (${duckHex60("sha256(CAST(doc_id AS VARCHAR) || ':up')", 1)})::DOUBLE
         |    / 1152921504606846976.0 AS u FROM documents),
         |w AS (SELECT *, (CASE $cases ELSE 1.25 END)::DOUBLE AS w FROM u),
         |r AS (SELECT source, CAST(floor(w) AS BIGINT)
         |        + (CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END) AS n_reps FROM w),
         |e AS (SELECT source, unnest(generate_series(1, n_reps)) AS rep
         |      FROM r WHERE n_reps >= 1)
         |SELECT source, CAST(rep AS BIGINT) AS rep,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM e GROUP BY source, rep ORDER BY source, rep""".stripMargin
    },
    "pack_windows" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    sha256(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |s AS (SELECT *, (${duckHex60("hx", 1)}) % $packWindowShards AS shard FROM t),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY hx, doc_id
         |       ROWS UNBOUNDED PRECEDING) AS cum FROM s)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
         |  CAST((cum - n_tokens) // $packWindowTokens AS BIGINT) AS pack_id,
         |  CAST((cum - n_tokens) % $packWindowTokens AS BIGINT) AS off,
         |  CAST((cum - 1) // $packWindowTokens - (cum - n_tokens) // $packWindowTokens + 1 AS BIGINT) AS n_windows
         |FROM c ORDER BY doc_id""".stripMargin,
    "token_budget" -> {
      val cases = tokenBudgets.toSeq.sortBy(_._1)
        .map { case (s, bgt) => s"WHEN c.source = '$s' THEN $bgt" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    sha256(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |s AS (SELECT *, (${duckHex60("hx", 1)}) % $tokenBudgetShards AS shard FROM t),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard
         |        ORDER BY hx, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM s),
         |o AS (SELECT source, shard, sum(n_tokens) AS tot FROM s GROUP BY source, shard),
         |o2 AS (SELECT source, shard, coalesce(sum(tot) OVER (PARTITION BY source
         |         ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |       FROM o),
         |j AS (SELECT c.source, c.n_tokens, o2.off + c.cum - c.n_tokens AS strt,
         |        CAST(CASE $cases ELSE $tokenBudgetDefault END AS BIGINT) AS budget
         |      FROM c JOIN o2 ON c.source = o2.source AND c.shard = o2.shard)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN strt < budget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN strt < budget THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
         |  min(budget) AS budget
         |FROM j GROUP BY source ORDER BY source""".stripMargin
    },
    // same block decomposition as Dedup.spanDedup(n = 4): keep-first by
    // (doc_id, block_idx) per md5(block); the window formulation here is
    // semantically the engine's min(struct) canonical pick
    "span_dedup" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |b AS (SELECT doc_id, CAST(ceil(len(ws)/4.0) AS BIGINT) AS n_blocks, r.i AS block_idx,
         |        array_to_string(ws[(r.i*4+1):(r.i*4+4)], ' ') AS block
         |      FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws)/4.0) AS BIGINT))) AS i) r),
         |k AS (SELECT doc_id, n_blocks, block_idx, block,
         |        row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, block_idx) AS rn
         |      FROM b)
         |SELECT doc_id, max(n_blocks) AS n_blocks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN rn = 1 THEN block END, ' ' ORDER BY block_idx), '') AS clean_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // every constant forced ::DOUBLE — a bare DuckDB decimal literal
    // would pull the arithmetic into DECIMAL and diverge from Spark's
    // double fold; per-term scores round at 9 dp then sum in
    // DECIMAL(28,9) (order-independent) on both engines
    "bm25_search" -> bm25OracleSql,
    "bm25_mrr" -> bm25MrrOracleSql,
    // same lex chain; DCG over the top-10 ranking, IDCG replayed from
    // the grade histogram's contiguous rank runs, identical 9-dp terms
    "bm25_ndcg" ->
      s"""WITH $bm25Ctes,
         |rk AS (SELECT doc_id, n_terms_hit AS g,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
         |       FROM lex),
         |dcg AS (SELECT coalesce(sum(CAST(round((pow(2.0, g) - 1.0)
         |            / (ln(r + 1.0) / ln(2.0)), 9) AS DECIMAL(28,9))),
         |          CAST(0 AS DECIMAL(28,9))) AS d
         |        FROM rk WHERE r <= 10),
         |gr AS (SELECT n_terms_hit AS g, count(*) AS cnt FROM lex GROUP BY 1),
         |cu AS (SELECT g, cnt, sum(cnt) OVER (ORDER BY g DESC) AS cum FROM gr),
         |pos AS (SELECT g, unnest(range(CAST(cum - cnt + 1 AS BIGINT),
         |          CAST(least(cum, 10) + 1 AS BIGINT))) AS r
         |        FROM cu WHERE cum - cnt + 1 <= 10),
         |idcg AS (SELECT coalesce(sum(CAST(round((pow(2.0, g) - 1.0)
         |             / (ln(r + 1.0) / ln(2.0)), 9) AS DECIMAL(28,9))),
         |           CAST(0 AS DECIMAL(28,9))) AS i
         |         FROM pos),
         |ns AS (SELECT count(*) AS n_scored FROM lex)
         |SELECT CAST(10 AS INT) AS k, CAST(n_scored AS BIGINT) AS n_scored,
         |  round(CAST(d AS DOUBLE), 6) AS dcg,
         |  round(CAST(i AS DOUBLE), 6) AS idcg,
         |  CASE WHEN i > 0
         |    THEN round(CAST(d AS DOUBLE) / CAST(i AS DOUBLE), 6) END AS ndcg
         |FROM dcg CROSS JOIN idcg CROSS JOIN ns""".stripMargin,
    // both arms re-ranked exactly as their own oracles rank, then the
    // reciprocal terms add lexical-first in both engines
    "hybrid_search_rrf" ->
      s"""WITH $bm25Ctes,
         |lexr AS (SELECT * FROM (
         |    SELECT doc_id AS id,
         |      CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
         |    FROM lex) WHERE rank <= 10),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |vec AS (SELECT e.vec_id AS id,
         |          round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qe")}, 6) AS score
         |        FROM embeddings e CROSS JOIN q),
         |vecr AS (SELECT * FROM (
         |    SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS INT) AS rank
         |    FROM vec) WHERE rank <= 10),
         |f AS (SELECT id AS doc_id, a.rank AS rank_a, b.rank AS rank_b,
         |        round(coalesce(1.0::DOUBLE / ($rrfK0 + a.rank), 0.0::DOUBLE)
         |            + coalesce(1.0::DOUBLE / ($rrfK0 + b.rank), 0.0::DOUBLE), 6) AS rrf
         |      FROM lexr a FULL OUTER JOIN vecr b USING (id))
         |SELECT doc_id, rank_a, rank_b, rrf FROM f
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // the persisted index must return the identical ranking — same
    // oracle, different execution path (bucket-pruned postings read)
    "bm25_persisted" -> bm25OracleSql,
    // and the incrementally-appended index must too: base(2/3) ∪
    // committed batch(1/3) ≡ from-scratch over the full corpus
    "bm25_incremental" -> bm25OracleSql,
    // compaction is invisible to semantics: the same full-corpus replay
    "bm25_compacted" -> bm25OracleSql,
    "decontaminate" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |sh8 AS (SELECT doc_id, unnest(list_distinct(
         |          [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
         |           for i in range(1, len(ws)-6)])) AS shingle
         |        FROM w WHERE len(ws) >= 8),
         |b AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 50 = 0),
         |s AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |      FROM sh8 d JOIN b USING (shingle) GROUP BY d.doc_id)
         |SELECT doc_id, coalesce(s.n_shared, 0) AS n_shared,
         |  coalesce(s.n_shared, 0) >= 3 AS contaminated
         |FROM documents LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the gate's verdict table: incoming %3 slice vs the %50==0
    // benchmark vocabulary — every incoming doc gets a row, short
    // docs gate at 0 shared
    "stream_contamination_gate" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |sh8 AS (SELECT doc_id, unnest(list_distinct(
         |          [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
         |           for i in range(1, len(ws)-6)])) AS shingle
         |        FROM w WHERE len(ws) >= 8),
         |b AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 50 = 0),
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         |s AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |      FROM sh8 d JOIN b USING (shingle)
         |      WHERE d.doc_id % 3 = 0 GROUP BY d.doc_id)
         |SELECT i.doc_id, coalesce(s.n_shared, 0) AS n_shared,
         |  coalesce(s.n_shared, 0) >= 3 AS contaminated
         |FROM inc i LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,
    // eval-side fraction over the same 8-gram chain: train vocabulary
    // is the distinct non-benchmark shingle set; dirty at the ROUNDED
    // 6-dp fraction, matching the engine's threshold-on-readout.
    // EVERY benchmark doc_id gets a row — sub-8-word docs report an
    // explicit zero-gram verdict (n_grams = 0, overlap_frac = 0.0),
    // never a silently-missing row
    "eval_contamination" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |sh8 AS (SELECT doc_id, unnest(list_distinct(
         |          [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
         |           for i in range(1, len(ws)-6)])) AS shingle
         |        FROM w WHERE len(ws) >= 8),
         |allb AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 50 = 0),
         |b AS (SELECT doc_id, shingle FROM sh8 WHERE doc_id % 50 = 0),
         |tv AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 50 <> 0),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |        FROM b GROUP BY doc_id),
         |shd AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |        FROM b JOIN tv USING (shingle) GROUP BY b.doc_id)
         |SELECT a.doc_id AS bench_doc,
         |  coalesce(t.n_grams, 0) AS n_grams,
         |  coalesce(s.n_shared, 0) AS n_shared,
         |  CASE WHEN coalesce(t.n_grams, 0) = 0 THEN 0.0
         |       ELSE round(coalesce(s.n_shared, 0)::DOUBLE / t.n_grams, 6)
         |  END AS overlap_frac,
         |  CASE WHEN coalesce(t.n_grams, 0) = 0 THEN 0.0
         |       ELSE round(coalesce(s.n_shared, 0)::DOUBLE / t.n_grams, 6)
         |  END >= 0.2 AS dirty
         |FROM allb a LEFT JOIN tot t USING (doc_id)
         |            LEFT JOIN shd s USING (doc_id)
         |ORDER BY bench_doc""".stripMargin,
    // release-over-release drift: the same eval-side fraction computed
    // against the even-train-half ("old") and full-train ("new")
    // vocabularies, differenced at 6 dp per benchmark item
    "contamination_drift" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |sh8 AS (SELECT doc_id, unnest(list_distinct(
         |          [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
         |           for i in range(1, len(ws)-6)])) AS shingle
         |        FROM w WHERE len(ws) >= 8),
         |allb AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 50 = 0),
         |b AS (SELECT doc_id, shingle FROM sh8 WHERE doc_id % 50 = 0),
         |tvo AS (SELECT DISTINCT shingle FROM sh8
         |        WHERE doc_id % 50 <> 0 AND doc_id % 2 = 0),
         |tvn AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 50 <> 0),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |        FROM b GROUP BY doc_id),
         |so AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM b JOIN tvo USING (shingle) GROUP BY b.doc_id),
         |sn AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM b JOIN tvn USING (shingle) GROUP BY b.doc_id),
         |r AS (SELECT a.doc_id AS bench_doc,
         |        coalesce(t.n_grams, 0) AS n_grams,
         |        coalesce(o.n_shared, 0) AS n_shared_old,
         |        coalesce(n.n_shared, 0) AS n_shared_new,
         |        CASE WHEN coalesce(t.n_grams, 0) = 0 THEN 0.0
         |             ELSE round(coalesce(o.n_shared, 0)::DOUBLE / t.n_grams, 6)
         |        END AS overlap_old,
         |        CASE WHEN coalesce(t.n_grams, 0) = 0 THEN 0.0
         |             ELSE round(coalesce(n.n_shared, 0)::DOUBLE / t.n_grams, 6)
         |        END AS overlap_new
         |      FROM allb a LEFT JOIN tot t USING (doc_id)
         |                  LEFT JOIN so o USING (doc_id)
         |                  LEFT JOIN sn n USING (doc_id))
         |SELECT bench_doc, n_grams, n_shared_old, n_shared_new,
         |  overlap_old, overlap_new,
         |  round(overlap_new - overlap_old, 6) AS overlap_delta,
         |  overlap_old >= 0.2 AS dirty_old,
         |  overlap_new >= 0.2 AS dirty_new,
         |  overlap_new >= 0.2 AND NOT (overlap_old >= 0.2) AS newly_dirty
         |FROM r ORDER BY bench_doc""".stripMargin,
    // provenance rollup: the same per-doc flag chain aggregated on the
    // source key — counts BIGINT-cast (DuckDB sums widen to HUGEINT)
    "contamination_by_source" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |sh8 AS (SELECT doc_id, unnest(list_distinct(
         |          [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
         |           for i in range(1, len(ws)-6)])) AS shingle
         |        FROM w WHERE len(ws) >= 8),
         |b AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 50 = 0),
         |tr AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0),
         |s AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |      FROM sh8 d JOIN b USING (shingle)
         |      WHERE d.doc_id % 50 <> 0 GROUP BY d.doc_id),
         |f AS (SELECT t.source, coalesce(s.n_shared, 0) AS n_shared,
         |        coalesce(s.n_shared, 0) >= 3 AS contaminated
         |      FROM tr t LEFT JOIN s USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  round(sum(CASE WHEN contaminated THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS contamination_rate,
         |  CAST(sum(n_shared) AS BIGINT) AS shared_grams
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // directional containment from the SAME bottom-k replay as the
    // jaccard form: per-group cardinality from each group's own sketch
    // (exact below k / (k−1)/θ), every factor rounded before the next
    // division exactly as the engine
    "source_containment_kmv" ->
      s"""WITH t AS (SELECT source AS g,
         |             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |           FROM documents),
         |h AS (SELECT DISTINCT g,
         |        CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) AS h FROM t),
         |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
         |        AS rn FROM h),
         |sk AS (SELECT g, h FROM r WHERE rn <= 256),
         |gs AS (SELECT g, count(*) AS n, max(h) AS hk FROM sk GROUP BY g),
         |ge AS (SELECT g, CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
         |         ELSE round(255.0 / ((CAST(hk AS DOUBLE) + 0.5)
         |           / power(16.0, 12)), 6) END AS est FROM gs),
         |pr AS (SELECT a.g AS ga, b.g AS gb
         |       FROM (SELECT DISTINCT g FROM sk) a
         |       JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
         |u1 AS (SELECT DISTINCT p.ga, p.gb, s.h
         |       FROM pr p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
         |ur AS (SELECT ga, gb, h,
         |         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
         |       FROM u1),
         |usk AS (SELECT ga, gb, h FROM ur WHERE rn <= 256),
         |s2 AS (SELECT ga, gb, count(*) AS n, max(h) AS hk FROM usk
         |       GROUP BY ga, gb),
         |ib AS (SELECT u.ga, u.gb, count(*) AS inboth FROM usk u
         |       WHERE EXISTS (SELECT 1 FROM sk WHERE g = u.ga AND h = u.h)
         |         AND EXISTS (SELECT 1 FROM sk WHERE g = u.gb AND h = u.h)
         |       GROUP BY u.ga, u.gb),
         |rr AS (SELECT s2.ga, s2.gb,
         |         CASE WHEN s2.n < 256 THEN CAST(s2.n AS DOUBLE)
         |              ELSE round(255.0 / ((CAST(s2.hk AS DOUBLE) + 0.5)
         |                / power(16.0, 12)), 6) END AS union_est,
         |         round(CAST(coalesce(ib.inboth, 0) AS DOUBLE)
         |           / (CASE WHEN s2.n < 256 THEN s2.n ELSE 256 END), 6)
         |           AS jaccard_est
         |       FROM s2 LEFT JOIN ib ON s2.ga = ib.ga AND s2.gb = ib.gb)
         |SELECT rr.ga AS group_a, rr.gb AS group_b, CAST(256 AS BIGINT) AS k,
         |  ea.est AS a_est, eb.est AS b_est,
         |  round(jaccard_est * union_est, 6) AS intersect_est,
         |  round(round(jaccard_est * union_est, 6) / ea.est, 6)
         |    AS contain_a_in_b,
         |  round(round(jaccard_est * union_est, 6) / eb.est, 6)
         |    AS contain_b_in_a
         |FROM rr JOIN ge ea ON rr.ga = ea.g JOIN ge eb ON rr.gb = eb.g
         |ORDER BY group_a, group_b""".stripMargin,
    // ICWS weighted-Jaccard replay: identical md5-mantissa uniforms,
    // every ln 9-dp-quantized immediately (+, x, /, floor on identical
    // doubles are exactly rounded in both engines), argmin ties broken
    // on (lna, elem, t), the same 6-dp readouts
    "source_weighted_jaccard_icws" -> icwsWeightedJaccardOracle,
    // the persisted-layout probe is row-for-row the from-rows operator
    // (shared readout, exact parquet round-trip) — same replay verbatim
    "icws_persisted" -> icwsWeightedJaccardOracle,
    // base + two appends + compaction still reassemble the same
    // weighted corpus view; a lossy fold breaks this hash
    "icws_compacted" -> icwsWeightedJaccardOracle,
    // exact weighted directional containment: same decimal-ladder
    // discipline (9-dp rounds into DECIMAL(28,9) order-free folds,
    // one double division, 6-dp readout), full pair domain with
    // explicit 0.0 rows for disjoint pairs
    "source_weighted_containment" ->
      s"""WITH t AS (SELECT source AS g,
         |             unnest(regexp_split_to_array(trim(text), '\\s+')) AS e
         |           FROM documents
         |           WHERE text IS NOT NULL AND source IS NOT NULL),
         |wts AS (SELECT g, e,
         |          sum(CAST(round(CAST(1 AS DOUBLE), 9)
         |            AS DECIMAL(28,9))) AS w
         |        FROM t WHERE e <> '' GROUP BY g, e),
         |tot AS (SELECT g, sum(w) AS tot FROM wts GROUP BY g),
         |sh AS (SELECT x.g AS group_a, y.g AS group_b,
         |         sum(least(x.w, y.w)) AS sm
         |       FROM wts x JOIN wts y ON x.e = y.e AND x.g < y.g
         |       GROUP BY 1, 2)
         |SELECT a.g AS group_a, b.g AS group_b,
         |  round(CAST(coalesce(s.sm, 0) AS DOUBLE)
         |    / CAST(a.tot AS DOUBLE), 6) AS contain_a_in_b,
         |  round(CAST(coalesce(s.sm, 0) AS DOUBLE)
         |    / CAST(b.tot AS DOUBLE), 6) AS contain_b_in_a
         |FROM tot a JOIN tot b ON a.g < b.g
         |LEFT JOIN sh s ON a.g = s.group_a AND b.g = s.group_b
         |ORDER BY group_a, group_b""".stripMargin,
    // same global canonical keep as the doc-count report, with the
    // whitespace token count riding the hashed projection
    "dedup_token_savings" ->
      s"""WITH h AS (SELECT doc_id, source, sha256(text) AS dg,
         |             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS toks
         |           FROM documents),
         |k AS (SELECT dg, min(doc_id) AS keep_id FROM h GROUP BY dg)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(toks) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN doc_id = keep_id THEN toks ELSE 0 END) AS BIGINT) AS tokens_kept,
         |  round(CAST(1.0 AS DOUBLE)
         |    - sum(CASE WHEN doc_id = keep_id THEN toks ELSE 0 END)::DOUBLE
         |      / sum(toks), 6) AS token_savings_frac
         |FROM h JOIN k USING (dg) GROUP BY source ORDER BY source""".stripMargin,
    // the same canonical-keep arithmetic per release side, full-outer
    // on source, absent sides zero-filled (the drift convention)
    "dedup_savings_drift" ->
      s"""WITH h AS (SELECT doc_id, source, sha256(text) AS dg,
         |             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS toks
         |           FROM documents),
         |ho AS (SELECT * FROM h WHERE doc_id % 2 = 0),
         |ko AS (SELECT dg, min(doc_id) AS keep_id FROM ho GROUP BY dg),
         |so AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(toks) AS BIGINT) AS tokens_total,
         |         round(CAST(1.0 AS DOUBLE)
         |           - sum(CASE WHEN doc_id = keep_id THEN toks ELSE 0 END)::DOUBLE
         |             / sum(toks), 6) AS savings
         |       FROM ho JOIN ko USING (dg) GROUP BY source),
         |kn AS (SELECT dg, min(doc_id) AS keep_id FROM h GROUP BY dg),
         |sn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(toks) AS BIGINT) AS tokens_total,
         |         round(CAST(1.0 AS DOUBLE)
         |           - sum(CASE WHEN doc_id = keep_id THEN toks ELSE 0 END)::DOUBLE
         |             / sum(toks), 6) AS savings
         |       FROM h JOIN kn USING (dg) GROUP BY source)
         |SELECT coalesce(o.source, n.source) AS source,
         |  coalesce(o.n_docs, 0) AS n_docs_old,
         |  coalesce(n.n_docs, 0) AS n_docs_new,
         |  coalesce(o.tokens_total, 0) AS tokens_old,
         |  coalesce(n.tokens_total, 0) AS tokens_new,
         |  coalesce(o.savings, 0.0) AS savings_old,
         |  coalesce(n.savings, 0.0) AS savings_new,
         |  round(coalesce(n.savings, 0.0) - coalesce(o.savings, 0.0), 6)
         |    AS savings_delta
         |FROM so o FULL OUTER JOIN sn n ON o.source = n.source
         |ORDER BY source""".stripMargin,
    // identical rank order (count desc, token asc), identical 9-dp
    // ln/product quantization, decimal folds, one double readout
    "zipf_alpha" ->
      s"""WITH t AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |c AS (SELECT source, w, count(*) AS cnt FROM t WHERE w <> '' GROUP BY 1, 2),
         |r AS (SELECT source, w, cnt,
         |        row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rk
         |      FROM c),
         |k AS (SELECT source,
         |        CAST(round(ln(rk::DOUBLE), 9) AS DECIMAL(28,9)) AS x,
         |        CAST(round(ln(cnt::DOUBLE), 9) AS DECIMAL(28,9)) AS y
         |      FROM r WHERE rk <= 500),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |        sum(x) AS sx, sum(y) AS sy,
         |        sum(CAST(round(CAST(x AS DOUBLE)*CAST(y AS DOUBLE), 9) AS DECIMAL(28,9))) AS sxy,
         |        sum(CAST(round(CAST(x AS DOUBLE)*CAST(x AS DOUBLE), 9) AS DECIMAL(28,9))) AS sxx
         |      FROM k GROUP BY 1)
         |SELECT source, n,
         |  round(-(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS alpha
         |FROM a WHERE n >= 2
         |  AND (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |ORDER BY source""".stripMargin,
    // bigram multiplicities, 9-dp decimal entropy terms (order-free
    // fold), 6-dp readouts — the charEntropy discipline per source
    "ngram_diversity" ->
      s"""WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS ws
         |           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |g AS (SELECT source, unnest([ws[i] || ' ' || ws[i+1]
         |                             for i in range(1, len(ws))]) AS gram
         |      FROM w WHERE len(ws) >= 2),
         |c AS (SELECT source, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
         |        CAST(count(*) AS BIGINT) AS n_distinct
         |      FROM c GROUP BY 1),
         |e AS (SELECT c.source,
         |        sum(CAST(round(-(c.cnt::DOUBLE / t.n_ngrams)
         |              * log2(c.cnt::DOUBLE / t.n_ngrams), 9)
         |            AS DECIMAL(28,9))) AS ent
         |      FROM c JOIN t USING (source) GROUP BY 1)
         |SELECT t.source, t.n_ngrams, t.n_distinct,
         |  round(t.n_distinct::DOUBLE / t.n_ngrams, 6) AS ttr,
         |  round(CAST(e.ent AS DOUBLE), 6) AS entropy
         |FROM t JOIN e USING (source) ORDER BY source""".stripMargin,
    "dedup_incremental" -> dedupIncrementalOracleSql,
    // compaction is invisible to dedup semantics: same two-set replay
    "dedup_incremental_compacted" -> dedupIncrementalOracleSql,
    // the identical from-text check under its legacy name: same replay
    "dedup_incremental_bloom" -> dedupIncrementalOracleSql,

    // duplicate groups = connected components of the verified pair graph;
    // the oracle computes the transitive closure with a recursive CTE and
    // labels each vertex with the component minimum — identical semantics
    // to the engine's min-label propagation at fixpoint
    "dedup_groups" ->
      s"""WITH RECURSIVE $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS group_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // same verified pairs; evidence = sorted shared-shingle list cut
    // at 5, joined with a pipe so the hash compares a scalar
    "dup_evidence" ->
      s"""WITH $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b, i.c,
         |          round(i.c::DOUBLE/(x.n + y.n - i.c), 6) AS jaccard,
         |          x.n AS n_a, y.n AS n_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |ev AS (SELECT p.doc_a, p.doc_b, a.shingle
         |       FROM prs p JOIN sh a ON a.doc_id = p.doc_a
         |                  JOIN sh b ON b.doc_id = p.doc_b
         |                    AND b.shingle = a.shingle),
         |agg AS (SELECT doc_a, doc_b,
         |          array_to_string((list(shingle ORDER BY shingle))[1:5], '|')
         |            AS evidence
         |        FROM ev GROUP BY doc_a, doc_b)
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
         |  CAST(p.c AS BIGINT) AS n_shared, agg.evidence
         |FROM prs p JOIN agg ON agg.doc_a = p.doc_a AND agg.doc_b = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,
    // same closure + the same (longest, then min-id) selection rule,
    // stated as a per-group ranking window
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |g AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id
         |      FROM reach GROUP BY src),
         |a AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id,
         |        d.n_chars
         |      FROM documents d LEFT JOIN g USING (doc_id)),
         |k AS (SELECT doc_id AS keeper_doc, group_id FROM (
         |        SELECT doc_id, group_id, row_number() OVER (
         |          PARTITION BY group_id ORDER BY n_chars DESC, doc_id) AS rn
         |        FROM a) WHERE rn = 1)
         |SELECT a.doc_id, a.group_id, k.keeper_doc,
         |  (a.doc_id = k.keeper_doc) AS is_keeper
         |FROM a JOIN k USING (group_id)
         |ORDER BY a.doc_id""".stripMargin,
    // canonical doc_a < doc_b pairs make the ordered 3-way self-join
    // count each triangle exactly once at its sorted vertex order
    "dup_triangles" ->
      s"""WITH $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |tri AS (SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
         |        FROM prs p1
         |        JOIN prs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
         |        JOIN prs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b),
         |v AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
         |SELECT doc_id, count(*) AS n_triangles
         |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same component resolution, then two aggregations: component →
    // size, size → number of components
    "dup_size_histogram" ->
      s"""WITH RECURSIVE $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |g AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id
         |      FROM reach GROUP BY src),
         |cs AS (SELECT group_id, count(*) AS sz FROM g GROUP BY group_id)
         |SELECT CAST(sz AS BIGINT) AS group_size, count(*) AS n_groups
         |FROM cs GROUP BY sz ORDER BY group_size""".stripMargin,
    // bit-exact Morton replay: same shift/mask interleave, same
    // high-bit group cut — integers end to end
    "layout_zorder" ->
      s"""WITH d AS (SELECT doc_id,
         |  CAST(least(floor(n_chars / 4), 255) AS BIGINT) AS len_bucket,
         |  CAST(substr(source, 4) AS BIGINT) AS src_code FROM documents),
         |z AS (SELECT doc_id, len_bucket, src_code,
         |  CAST(list_sum(list_transform(range(8), i ->
         |    ((len_bucket >> CAST(i AS INT)) & 1) * (1::BIGINT << CAST(2*i AS INT))
         |    + ((src_code >> CAST(i AS INT)) & 1) * (1::BIGINT << CAST(2*i+1 AS INT)))) AS BIGINT) AS zkey
         |  FROM d)
         |SELECT doc_id, len_bucket, src_code, zkey, zkey >> 12 AS file_group
         |FROM z ORDER BY doc_id""".stripMargin,
    // same signature/band/candidate CTEs; estimate = per-pair count of
    // equal minhash rows over k=16, truth = c/(na+nb-c); both divisions
    // are single IEEE ops so abs_err replays bit-exactly
    "minhash_estimate_error" ->
      s"""WITH $minhashCtes,
         |m AS (SELECT c.doc_a, c.doc_b,
         |        sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS n_match
         |      FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
         |                  JOIN sig sb ON sb.doc_id = c.doc_b AND sa.seed = sb.seed
         |      GROUP BY 1, 2)
         |SELECT m.doc_a, m.doc_b,
         |  round(CAST(m.n_match AS DOUBLE) / 16.0, 6) AS est_jaccard,
         |  round(i.c::DOUBLE / (x.n + y.n - i.c), 6) AS exact_jaccard,
         |  round(abs(CAST(m.n_match AS DOUBLE) / 16.0
         |            - i.c::DOUBLE / (x.n + y.n - i.c)), 6) AS abs_err
         |FROM m JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b
         |       JOIN sz x ON m.doc_a = x.doc_id JOIN sz y ON m.doc_b = y.doc_id
         |ORDER BY m.doc_a, m.doc_b""".stripMargin,
    // the dedup_groups closure, then every document inherits its
    // component's min-id split (singletons = their own id); rescued
    // compares against the naive per-doc mod-10 rule
    "leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |g AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id
         |      FROM reach GROUP BY src),
         |a AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
         |      FROM documents d LEFT JOIN g USING (doc_id))
         |SELECT doc_id, group_id,
         |  CASE WHEN group_id % 10 < 8 THEN 'train'
         |       WHEN group_id % 10 = 8 THEN 'valid' ELSE 'test' END AS split,
         |  (CASE WHEN doc_id % 10 < 8 THEN 'train'
         |        WHEN doc_id % 10 = 8 THEN 'valid' ELSE 'test' END)
         |    <> (CASE WHEN group_id % 10 < 8 THEN 'train'
         |             WHEN group_id % 10 = 8 THEN 'valid' ELSE 'test' END) AS rescued
         |FROM a ORDER BY doc_id""".stripMargin,
    "dedup_simhash" -> (simhashSql + "\nSELECT doc_id, simhash FROM sh2 ORDER BY doc_id"),
    "dedup_simhash_pairs" -> {
      val blocks = operators.Dedup.blockShifts.zip(operators.Dedup.blockMasks)
        .zipWithIndex.map { case ((s, m), q) => s"($q, $s, $m)" }.mkString(", ")
      simhashSql +
        s""",
           |blk AS (SELECT doc_id, simhash, q, (simhash >> CAST(shift AS INT)) & mask AS blk
           |        FROM sh2 CROSS JOIN (VALUES $blocks) AS t(q, shift, mask)),
           |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |                x.simhash AS ha, y.simhash AS hb
           |         FROM blk x JOIN blk y ON x.q = y.q AND x.blk = y.blk AND x.doc_id < y.doc_id)
           |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
           |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin
    },
    // ln rounded at 9 dp per WORD, then exact bounded-decimal arithmetic
    // (DECIMAL(20,9) × DECIMAL(6,0) → DECIMAL(27,9), no rescale) — the
    // only transcendental is quantized before any accumulation, so the
    // fold is order-independent and identical in both engines
    "doc_surprisal" ->
      s"""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
         |tok AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY 1, 2),
         |freq AS (SELECT w, sum(tf) AS cf FROM tok GROUP BY 1),
         |tot AS (SELECT sum(cf) AS n_total FROM freq),
         |j AS (SELECT t.doc_id, t.tf,
         |        CAST(round(-ln(CAST(f.cf AS DOUBLE) / CAST(tot.n_total AS DOUBLE)), 9)
         |             AS DECIMAL(20,9)) * CAST(t.tf AS DECIMAL(6,0)) AS nl
         |      FROM tok t JOIN freq f USING (w) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |  round(CAST(sum(nl) AS DOUBLE) / sum(tf), 6) AS surprisal
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same decimal fold over the conditional bigram model
    // p(w2|w1) = c(w1w2)/c(w1·); bigrams as 2-element lists (no
    // delimiter-collision concern), docs under 2 words emit no row in
    // either engine
    "bigram_lm" ->
      s"""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |                            i -> [ws[i], ws[i+1]])) AS bg
         |      FROM d WHERE len(ws) >= 2),
         |tok AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2, count(*) AS tf
         |        FROM b GROUP BY 1, 2, 3),
         |m AS (SELECT w1, w2, sum(tf) AS c2 FROM tok GROUP BY 1, 2),
         |cx AS (SELECT w1, sum(c2) AS c1 FROM m GROUP BY 1),
         |j AS (SELECT t.doc_id, t.tf,
         |        CAST(round(-ln(CAST(m.c2 AS DOUBLE) / CAST(cx.c1 AS DOUBLE)), 9)
         |             AS DECIMAL(20,9)) * CAST(t.tf AS DECIMAL(6,0)) AS nl
         |      FROM tok t JOIN m USING (w1, w2) JOIN cx USING (w1))
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(nl) AS DOUBLE) / sum(tf), 6) AS cross_entropy
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same banner injection (interpolated from the shared constant),
    // same 10-word line grid as doc_chunks, df per exact line text,
    // order-preserving reassembly via string_agg(ORDER BY line_idx)
    // FILTER — coalesce('') mirrors Spark's concat_ws over empty arrays
    "boilerplate_removal" -> {
      val banner = operators.TextAnalysis.boilerplateLine
      s"""WITH inj AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN '$banner ' || text ELSE text END AS text
         |  FROM documents),
         |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM inj),
         |c AS (SELECT doc_id, ws,
         |        greatest(CAST(ceil(len(ws)::DOUBLE / 10) AS INT), 1) AS nl FROM w),
         |l AS (SELECT doc_id, CAST(line_idx AS INT) AS line_idx,
         |        array_to_string(ws[line_idx*10+1 : line_idx*10+10], ' ') AS line
         |      FROM (SELECT doc_id, ws, unnest(range(nl)) AS line_idx FROM c)),
         |df AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM l GROUP BY 1),
         |f AS (SELECT l.doc_id, l.line_idx, l.line, df.n_docs FROM l JOIN df USING (line)),
         |agg AS (SELECT doc_id, count(*) AS n_lines,
         |          CAST(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |          coalesce(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE n_docs < 3), '') AS clean
         |        FROM f GROUP BY doc_id)
         |SELECT doc_id, n_lines, n_removed,
         |  CAST(length(clean) AS BIGINT) AS clean_len, sha256(clean) AS clean_sha
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    // same sha-based bucket hash (the hash60 slice re-parsed via
    // duckHex60), same add-1 smoothed models, ln quantized at 9 dp per
    // BUCKET then exact bounded-decimal accumulation (the doc_surprisal
    // discipline); target/buckets interpolated from the shared constants
    "dsir_weights" -> {
      val b = operators.Sampling.dsirBuckets
      val tgt = operators.Sampling.dsirTargetLang
      s"""WITH w AS (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
         |bk AS (SELECT doc_id, lang,
         |         (${duckHex60("sha256(w || ':dsir')", 1)}) % $b AS bucket FROM w),
         |tb AS (SELECT doc_id, lang, bucket, count(*) AS tf FROM bk GROUP BY 1, 2, 3),
         |m AS (SELECT bucket,
         |        sum(CASE WHEN lang = '$tgt' THEN tf ELSE 0 END) AS ct,
         |        sum(CASE WHEN lang <> '$tgt' THEN tf ELSE 0 END) AS cr
         |      FROM tb GROUP BY 1),
         |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM m),
         |q AS (SELECT bucket,
         |        CAST(round(ln((ct + 1)::DOUBLE / (nt + $b)::DOUBLE)
         |                   - ln((cr + 1)::DOUBLE / (nr + $b)::DOUBLE), 9) AS DECIMAL(20,9)) AS qln
         |      FROM m CROSS JOIN tot),
         |j AS (SELECT tb.doc_id, tb.tf, q.qln * CAST(tb.tf AS DECIMAL(6,0)) AS nl
         |      FROM tb JOIN q USING (bucket))
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |  round(CAST(sum(nl) AS DOUBLE) / sum(tf), 6) AS dsir_score,
         |  round(CAST(sum(nl) AS DOUBLE) / sum(tf), 6) > 0 AS selected
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // same injection, same common-subset regexes (interpolated from
    // TextAnalysis.piiPatterns — one source of truth), same scrub order;
    // DuckDB needs the 'g' flag for replace-all to match Spark
    "pii_scrub" -> {
      val Seq(em, ph, ip) = operators.TextAnalysis.piiPatterns.map(_._2)
      val Seq(emT, phT, ipT) = operators.TextAnalysis.piiPatterns.map(_._3)
      s"""WITH inj AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 3 = 0 THEN 'contact user' || CAST(doc_id AS VARCHAR) || '@example.com ' ELSE '' END) ||
         |  (CASE WHEN doc_id % 4 = 0 THEN 'call 415-555-0123 ' ELSE '' END) ||
         |  (CASE WHEN doc_id % 5 = 0 THEN 'host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ' ELSE '' END) ||
         |  text AS text FROM documents),
         |c AS (SELECT doc_id, text,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$em', '$emT', 'g'), '$ph', '$phT', 'g'), '$ip', '$ipT', 'g') AS clean
         |  FROM inj)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  sha256(clean) AS clean_sha
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // same twin decoration (suffixes rebuilt from codepoints — no raw
    // glyph survives transport), same normalization order: NFC, then
    // lower, then whitespace-collapse, then trim
    "normalized_dedup" ->
      s"""WITH dirty AS (
         |  SELECT doc_id, text || ${sqlChr(nfcSuffixA)} AS text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $nfcTwinOffset, text || ${sqlChr(nfcSuffixB)} FROM documents),
         |h AS (SELECT doc_id, sha256(text) AS raw_sha,
         |        sha256(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')))
         |          AS norm_sha
         |      FROM dirty)
         |SELECT norm_sha, count(*) AS n_docs,
         |  count(DISTINCT raw_sha) AS n_raw_variants, min(doc_id) AS keeper_doc
         |FROM h GROUP BY norm_sha ORDER BY norm_sha""".stripMargin,
    // parallel unnests zip in DuckDB, giving one (pos, element) row per
    // dimension — the scalar shape the driver's comparator can hash
    "embedding_normalize" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |x AS (SELECT vec_id, round(nrm, 6) AS norm,
         |        unnest(generate_series(0, len(v) - 1)) AS pos,
         |        unnest(CASE WHEN nrm = 0 THEN list_transform(v, x -> round(x, 6))
         |               ELSE list_transform(v, x -> round(x / nrm, 6)) END) AS ux
         |      FROM n)
         |SELECT vec_id, norm, CAST(pos AS INT) AS pos, ux
         |FROM x ORDER BY vec_id, pos""".stripMargin,
    // same absmax scale, same (x·127)/scale operation order, same
    // round-half-away-from-zero; the reconstruction error recomputes q
    // inline — identical IEEE ops, so the 9-dp rounding agrees
    "embedding_quantize_codes" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT vec_id, v,
         |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         |x AS (SELECT vec_id, scale,
         |        CASE WHEN scale = 0.0 THEN 0.0
         |          ELSE round(list_max(list_transform(v,
         |            x -> abs(x - (round(x * 127.0 / scale, 0) * scale) / 127.0))), 9)
         |        END AS max_err,
         |        unnest(generate_series(0, len(v) - 1)) AS pos,
         |        unnest(CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0)
         |          ELSE list_transform(v, x -> CAST(round(x * 127.0 / scale, 0) AS INT))
         |        END) AS q
         |      FROM s)
         |SELECT vec_id, round(scale, 6) AS scale, max_err,
         |  CAST(pos AS INT) AS pos, q
         |FROM x ORDER BY vec_id, pos""".stripMargin,
    // same seeded planes and 1/sqrt(m) scale as the query; the double
    // literal round-trips exactly through toString on both engines
    "embedding_project" -> {
      val planes = operators.Ann.hyperplanes(8, 64, 7L)
      val scale = 1.0 / math.sqrt(planes.length.toDouble)
      val elems = planes.map(p =>
        s"round(list_dot_product(v, ${p.mkString("[", ", ", "]")}) * $scale, 6)")
        .mkString(",\n|  ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT vec_id, [$elems] AS proj FROM e),
         |x AS (SELECT vec_id, unnest(generate_series(0, len(proj) - 1)) AS pos,
         |        unnest(proj) AS px FROM p)
         |SELECT vec_id, CAST(pos AS INT) AS pos, px FROM x ORDER BY vec_id, pos""".stripMargin
    },
    "embedding_quantize" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         |q AS (SELECT vec_id, v, scale,
         |        list_transform(v, x -> CAST(round(x*127.0/scale, 0) AS INT)) AS qv FROM s)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  round(list_max(list_transform(list_zip(v, qv),
         |    t -> abs(t[1] - t[2]*scale/127.0))), 9) AS max_err,
         |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_q
         |FROM q ORDER BY vec_id""".stripMargin,
    "dedup_keep_canonical" ->
      s"""WITH h AS (SELECT doc_id, source, sha256(text) AS h FROM documents),
         |c AS (SELECT h, min(doc_id) AS keep_id FROM h GROUP BY h)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM h JOIN c USING (h) GROUP BY source ORDER BY source""".stripMargin,
    "sample_split" ->
      s"""SELECT CASE WHEN vec_id % 10 < 8 THEN 'train'
         |            WHEN vec_id % 10 = 8 THEN 'valid' ELSE 'test' END AS split,
         |  count(*) AS n, count(DISTINCT label) AS n_labels,
         |  min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_embedding_pairs" -> {
      // same banded seeded planes as Dedup.embeddingNearDup (seeds 42..45,
      // 8 bits, quantized to 3 decimals → identical IEEE doubles; same
      // left-to-right dot fold → deterministic sign bit on both engines)
      def bucketSql(seed: Long): String =
        operators.Ann.hyperplanes(8, 64, seed).zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString(" + ")
      val bandCand = (0 until 4).map { bd =>
        s"""SELECT l.vec_id AS vec_a, r.vec_id AS vec_b
           |    FROM b$bd l JOIN b$bd r ON l.bucket = r.bucket AND l.vec_id < r.vec_id""".stripMargin
      }.mkString("\n    UNION\n    ")
      val bandCtes = (0 until 4).map { bd =>
        s"b$bd AS (SELECT vec_id, ${bucketSql(42L + bd)} AS bucket FROM v)"
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$bandCtes,
         |cand AS (
         |    $bandCand
         |),
         |p AS (SELECT cand.vec_a, cand.vec_b, round(${cosSql("a.v", "b.v")}, 6) AS score
         |      FROM cand JOIN v a ON a.vec_id = cand.vec_a
         |                JOIN v b ON b.vec_id = cand.vec_b)
         |SELECT vec_b AS dup_id, min(vec_a) AS keep_id, max(score) AS best_score,
         |  count(*) AS n_matches
         |FROM p WHERE score >= 0.4 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "dedup_embedding_exact_topn_baseline" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(${cosSql("a.v", "b.v")}, 6) AS score
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |ORDER BY score DESC, vec_a, vec_b LIMIT 20""".stripMargin,
    // same regex heuristics: [.!?]+ sentence runs floored at 1,
    // per-word [aeiouy]+ vowel groups floored at 1, fixed-order folds
    "readability" ->
      s"""WITH b AS (SELECT doc_id, text,
         |        regexp_split_to_array(trim(text), '\\s+') AS ws
         |      FROM documents),
         |c AS (SELECT doc_id,
         |        CASE WHEN trim(text) = '' THEN 0 ELSE len(ws) END AS n_words,
         |        greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
         |          AS n_sentences,
         |        CASE WHEN trim(text) = '' THEN 0
         |          ELSE list_sum(list_transform(ws, w ->
         |            greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1)))
         |        END AS n_syllables
         |      FROM b)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_sentences AS BIGINT) AS n_sentences,
         |  CAST(n_syllables AS BIGINT) AS n_syllables,
         |  CASE WHEN n_words > 0 THEN
         |    round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
         |      - 84.6 * (n_syllables::DOUBLE / n_words), 6) END AS flesch_ease,
         |  CASE WHEN n_words > 0 THEN
         |    round(0.39 * (n_words::DOUBLE / n_sentences)
         |      + 11.8 * (n_syllables::DOUBLE / n_words) - 15.59, 6) END AS fk_grade
         |FROM c ORDER BY doc_id""".stripMargin,
    // same explode → two-level aggregation over codepoints; −p·log₂p
    // at 9 dp into decimals, order-free fold, round 6
    "char_entropy" ->
      s"""WITH ch AS (SELECT doc_id,
         |        unnest([substr(text, i, 1) for i in range(1, length(text)+1)]) AS c
         |      FROM documents WHERE length(text) >= 1),
         |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
         |t AS (SELECT doc_id, sum(cnt) AS n, count(*) AS nd FROM cc GROUP BY doc_id)
         |SELECT cc.doc_id, CAST(t.n AS BIGINT) AS n_chars_total,
         |  CAST(t.nd AS BIGINT) AS n_distinct_chars,
         |  round(CAST(sum(CAST(round(-(cnt::DOUBLE / t.n) * log2(cnt::DOUBLE / t.n), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS char_entropy
         |FROM cc JOIN t ON cc.doc_id = t.doc_id
         |GROUP BY cc.doc_id, t.n, t.nd
         |ORDER BY cc.doc_id""".stripMargin,
    "text_stats" ->
      s"""WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_txt,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
         |  round(len(list_distinct(ws))::DOUBLE/len(ws), 6) AS ttr,
         |  round(list_sum(list_transform(ws, x -> CAST(length(x) AS BIGINT)))::DOUBLE/len(ws), 6) AS avg_word_len,
         |  round(len(list_filter(ws, x -> length(x) >= 6))::DOUBLE/len(ws), 6) AS long_word_ratio
         |FROM w ORDER BY doc_id""".stripMargin,
    "token_percentiles" ->
      s"""WITH s AS (SELECT CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nw,
         |             CAST(length(text) AS BIGINT) AS nc FROM documents)
         |SELECT round(quantile_cont(nw, 0.5), 6) AS p50_words,
         |  round(quantile_cont(nw, 0.9), 6) AS p90_words,
         |  round(quantile_cont(nw, 0.99), 6) AS p99_words,
         |  round(quantile_cont(nc, 0.5), 6) AS p50_chars,
         |  round(quantile_cont(nc, 0.9), 6) AS p90_chars,
         |  round(quantile_cont(nc, 0.99), 6) AS p99_chars
         |FROM s""".stripMargin,
    // score = rounded stopword share minus the rounded repetition and
    // punctuation shares, re-rounded — same left-assoc double fold as
    // curriculumBuckets; quartile thresholds via quantile_cont (exact
    // interpolation parity with Spark's percentile)
    "quality_buckets" ->
      s"""WITH $qualityCtes,
         |sc AS (SELECT wa.doc_id,
         |         round(round(stop_c::DOUBLE / n_words, 6) - $qTopW - ($qPunct), 6) AS score
         |       FROM wa JOIN ca ON wa.doc_id = ca.doc_id),
         |th AS (SELECT quantile_cont(score, 0.25) AS p25, quantile_cont(score, 0.5) AS p50,
         |              quantile_cont(score, 0.75) AS p75 FROM sc),
         |b AS (SELECT doc_id, score,
         |        CASE WHEN score <= p25 THEN 1 WHEN score <= p50 THEN 2
         |             WHEN score <= p75 THEN 3 ELSE 4 END AS bucket
         |      FROM sc CROSS JOIN th)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(min(score), 6) AS min_score, round(max(score), 6) AS max_score,
         |  round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_score
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "corpus_report" ->
      s"""WITH $qualityCtes,
         |k AS (SELECT wa.doc_id, $qKeep AS keep
         |      FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
         |        JOIN ca ON wa.doc_id = ca.doc_id),
         |t AS (SELECT doc_id, source,
         |        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nw,
         |        sha256(text) AS h FROM documents),
         |c AS (SELECT h, min(doc_id) AS keep_id FROM t GROUP BY h)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_tokens,
         |  round(quantile_cont(nw, 0.5), 6) AS p50_tokens,
         |  CAST(sum(CASE WHEN t.doc_id <> c.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs,
         |  round(sum(CASE WHEN k.keep THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS quality_keep_rate
         |FROM t JOIN c USING (h) JOIN k ON t.doc_id = k.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,
    "doc_quality" ->
      s"""WITH $qualityCtes
         |SELECT wa.doc_id, n_words,
         |  $qTopW AS top_word_frac,
         |  $qTopBg AS top_bigram_frac,
         |  round(stop_c::DOUBLE / n_words, 6) AS stopword_frac,
         |  $qPunct AS punct_frac,
         |  $qKeep AS keep
         |FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
         |  JOIN ca ON wa.doc_id = ca.doc_id
         |ORDER BY wa.doc_id""".stripMargin,
    // trigrams with MULTIPLICITY (no list_distinct) — the repetition
    // signal counts instances, unlike the dedup shingle CTE
    "doc_repetition" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |gi AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                              for i in range(1, len(ws)-1)]) AS g
         |       FROM w WHERE len(ws) >= 3),
         |c AS (SELECT doc_id, g, count(*) AS c FROM gi GROUP BY doc_id, g),
         |a AS (SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct,
         |             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_i
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(n_distinct, 0) AS BIGINT) AS n_distinct,
         |  CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
         |       ELSE round(dup_i::DOUBLE / n_grams, 6) END AS dup_gram_frac
         |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "vocab_coverage" ->
      s"""WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
         |c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
         |t AS (SELECT sum(cnt) AS total FROM c),
         |v AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
         |      FROM c ORDER BY cnt DESC, w LIMIT 50)
         |SELECT CAST(rank AS INT) AS rank, w AS word, CAST(cnt AS BIGINT) AS cnt,
         |  round(CAST(sum(cnt) OVER (ORDER BY rank) AS DOUBLE) / (SELECT total FROM t), 6) AS cum_frac
         |FROM v ORDER BY rank""".stripMargin,
    // same distinct-basket pair counts, same left-to-right lift
    "basket_lift" ->
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_type AS i
         |      FROM lineitem JOIN part ON p_partkey = l_partkey),
         |n AS (SELECT count(DISTINCT b) AS n_baskets FROM bi),
         |ic AS (SELECT i, count(*) AS ni FROM bi GROUP BY i),
         |p AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_ab
         |      FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
         |      GROUP BY 1, 2)
         |SELECT p.item_a, p.item_b, CAST(p.n_ab AS BIGINT) AS n_ab,
         |  CAST(x.ni AS BIGINT) AS n_a, CAST(y.ni AS BIGINT) AS n_b,
         |  round(CAST(p.n_ab AS DOUBLE) / (SELECT n_baskets FROM n), 6) AS support,
         |  round(CAST(p.n_ab AS DOUBLE) * (SELECT n_baskets FROM n)
         |    / x.ni / y.ni, 6) AS lift
         |FROM p JOIN ic x ON x.i = p.item_a JOIN ic y ON y.i = p.item_b
         |ORDER BY p.item_a, p.item_b""".stripMargin,
    // the IVM theorem as an oracle: the merged states must equal the
    // FROM-SCRATCH aggregate (no base/delta split on this side)
    "ivm_source_stats" ->
      s"""SELECT source, count(n_chars) AS n_docs,
         |  CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sum_chars,
         |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         |  round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
         |    / count(n_chars), 6) AS avg_chars
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // same PMI expression left-to-right; ln = natural log both sides
    "collocations_pmi" ->
      s"""WITH w AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |bg AS (SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
         |       FROM w WHERE len(ws) >= 2),
         |b2 AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |u AS (SELECT unnest(ws) AS w FROM w),
         |u1 AS (SELECT w, count(*) AS c1 FROM u GROUP BY 1),
         |t AS (SELECT (SELECT sum(c2) FROM b2) AS n2, (SELECT sum(c1) FROM u1) AS n1)
         |SELECT w1, w2, CAST(c2 AS BIGINT) AS pair_count,
         |  round(ln(CAST(c2 AS DOUBLE) * n1 * n1 / n2 / cl.c1 / cr.c1), 6) AS pmi
         |FROM b2
         |JOIN u1 cl ON cl.w = b2.w1
         |JOIN u1 cr ON cr.w = b2.w2
         |CROSS JOIN t
         |WHERE c2 >= 5
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    // same dense grid, same per-term expression, same 9-dp decimal fold
    "source_divergence" ->
      s"""WITH sw AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |       FROM documents),
         |c AS (SELECT source, w, count(*) AS c FROM sw GROUP BY 1, 2),
         |wt AS (SELECT w, sum(c) AS cw FROM c GROUP BY 1),
         |st AS (SELECT source, sum(c) AS ns FROM c GROUP BY 1),
         |g AS (SELECT sum(c) AS n FROM c),
         |grid AS (SELECT st.source, st.ns, wt.w, wt.cw FROM st CROSS JOIN wt),
         |d AS (SELECT grid.source, grid.w, grid.ns, grid.cw,
         |        coalesce(c.c, 0) AS c
         |      FROM grid LEFT JOIN c ON c.source = grid.source AND c.w = grid.w),
         |pq AS (SELECT source, CAST(c > 0 AS BIGINT) AS present,
         |         CAST(c AS DOUBLE) / ns AS p,
         |         CASE WHEN (SELECT n FROM g) > ns
         |           THEN CAST(cw - c AS DOUBLE) / ((SELECT n FROM g) - ns)
         |           ELSE 0.0 END AS q
         |       FROM d),
         |tm AS (SELECT source, present,
         |        CAST(round((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
         |                  + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
         |               * 0.5, 9) AS DECIMAL(28,9)) AS t9
         |      FROM pq)
         |SELECT source, round(CAST(sum(t9) AS DOUBLE), 6) AS jsd,
         |  CAST(sum(present) AS BIGINT) AS n_words_present
         |FROM tm GROUP BY source ORDER BY source""".stripMargin,
    // same md5 mantissa → u → −ln(u)/w key, 9-dp round, same tie-break
    "weighted_sample" ->
      s"""WITH s AS (SELECT doc_id, n_chars,
         |    round(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 12)
         |            AS BIGINT) AS DOUBLE) + 0.5) / power(16.0, 12))
         |      / CAST(n_chars AS DOUBLE), 9) AS sample_key
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         |SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS w, sample_key
         |FROM s ORDER BY sample_key, doc_id LIMIT 50""".stripMargin,
    "source_overlap" ->
      s"""WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |sh AS (SELECT DISTINCT source, shingle FROM (
         |         SELECT source, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                                for i in range(1, len(ws)-1)]) AS shingle
         |         FROM w WHERE len(ws) >= 3) t),
         |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
         |      FROM sh a JOIN sh b USING (shingle) WHERE a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(shared AS BIGINT) AS shared,
         |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
         |  round(shared::DOUBLE / (x.n + y.n - shared), 6) AS jaccard
         |FROM p JOIN sz x ON x.source = p.source_a JOIN sz y ON y.source = p.source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH RECURSIVE $qualityCtes,
         |qk AS (SELECT wa.doc_id FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
         |         JOIN ca ON wa.doc_id = ca.doc_id WHERE $qKeep),
         |dq AS (SELECT d0.doc_id, d0.source, d0.text
         |       FROM documents d0 JOIN qk ON d0.doc_id = qk.doc_id),
         |hx AS (SELECT doc_id, source, text, sha256(text) AS h FROM dq),
         |can AS (SELECT h, min(doc_id) AS keep_id FROM hx GROUP BY h),
         |de AS (SELECT hx.doc_id, hx.source, hx.text
         |       FROM hx JOIN can ON hx.h = can.h AND hx.doc_id = can.keep_id),
         |w2 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM de),
         |sh AS (SELECT doc_id, unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         |                                            for i in range(1, len(ws)-1)])) AS shingle
         |       FROM w2 WHERE len(ws) >= 3),
         |seeds AS (SELECT unnest(range(16)) AS seed),
         |sig AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
         |        FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
         |banded AS (SELECT doc_id, CAST(floor(seed/4.0) AS INT) AS band,
         |  md5(string_agg(seed || '=' || minhash, '|' ORDER BY seed || '=' || minhash)) AS band_key
         |  FROM sig GROUP BY doc_id, CAST(floor(seed/4.0) AS INT)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM banded x JOIN banded y
         |           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS c
         |          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
         |                      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
         |          GROUP BY 1, 2),
         |prs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |          JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |pe AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |       UNION ALL SELECT doc_b, doc_a FROM prs),
         |preach AS (SELECT src, dst FROM pe
         |           UNION
         |           SELECT r.src, p2.dst FROM preach r JOIN pe p2 ON r.dst = p2.src),
         |drp AS (SELECT src AS doc_id FROM preach GROUP BY src
         |        HAVING least(src, min(dst)) <> src),
         |fin AS (SELECT de.doc_id, de.source FROM de
         |          LEFT JOIN drp ON de.doc_id = drp.doc_id WHERE drp.doc_id IS NULL),
         |a0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
         |a1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_quality FROM dq GROUP BY 1),
         |a2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM de GROUP BY 1),
         |a3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final FROM fin GROUP BY 1)
         |SELECT a0.source, a0.n_docs,
         |  coalesce(a1.n_quality, 0) AS n_quality,
         |  coalesce(a2.n_exact, 0) AS n_exact,
         |  coalesce(a3.n_final, 0) AS n_final
         |FROM a0 LEFT JOIN a1 ON a0.source = a1.source
         |  LEFT JOIN a2 ON a0.source = a2.source
         |  LEFT JOIN a3 ON a0.source = a3.source
         |ORDER BY a0.source""".stripMargin,
    "doc_novelty" ->
      s"""WITH $shingleCte,
         |f AS (SELECT shingle, min(doc_id) AS first_id FROM sh GROUP BY shingle),
         |p AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |        CAST(sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |      FROM sh JOIN f USING (shingle) GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_shingles, 0) AS n_shingles,
         |  coalesce(p.n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(p.n_shingles, 0) = 0 THEN 0.0
         |       ELSE round(p.n_novel::DOUBLE / p.n_shingles, 6) END AS novelty
         |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "lang_id" -> {
      val scoreCols = TextAnalysis.langMarkers.map { case (l, m) =>
        s"CAST(len(list_filter(ws, x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS score_$l"
      }.mkString(",\n  ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val m = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val pred = langs.init.map(l => s"WHEN score_$l = m THEN '$l'").mkString(" ")
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |s AS (SELECT doc_id,
         |  $scoreCols
         |FROM w)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  CASE $pred ELSE '${langs.last}' END AS pred_lang
         |FROM (SELECT *, $m AS m FROM s) ORDER BY doc_id""".stripMargin
    },
    // same scoring chain as lang_id, joined to ground truth; row-share
    // window over the bounded lang domain
    "langid_confusion" -> {
      val scoreCols = TextAnalysis.langMarkers.map { case (l, m) =>
        s"CAST(len(list_filter(ws, x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS score_$l"
      }.mkString(",\n  ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val m = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val pred = langs.init.map(l => s"WHEN score_$l = m THEN '$l'").mkString(" ")
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |s AS (SELECT doc_id,
         |  $scoreCols
         |FROM w),
         |p AS (SELECT doc_id, CASE $pred ELSE '${langs.last}' END AS pred_lang
         |      FROM (SELECT *, $m AS m FROM s)),
         |j AS (SELECT d.lang, p.pred_lang FROM documents d JOIN p USING (doc_id)),
         |c AS (SELECT lang, pred_lang, count(*) AS n FROM j GROUP BY 1, 2)
         |SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
         |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6)
         |    AS share_of_true
         |FROM c ORDER BY lang, pred_lang""".stripMargin
    },
    "token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS re_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_digests" ->
      s"""SELECT doc_id, sha256(text) AS sha256, md5(text) AS md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "tfidf_top_terms" ->
      s"""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
         |           FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
         |dfr AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |scored AS (SELECT tf.doc_id, tf.word,
         |             round(tf.tf * ln(n.n_docs::DOUBLE / dfr.df), 6) AS score
         |           FROM tf JOIN dfr USING (word) CROSS JOIN n),
         |r AS (SELECT *, CAST(row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, word) AS INT) AS rank
         |      FROM scored)
         |SELECT doc_id, rank, word, score FROM r WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,
    "doc_sketch" ->
      s"""WITH g AS (SELECT doc_id,
         |             unnest(list_distinct([md5(substr(text, i, 8))
         |                                   for i in range(1, length(text)-6)])) AS h
         |           FROM documents WHERE length(text) >= 8),
         |r AS (SELECT doc_id, h, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY h) AS INT) AS rank
         |      FROM g)
         |SELECT doc_id, rank, h FROM r WHERE rank <= 4 ORDER BY doc_id, rank""".stripMargin,
    // the oracle states the EXACT top-k the two-pass scheme must equal
    "heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |           FROM documents),
         |c AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY w)
         |SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank,
         |  word, n
         |FROM c ORDER BY n DESC, word LIMIT 20""".stripMargin,
    // the oracle replays the IDENTICAL md5("d:term") % width hashing,
    // so the deterministic sketch estimates hash-compare exactly
    "cms_estimate" ->
      s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |           FROM documents),
         |b AS (SELECT d, CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 12)
         |               AS BIGINT) % 1024 AS bucket
         |      FROM t, range(4) r(d)),
         |c AS (SELECT d, bucket, count(*) AS n FROM b GROUP BY d, bucket),
         |q AS (SELECT unnest(['join','hash','vector','data','merge','absent']) AS term),
         |e AS (SELECT term, d, CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || term), 1, 12)
         |               AS BIGINT) % 1024 AS bucket
         |      FROM q, range(4) r(d))
         |SELECT term, CAST(min(coalesce(c.n, 0)) AS BIGINT) AS n_est
         |FROM e LEFT JOIN c USING (d, bucket)
         |GROUP BY term ORDER BY term""".stripMargin,
    // ties break on the STRING form of the key (the engine reports
    // key_value as string) — the oracle casts before ordering
    "key_skew" ->
      s"""WITH c AS (SELECT CAST(coalesce(CAST(event_type AS VARCHAR), '(null)') AS VARCHAR)
         |             AS key_value, count(*) AS n
         |           FROM events GROUP BY 1),
         |t AS (SELECT sum(n) AS total FROM c)
         |SELECT CAST(row_number() OVER (ORDER BY n DESC, key_value) AS INT) AS rank,
         |  key_value, CAST(n AS BIGINT) AS n,
         |  round(n * 100.0 / total, 6) AS share_pct
         |FROM c, t ORDER BY n DESC, key_value LIMIT 5""".stripMargin,
    // the oracle replays the identical md5 bucketing and inner product;
    // n_est travels as a digit STRING on both sides — a DECIMAL(38,0)
    // output column is not representation-stable across engines/readers
    // (CORRECTNESS_r09: the only two red rows were the only two
    // wide-decimal output columns), a digit string hashes identically
    // everywhere
    "join_size_estimate" ->
      s"""WITH k AS (SELECT CAST(user_id AS VARCHAR) AS w FROM events
         |           WHERE user_id IS NOT NULL),
         |b AS (SELECT d, CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 12)
         |               AS BIGINT) % 1024 AS bucket
         |      FROM k, range(4) r(d)),
         |c AS (SELECT d, bucket, count(*) AS n FROM b GROUP BY d, bucket),
         |ip AS (SELECT d, sum(n * n) AS ip FROM c GROUP BY d)
         |SELECT CAST(CAST(coalesce(min(ip), 0) AS DECIMAL(38,0)) AS VARCHAR)
         |  AS n_est FROM ip""".stripMargin,
    // identical md5 mantissa draw, Poisson(1) CDF literals, one
    // double division per replicate, interpolated percentiles
    "bootstrap_ci" ->
      s"""WITH rws AS (SELECT CAST(doc_id AS VARCHAR) AS id, n_chars AS x
         |             FROM documents WHERE n_chars IS NOT NULL),
         |u AS (SELECT x, b,
         |        (CAST(CAST('0x' || substr(md5(id || ':bs:' || CAST(b AS VARCHAR)), 1, 12)
         |              AS BIGINT) AS DOUBLE) + 0.5) / power(16.0, 12) AS u
         |      FROM rws, range(200) r(b)),
         |wt AS (SELECT x, b,
         |         CASE WHEN u < 0.36787944117144233 THEN 0
         |              WHEN u < 0.7357588823428847 THEN 1
         |              WHEN u < 0.9196986029286058 THEN 2
         |              WHEN u < 0.9810118431238462 THEN 3
         |              WHEN u < 0.9963401531726563 THEN 4
         |              WHEN u < 0.9994058151824183 THEN 5
         |              WHEN u < 0.9999167588507119 THEN 6
         |              WHEN u < 0.9999897508033253 THEN 7
         |              ELSE 8 END AS wgt
         |       FROM u),
         |m AS (SELECT b, round(CAST(sum(x * wgt) AS DOUBLE) / sum(wgt), 6) AS m
         |      FROM wt GROUP BY b HAVING sum(wgt) > 0),
         |ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_used,
         |         round(quantile_cont(m, 0.025), 6) AS ci_lo,
         |         round(quantile_cont(m, 0.975), 6) AS ci_hi
         |       FROM m),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS point_mean
         |       FROM rws)
         |SELECT n_rows, n_reps_used, point_mean, ci_lo, ci_hi FROM pt, ci""".stripMargin,
    "bootstrap_diff_ci" ->
      s"""WITH rws AS (SELECT CAST(doc_id AS VARCHAR) AS id, n_chars AS x, lang AS g
         |             FROM documents
         |             WHERE n_chars IS NOT NULL AND lang IN ('en','fr')),
         |u AS (SELECT x, g, b,
         |        (CAST(CAST('0x' || substr(md5(id || ':bs:' || CAST(b AS VARCHAR)), 1, 12)
         |              AS BIGINT) AS DOUBLE) + 0.5) / power(16.0, 12) AS u
         |      FROM rws, range(200) r(b)),
         |wt AS (SELECT x, g, b,
         |         CASE WHEN u < 0.36787944117144233 THEN 0
         |              WHEN u < 0.7357588823428847 THEN 1
         |              WHEN u < 0.9196986029286058 THEN 2
         |              WHEN u < 0.9810118431238462 THEN 3
         |              WHEN u < 0.9963401531726563 THEN 4
         |              WHEN u < 0.9994058151824183 THEN 5
         |              WHEN u < 0.9999167588507119 THEN 6
         |              WHEN u < 0.9999897508033253 THEN 7
         |              ELSE 8 END AS wgt
         |       FROM u),
         |m AS (SELECT b,
         |        round(round(CAST(sum(CASE WHEN g = 'en' THEN x * wgt ELSE 0 END) AS DOUBLE)
         |                / sum(CASE WHEN g = 'en' THEN wgt ELSE 0 END), 6)
         |            - round(CAST(sum(CASE WHEN g = 'fr' THEN x * wgt ELSE 0 END) AS DOUBLE)
         |                / sum(CASE WHEN g = 'fr' THEN wgt ELSE 0 END), 6), 6) AS m
         |      FROM wt GROUP BY b
         |      HAVING sum(CASE WHEN g = 'en' THEN wgt ELSE 0 END) > 0
         |         AND sum(CASE WHEN g = 'fr' THEN wgt ELSE 0 END) > 0),
         |ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_used,
         |         round(quantile_cont(m, 0.025), 6) AS ci_lo,
         |         round(quantile_cont(m, 0.975), 6) AS ci_hi
         |       FROM m),
         |pt AS (SELECT CAST(sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN g = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |         round(round(CAST(sum(CASE WHEN g = 'en' THEN x ELSE 0 END) AS DOUBLE)
         |                 / sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END), 6)
         |             - round(CAST(sum(CASE WHEN g = 'fr' THEN x ELSE 0 END) AS DOUBLE)
         |                 / sum(CASE WHEN g = 'fr' THEN 1 ELSE 0 END), 6), 6) AS point_diff
         |       FROM rws)
         |SELECT n_a, n_b, n_reps_used, point_diff, ci_lo, ci_hi FROM pt, ci""".stripMargin,
    // the oracle replays the bottom-k of distinct md5-12 hashes and
    // the (k-1)/u_k estimator with the same mantissa convention
    "distinct_estimate" ->
      s"""WITH h AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
         |                 AS BIGINT) AS h
         |           FROM events WHERE user_id IS NOT NULL),
         |sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS sketch_size, max(h) AS hk FROM sk)
         |SELECT CAST(256 AS BIGINT) AS k, sketch_size,
         |  CASE WHEN sketch_size < 256 THEN CAST(sketch_size AS DOUBLE)
         |       ELSE round(255.0 / ((CAST(hk AS DOUBLE) + 0.5) / power(16.0, 12)), 6)
         |  END AS n_est
         |FROM s""".stripMargin,
    // same md5-12 draw on the KEY, same (draw, value) sample order,
    // interpolated percentiles over sample and corpus
    "quantile_estimate" ->
      s"""WITH base AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |                  AS BIGINT) AS h,
         |                CAST(n_chars AS DOUBLE) AS v
         |              FROM documents WHERE n_chars IS NOT NULL),
         |smp AS (SELECT v FROM base ORDER BY h, v LIMIT 1024),
         |sa AS (SELECT count(*) AS n_sample,
         |         quantile_cont(v, [0.5, 0.9, 0.99]) AS qe FROM smp),
         |ex AS (SELECT count(*) AS n_rows,
         |         quantile_cont(v, [0.5, 0.9, 0.99]) AS qx FROM base),
         |p AS (SELECT * FROM (VALUES (1, 0.5), (2, 0.9), (3, 0.99)) AS t(i, p))
         |SELECT CAST(p.p AS DOUBLE) AS p, round(sa.qe[p.i], 6) AS q_est,
         |  round(ex.qx[p.i], 6) AS q_exact,
         |  round(abs(sa.qe[p.i] - ex.qx[p.i]), 6) AS abs_error,
         |  CAST(sa.n_sample AS BIGINT) AS n_sample,
         |  CAST(ex.n_rows AS BIGINT) AS n_rows
         |FROM p CROSS JOIN sa CROSS JOIN ex ORDER BY p.p""".stripMargin,
    // same per-group (draw, value) rank cut at k, interpolated
    // percentiles per group on both sides
    "group_quantile_estimate" ->
      s"""WITH base AS (SELECT source AS grp,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |          AS BIGINT) AS h,
         |        CAST(n_chars AS DOUBLE) AS v
         |      FROM documents WHERE n_chars IS NOT NULL),
         |r AS (SELECT grp, v, row_number() OVER (PARTITION BY grp
         |        ORDER BY h, v) AS rn FROM base),
         |sa AS (SELECT grp, count(*) AS n_sample,
         |         quantile_cont(v, [0.5, 0.9]) AS qe
         |       FROM r WHERE rn <= 64 GROUP BY grp),
         |ex AS (SELECT grp, count(*) AS n_rows,
         |         quantile_cont(v, [0.5, 0.9]) AS qx
         |       FROM base GROUP BY grp),
         |p AS (SELECT * FROM (VALUES (1, 0.5), (2, 0.9)) AS t(i, p))
         |SELECT sa.grp, CAST(p.p AS DOUBLE) AS p,
         |  round(sa.qe[p.i], 6) AS q_est,
         |  round(ex.qx[p.i], 6) AS q_exact,
         |  round(abs(sa.qe[p.i] - ex.qx[p.i]), 6) AS abs_error,
         |  CAST(sa.n_sample AS BIGINT) AS n_sample,
         |  CAST(ex.n_rows AS BIGINT) AS n_rows
         |FROM sa JOIN ex ON sa.grp = ex.grp CROSS JOIN p
         |ORDER BY sa.grp, p.p""".stripMargin,
    // replay: two bottom-k sketches, truncated union, membership
    // count; the rounded factors multiply (not the raw ones) exactly
    // as the engine does
    "audience_overlap_estimate" ->
      s"""WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
         |                AS BIGINT) AS h
         |            FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         |ask AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         |hb AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
         |                AS BIGINT) AS h
         |            FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
         |bsk AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         |usk AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM ask UNION ALL SELECT h FROM bsk))
         |        ORDER BY h LIMIT 256),
         |s AS (SELECT count(*) AS n, max(h) AS hk FROM usk),
         |ib AS (SELECT count(*) AS inboth FROM usk
         |       WHERE h IN (SELECT h FROM ask) AND h IN (SELECT h FROM bsk)),
         |r AS (SELECT
         |        CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
         |             ELSE round(255.0 / ((CAST(hk AS DOUBLE) + 0.5) / power(16.0, 12)), 6)
         |        END AS union_est,
         |        round(CAST(inboth AS DOUBLE)
         |                / (CASE WHEN n < 256 THEN n ELSE 256 END), 6) AS jaccard_est
         |      FROM s, ib)
         |SELECT CAST(256 AS BIGINT) AS k, union_est, jaccard_est,
         |  round(jaccard_est * union_est, 6) AS intersect_est
         |FROM r""".stripMargin,
    // replay: per-source bottom-k DISTINCT md5-12 hashes, pairwise
    // truncated unions, the same exact-below-k / (k−1)/θ lanes and
    // rounded-factor products as the single-pair oracle above
    "source_jaccard_kmv" ->
      s"""WITH t AS (SELECT source AS g,
         |             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |           FROM documents),
         |h AS (SELECT DISTINCT g,
         |        CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) AS h FROM t),
         |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
         |        AS rn FROM h),
         |sk AS (SELECT g, h FROM r WHERE rn <= 256),
         |pr AS (SELECT a.g AS ga, b.g AS gb
         |       FROM (SELECT DISTINCT g FROM sk) a
         |       JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
         |u1 AS (SELECT DISTINCT p.ga, p.gb, s.h
         |       FROM pr p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
         |ur AS (SELECT ga, gb, h,
         |         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
         |       FROM u1),
         |usk AS (SELECT ga, gb, h FROM ur WHERE rn <= 256),
         |s2 AS (SELECT ga, gb, count(*) AS n, max(h) AS hk FROM usk
         |       GROUP BY ga, gb),
         |ib AS (SELECT u.ga, u.gb, count(*) AS inboth FROM usk u
         |       WHERE EXISTS (SELECT 1 FROM sk WHERE g = u.ga AND h = u.h)
         |         AND EXISTS (SELECT 1 FROM sk WHERE g = u.gb AND h = u.h)
         |       GROUP BY u.ga, u.gb),
         |rr AS (SELECT s2.ga, s2.gb, s2.n,
         |         CASE WHEN s2.n < 256 THEN CAST(s2.n AS DOUBLE)
         |              ELSE round(255.0 / ((CAST(s2.hk AS DOUBLE) + 0.5)
         |                / power(16.0, 12)), 6) END AS union_est,
         |         round(CAST(coalesce(ib.inboth, 0) AS DOUBLE)
         |           / (CASE WHEN s2.n < 256 THEN s2.n ELSE 256 END), 6)
         |           AS jaccard_est
         |       FROM s2 LEFT JOIN ib ON s2.ga = ib.ga AND s2.gb = ib.gb)
         |SELECT ga AS group_a, gb AS group_b, CAST(256 AS BIGINT) AS k,
         |  union_est, jaccard_est,
         |  round(jaccard_est * union_est, 6) AS intersect_est
         |FROM rr ORDER BY group_a, group_b""".stripMargin,
    // identical 9-dp-quantized nat terms, decimal fold, shared ln 2
    // literal, NMI from the ROUNDED entropies
    "mutual_information" ->
      s"""WITH cells AS (SELECT lang AS a, source AS b, count(*) AS c
         |               FROM documents GROUP BY 1, 2),
         |ma AS (SELECT a, sum(c) AS ca FROM cells GROUP BY a),
         |mb AS (SELECT b, sum(c) AS cb FROM cells GROUP BY b),
         |g AS (SELECT sum(c) AS n FROM cells),
         |mit AS (SELECT round((CAST(c AS DOUBLE) / n)
         |            * ln(CAST(c AS DOUBLE) * n / (CAST(ca AS DOUBLE) * cb)), 9) AS t9
         |        FROM cells JOIN ma USING (a) JOIN mb USING (b), g),
         |mi AS (SELECT round(CAST(sum(CAST(t9 AS DECIMAL(28,9))) AS DOUBLE)
         |                 / 0.6931471805599453, 6) AS mi FROM mit),
         |hat AS (SELECT round((CAST(ca AS DOUBLE) / n)
         |            * ln(CAST(n AS DOUBLE) / ca), 9) AS t9 FROM ma, g),
         |ha AS (SELECT round(CAST(sum(CAST(t9 AS DECIMAL(28,9))) AS DOUBLE)
         |                 / 0.6931471805599453, 6) AS ha FROM hat),
         |hbt AS (SELECT round((CAST(cb AS DOUBLE) / n)
         |            * ln(CAST(n AS DOUBLE) / cb), 9) AS t9 FROM mb, g),
         |hb AS (SELECT round(CAST(sum(CAST(t9 AS DECIMAL(28,9))) AS DOUBLE)
         |                 / 0.6931471805599453, 6) AS hb FROM hbt)
         |SELECT CAST(n AS BIGINT) AS n, mi AS mi_bits,
         |  ha AS h_a_bits, hb AS h_b_bits,
         |  CASE WHEN ha > 0 AND hb > 0 THEN round(mi / sqrt(ha * hb), 6)
         |       ELSE 0.0 END AS nmi
         |FROM g, mi, ha, hb""".stripMargin,
    // identical reference-decile edges (quantile_cont = percentile
    // interpolation), strictly-above bin fold, smoothed shares
    "psi_drift" ->
      s"""WITH ref AS (SELECT n_chars AS v FROM documents
         |             WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
         |cur AS (SELECT n_chars AS v FROM documents
         |        WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
         |es AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS es
         |       FROM ref),
         |rc AS (SELECT bin, count(*) AS c_ref FROM (
         |         SELECT list_sum(list_transform(es.es,
         |           e -> CASE WHEN CAST(v AS DOUBLE) > e THEN 1 ELSE 0 END)) AS bin
         |         FROM ref, es) GROUP BY bin),
         |cc AS (SELECT bin, count(*) AS c_cur FROM (
         |         SELECT list_sum(list_transform(es.es,
         |           e -> CASE WHEN CAST(v AS DOUBLE) > e THEN 1 ELSE 0 END)) AS bin
         |         FROM cur, es) GROUP BY bin),
         |g AS (SELECT b.bin, coalesce(rc.c_ref, 0) AS c_ref, coalesce(cc.c_cur, 0) AS c_cur
         |      FROM range(10) b(bin)
         |      LEFT JOIN rc ON rc.bin = b.bin LEFT JOIN cc ON cc.bin = b.bin),
         |t AS (SELECT sum(c_ref) AS n_ref, sum(c_cur) AS n_cur FROM g),
         |terms AS (SELECT n_ref, n_cur,
         |            round(((CAST(c_cur AS DOUBLE) + 0.5) / (n_cur + 5.0)
         |                 - (CAST(c_ref AS DOUBLE) + 0.5) / (n_ref + 5.0))
         |              * ln(((CAST(c_cur AS DOUBLE) + 0.5) / (n_cur + 5.0))
         |                 / ((CAST(c_ref AS DOUBLE) + 0.5) / (n_ref + 5.0))), 9) AS t9
         |          FROM g, t)
         |SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
         |  CAST(10 AS INT) AS bins,
         |  round(CAST(sum(CAST(t9 AS DECIMAL(28,9))) AS DOUBLE), 6) AS psi
         |FROM terms GROUP BY n_ref, n_cur""".stripMargin,
    // the classifier_ks rational over (n_chars, even-slice) — no
    // scoring chain, pure two-sample form
    "drift_ks" ->
      s"""WITH l AS (SELECT CAST(n_chars AS DOUBLE) AS quality,
         |             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS label
         |           FROM documents),
         |b AS (SELECT quality, CAST(sum(label) AS BIGINT) AS n_pos,
         |        CAST(sum(1 - label) AS BIGINT) AS n_neg
         |      FROM l GROUP BY quality),
         |c AS (SELECT quality, n_pos, n_neg,
         |        CAST(sum(n_pos) OVER (ORDER BY quality
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pos_cum,
         |        CAST(sum(n_neg) OVER (ORDER BY quality
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS neg_cum
         |      FROM b),
         |t AS (SELECT sum(n_pos) AS np, sum(n_neg) AS nn FROM c)
         |SELECT round(CAST(max(abs(CAST(pos_cum AS DECIMAL(38,0)) * nn
         |          - CAST(neg_cum AS DECIMAL(38,0)) * np)) AS DOUBLE)
         |      / (CAST(np AS DOUBLE) * nn), 6) AS ks,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM c, t GROUP BY np, nn""".stripMargin,
    "doc_chunks" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |c AS (SELECT doc_id, ws,
         |        greatest(CAST(ceil((len(ws) - 10)::DOUBLE / 40) AS INT), 1) AS n_chunks FROM w),
         |e AS (SELECT doc_id, ws, unnest(range(n_chunks)) AS chunk_idx FROM c)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(len(ws[chunk_idx*40+1 : chunk_idx*40+50]) AS BIGINT) AS n_words,
         |  array_to_string(ws[chunk_idx*40+1 : chunk_idx*40+50], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "search_centroids_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |$centroidCte,
         |sz AS (SELECT label, count(*) AS n_members FROM embeddings GROUP BY label)
         |SELECT CAST(cl.label AS INT) AS label, sz.n_members,
         |  round(${cosSql("cl.cv", "q.qe")}, 6) AS score
         |FROM cl CROSS JOIN q JOIN sz ON cl.label = sz.label
         |ORDER BY score DESC, label LIMIT 5""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |$centroidCte,
         |pr AS (SELECT CAST(cl.label AS INT) AS label, round(${cosSql("cl.cv", "q.qe")}, 6) AS s
         |       FROM cl CROSS JOIN q ORDER BY s DESC, label LIMIT 2)
         |SELECT e.vec_id, CAST(e.label AS INT) AS label,
         |  round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qe")}, 6) AS score
         |FROM embeddings e JOIN pr ON e.label = pr.label CROSS JOIN q
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    // assignment replay from the dumped centroids (the ann_kmeans_ivf
    // Voronoi CTE), within-cell cosine pairs at the shared threshold,
    // transitive closure via recursive CTE, min-label per component;
    // singletons label themselves through the left-join coalesce
    "semdedup" -> {
      val path = operators.KMeansIndex.centroidDumpPath + "_sem"
      val tau = operators.Dedup.semDedupThreshold
      s"""WITH RECURSIVE c AS (SELECT cell, centroid FROM '$path/*.parquet'),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, e.v, c.cell,
         |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
         |      FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |         FROM d)
         |      WHERE rn = 1),
         |prs AS (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
         |        FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |        WHERE round(${cosSql("x.v", "y.v")}, 6) >= $tau),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |       UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (SELECT src, dst FROM ed
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN ed e2 ON r.dst = e2.src),
         |g AS (SELECT src AS vec_id, least(src, min(dst)) AS group_id FROM reach GROUP BY src)
         |SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
         |  coalesce(g.group_id, a.vec_id) AS group_id,
         |  coalesce(g.group_id, a.vec_id) = a.vec_id AS keep
         |FROM a LEFT JOIN g ON a.vec_id = g.vec_id
         |ORDER BY a.vec_id""".stripMargin
    },
    // probe+scan replay from the centroids the query persisted: same
    // Voronoi assignment (dot-product distance form, lowest-cell ties),
    // same cosine probe ranking, same final top-k
    "ann_kmeans_ivf" -> {
      val path = operators.KMeansIndex.centroidDumpPath
      s"""WITH c AS (SELECT cell, centroid FROM '$path/*.parquet'),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |pr AS (SELECT cell FROM c CROSS JOIN q
         |       ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, cell LIMIT 3),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, e.v, c.cell,
         |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
         |      FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |         FROM d)
         |      WHERE rn = 1)
         |SELECT a.vec_id, CAST(a.cell AS INT) AS cell, round(${cosSql("a.v", "q.qe")}, 6) AS score
         |FROM a JOIN pr ON a.cell = pr.cell CROSS JOIN q
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    // both arms replayed from the dumped centroids: assignment rn=1,
    // IVF probes rn<=2, ground truth = the full-probe scan
    "ann_recall" -> {
      val path = operators.KMeansIndex.centroidDumpPath + "_recall"
      s"""WITH c AS (SELECT cell, centroid FROM '$path/*.parquet'),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, e.v, c.cell,
         |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
         |      FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |         FROM d)
         |      WHERE rn = 1),
         |pr AS (SELECT query_id, cell FROM (
         |         SELECT q.query_id, c.cell,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, c.cell) AS rn
         |         FROM q CROSS JOIN c) WHERE rn <= 2),
         |ivf AS (SELECT query_id, vec_id FROM (
         |          SELECT q.query_id, a.vec_id,
         |            row_number() OVER (PARTITION BY q.query_id
         |              ORDER BY round(${cosSql("a.v", "q.qe")}, 6) DESC, a.vec_id) AS rnk
         |          FROM a JOIN pr ON a.cell = pr.cell
         |               JOIN q ON q.query_id = pr.query_id) WHERE rnk <= 10),
         |brute AS (SELECT query_id, vec_id FROM (
         |            SELECT q.query_id, a.vec_id,
         |              row_number() OVER (PARTITION BY q.query_id
         |                ORDER BY round(${cosSql("a.v", "q.qe")}, 6) DESC, a.vec_id) AS rnk
         |            FROM a CROSS JOIN q) WHERE rnk <= 10),
         |j AS (SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM brute b JOIN ivf i USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(j.n_hits, 0) AS n_hits,
         |  round(CAST(coalesce(j.n_hits, 0) AS DOUBLE) / 10.0::DOUBLE, 6) AS recall
         |FROM q LEFT JOIN j USING (query_id) ORDER BY q.query_id""".stripMargin
    },
    // both arms replayed over the same table: full vectors vs the
    // 1-based-inclusive 16-dim slice; cosine needs no renormalization
    "mrl_truncation_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qf
         |      FROM embeddings WHERE vec_id < 5),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT query_id, vec_id FROM (
         |         SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${cosSql("e.v", "q.qf")}, 6) DESC, e.vec_id) AS rnk
         |         FROM e CROSS JOIN q) WHERE rnk <= 10),
         |cut AS (SELECT query_id, vec_id FROM (
         |          SELECT q.query_id, e.vec_id,
         |            row_number() OVER (PARTITION BY q.query_id
         |              ORDER BY round(${cosSql("e.v[1:16]", "q.qf[1:16]")}, 6) DESC,
         |                e.vec_id) AS rnk
         |          FROM e CROSS JOIN q) WHERE rnk <= 10),
         |h AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM ex JOIN cut USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
         |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0::DOUBLE, 6) AS recall
         |FROM q LEFT JOIN h USING (query_id) ORDER BY q.query_id""".stripMargin,
    // sign signatures rebuilt per 32-dim word (strictly-positive test —
    // the same bit both engines compute from the same float), Hamming =
    // popcount of the word XORs, candidate cut at (hamming, vec_id),
    // rerank = exact cosine over the 50 survivors
    "search_hamming_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |s AS (SELECT vec_id,
         |        CAST(list_sum(list_transform(range(32),
         |          i -> CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS sig0,
         |        CAST(list_sum(list_transform(range(32),
         |          i -> CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS sig1
         |      FROM e),
         |q AS (SELECT s.sig0 AS q0, s.sig1 AS q1, CAST(e.embedding AS DOUBLE[]) AS qe
         |      FROM s JOIN embeddings e USING (vec_id) WHERE vec_id = 0),
         |cand AS (SELECT s.vec_id,
         |           CAST(bit_count(xor(s.sig0, q.q0)) + bit_count(xor(s.sig1, q.q1)) AS INT) AS hamming
         |         FROM s CROSS JOIN q
         |         ORDER BY hamming ASC, s.vec_id ASC LIMIT 50)
         |SELECT c.vec_id, c.hamming,
         |  round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qe")}, 6) AS score
         |FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
         |ORDER BY score DESC, c.vec_id ASC LIMIT 10""".stripMargin,
    // the sweep replayed from the same dumped centroids: probe ranks
    // once per (query, cell), arms by rank <= n_probe, ground truth =
    // the all-cells scan, recall = hits / (|q| * 10)
    "ann_recall_curve" -> {
      val path = operators.KMeansIndex.centroidDumpPath + "_curve"
      s"""WITH c AS (SELECT cell, centroid FROM '$path/*.parquet'),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, e.v, c.cell,
         |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
         |      FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |         FROM d)
         |      WHERE rn = 1),
         |pr AS (SELECT query_id, cell,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, c.cell) AS rn
         |       FROM q, c),
         |ps AS (SELECT * FROM (VALUES (1),(2),(4),(8),(16)) t(n_probe)),
         |ivf AS (SELECT n_probe, query_id, vec_id FROM (
         |          SELECT ps.n_probe, pr.query_id, a.vec_id,
         |            row_number() OVER (PARTITION BY ps.n_probe, pr.query_id
         |              ORDER BY round(${cosSql("a.v", "q.qe")}, 6) DESC, a.vec_id) AS rnk
         |          FROM pr JOIN ps ON pr.rn <= ps.n_probe
         |               JOIN a ON a.cell = pr.cell
         |               JOIN q ON q.query_id = pr.query_id) WHERE rnk <= 10),
         |brute AS (SELECT query_id, vec_id FROM (
         |            SELECT q.query_id, a.vec_id,
         |              row_number() OVER (PARTITION BY q.query_id
         |                ORDER BY round(${cosSql("a.v", "q.qe")}, 6) DESC, a.vec_id) AS rnk
         |            FROM a CROSS JOIN q) WHERE rnk <= 10),
         |hits AS (SELECT i.n_probe, CAST(count(*) AS BIGINT) AS h
         |         FROM ivf i JOIN brute b USING (query_id, vec_id) GROUP BY 1),
         |cells AS (SELECT ps.n_probe, CAST(count(*) AS BIGINT) AS cells_scanned
         |          FROM pr JOIN ps ON pr.rn <= ps.n_probe GROUP BY 1)
         |SELECT ps.n_probe, cells.cells_scanned,
         |  round(CAST(coalesce(hits.h, 0) AS DOUBLE)
         |    / (CAST((SELECT count(*) FROM q) AS DOUBLE) * 10.0::DOUBLE), 6)
         |    AS recall_at_k
         |FROM ps JOIN cells USING (n_probe) LEFT JOIN hits USING (n_probe)
         |ORDER BY ps.n_probe""".stripMargin
    },
    "ann_batch_topk" -> {
      val path = operators.KMeansIndex.centroidDumpPath + "_batch"
      s"""WITH c AS (SELECT cell, centroid FROM '$path/*.parquet'),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |pr AS (SELECT query_id, qe, cell FROM (
         |         SELECT q.query_id, q.qe, c.cell,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, c.cell) AS rn
         |         FROM q CROSS JOIN c) WHERE rn <= 3),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, e.v, c.cell,
         |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
         |      FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |         FROM d)
         |      WHERE rn = 1),
         |s AS (SELECT pr.query_id, a.vec_id, round(${cosSql("a.v", "pr.qe")}, 6) AS score
         |      FROM a JOIN pr ON a.cell = pr.cell),
         |r AS (SELECT query_id, vec_id, score,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |      FROM s)
         |SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // replay of the PERSISTED layout search from the centroids the query
    // wrote into the layout itself: every embedding (base + appended
    // batch alike) is assigned by the same dot-form argmin, so the
    // oracle checks both the append-time assignment and the committed
    // read view in one hash
    // identical layout-independent replay for the compacted layout:
    // compaction must be invisible to semantics, so a fold that lost or
    // duplicated one row breaks this hash
    "ann_ivf_compacted" -> ivfPersistedOracle(operators.KMeansIndex.compactDumpPath),
    "ann_ivf_persisted" -> ivfPersistedOracle(operators.KMeansIndex.persistDumpPath),
    // PQ replay from the dumped per-subspace codebooks: the same dot-form
    // subvector distance (list slices are 1-based inclusive, matching
    // Spark's slice(v, s*subDim+1, subDim)), ties to the lowest code,
    // codes re-packed by shift, the 9dp-quantized min-dists folded in
    // exact decimals — assignment, packing and error all under one hash
    "pq_encode" -> {
      val path = operators.Pq.codebookDumpPath
      val sd = 64 / operators.Pq.numSub
      val bits = operators.Pq.bitsPerCode
      s"""WITH cb AS (SELECT sub, code, centroid FROM '$path/*.parquet'),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, cb.sub, cb.code,
         |        list_dot_product(e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd], e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd])
         |          + list_dot_product(cb.centroid, cb.centroid)
         |          - 2.0 * list_dot_product(e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd], cb.centroid) AS dist
         |      FROM e CROSS JOIN cb),
         |a AS (SELECT vec_id, sub, code, dist FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
         |         FROM d)
         |      WHERE rn = 1)
         |SELECT vec_id,
         |  CAST(sum(CAST(code AS BIGINT) * (CAST(1 AS BIGINT) << ($bits * sub))) AS BIGINT) AS pq_code,
         |  round(CAST(sum(CAST(round(dist, 9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS qerr
         |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    // same assignment replay, then the ADC lookup table is rebuilt from
    // the dumped codebooks and the query's own subvectors; the per-code
    // lookups are 9dp-quantized and decimal-folded, and the top-k orders
    // on the EXACT decimal before the display rounding — as the Spark side
    "pq_adc_topk" -> {
      val path = operators.Pq.codebookDumpPath + "_adc"
      val sd = 64 / operators.Pq.numSub
      val bits = operators.Pq.bitsPerCode
      s"""WITH cb AS (SELECT sub, code, centroid FROM '$path/*.parquet'),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, cb.sub, cb.code,
         |        list_dot_product(e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd], e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd])
         |          + list_dot_product(cb.centroid, cb.centroid)
         |          - 2.0 * list_dot_product(e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd], cb.centroid) AS dist
         |      FROM e CROSS JOIN cb),
         |a AS (SELECT vec_id, sub, code FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
         |         FROM d)
         |      WHERE rn = 1),
         |lut AS (SELECT cb.sub, cb.code,
         |          list_dot_product(q.qe[cb.sub*$sd+1 : cb.sub*$sd+$sd], q.qe[cb.sub*$sd+1 : cb.sub*$sd+$sd])
         |            + list_dot_product(cb.centroid, cb.centroid)
         |            - 2.0 * list_dot_product(q.qe[cb.sub*$sd+1 : cb.sub*$sd+$sd], cb.centroid) AS ld
         |        FROM cb CROSS JOIN q),
         |s AS (SELECT a.vec_id,
         |        CAST(sum(CAST(a.code AS BIGINT) * (CAST(1 AS BIGINT) << ($bits * a.sub))) AS BIGINT) AS pq_code,
         |        sum(CAST(round(l.ld, 9) AS DECIMAL(20,9))) AS adc_raw
         |      FROM a JOIN lut l ON a.sub = l.sub AND a.code = l.code
         |      GROUP BY a.vec_id)
         |SELECT vec_id, pq_code, round(CAST(adc_raw AS DOUBLE), 6) AS adc_dist
         |FROM s ORDER BY adc_raw ASC, vec_id ASC LIMIT 10""".stripMargin
    },
    // both quantizers replayed: Voronoi cells from the dumped centroids
    // (assignment rn=1, probes = top-3 by centroid cosine), PQ codes +
    // ADC LUT from the dumped codebooks (the pq_adc_topk CTEs), the
    // probe filter applied before the decimal ADC fold
    "ann_ivfpq_topk" -> {
      val cpath = operators.KMeansIndex.centroidDumpPath + "_ivfpq"
      val bpath = operators.Pq.codebookDumpPath + "_ivfpq"
      val sd = 64 / operators.Pq.numSub
      val bits = operators.Pq.bitsPerCode
      s"""WITH c AS (SELECT cell, centroid FROM '$cpath/*.parquet'),
         |cb AS (SELECT sub, code, centroid FROM '$bpath/*.parquet'),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT e.vec_id, e.v, c.cell,
         |        list_dot_product(e.v, e.v) + list_dot_product(c.centroid, c.centroid)
         |          - 2.0 * list_dot_product(e.v, c.centroid) AS dist
         |      FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |         FROM d)
         |      WHERE rn = 1),
         |pr AS (SELECT cell FROM c CROSS JOIN q
         |       ORDER BY ${cosSql("c.centroid", "q.qe")} DESC, cell LIMIT 3),
         |pd AS (SELECT e.vec_id, cb.sub, cb.code,
         |        list_dot_product(e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd], e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd])
         |          + list_dot_product(cb.centroid, cb.centroid)
         |          - 2.0 * list_dot_product(e.v[cb.sub*$sd+1 : cb.sub*$sd+$sd], cb.centroid) AS dist
         |      FROM e CROSS JOIN cb),
         |pa AS (SELECT vec_id, sub, code FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
         |         FROM pd)
         |      WHERE rn = 1),
         |lut AS (SELECT cb.sub, cb.code,
         |          list_dot_product(q.qe[cb.sub*$sd+1 : cb.sub*$sd+$sd], q.qe[cb.sub*$sd+1 : cb.sub*$sd+$sd])
         |            + list_dot_product(cb.centroid, cb.centroid)
         |            - 2.0 * list_dot_product(q.qe[cb.sub*$sd+1 : cb.sub*$sd+$sd], cb.centroid) AS ld
         |        FROM cb CROSS JOIN q),
         |s AS (SELECT pa.vec_id,
         |        CAST(sum(CAST(pa.code AS BIGINT) * (CAST(1 AS BIGINT) << ($bits * pa.sub))) AS BIGINT) AS pq_code,
         |        sum(CAST(round(l.ld, 9) AS DECIMAL(20,9))) AS adc_raw
         |      FROM pa JOIN lut l ON pa.sub = l.sub AND pa.code = l.code
         |        JOIN a ON a.vec_id = pa.vec_id JOIN pr ON a.cell = pr.cell
         |      GROUP BY pa.vec_id)
         |SELECT a.vec_id, CAST(a.cell AS INT) AS cell, s.pq_code,
         |  round(CAST(s.adc_raw AS DOUBLE), 6) AS adc_dist
         |FROM s JOIN a ON s.vec_id = a.vec_id
         |ORDER BY s.adc_raw ASC, a.vec_id ASC LIMIT 10""".stripMargin
    },
    "ann_lsh_pairs" -> {
      // the SAME seeded Gaussian planes as Ann.lshCosinePairs, quantized
      // to 3 decimals so both engines parse identical IEEE doubles; the
      // dot is the same left-to-right fold, so the sign bit — hence the
      // bucket — is deterministic across Spark and DuckDB
      val bucket = operators.Ann.hyperplanes(8, 64).zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bucket FROM v)
         |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, round(${cosSql("a.v", "c.v")}, 6) AS score
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |WHERE round(${cosSql("a.v", "c.v")}, 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    },
    "q3_shipping_priority" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
         |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
         |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
         |GROUP BY o_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_nation_revenue" ->
      s"""SELECT r_name, n_name,
         |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
         |  count(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    // same correlated EXISTS — DuckDB decorrelates it the same way
    "q4_order_priority" ->
      s"""SELECT o_orderpriority, count(1) AS n_orders
         |FROM orders o
         |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(o.o_orderdate AS DATE) < DATE '1996-07-01'
         |  AND EXISTS (SELECT 1 FROM lineitem l
         |              WHERE l.l_orderkey = o.o_orderkey
         |                AND l.l_quantity > 45.0)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // same correlated scalar subquery; the 0.2·avg threshold is exact in
    // both engines (integer-valued doubles, sum < 2^53)
    "q17_small_qty_revenue" ->
      s"""SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
         |    AS DOUBLE) / CAST(7.0 AS DOUBLE), 6) AS avg_yearly,
         |  count(1) AS n_lineitems
         |FROM lineitem l
         |JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE p.p_brand = 'Brand#1' AND p.p_size <= 10
         |  AND l.l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l2.l_quantity)
         |                      FROM lineitem l2
         |                      WHERE l2.l_partkey = p.p_partkey)""".stripMargin,
    // same double correlated subquery — DuckDB decorrelates both arms
    "q21_returned_alone" ->
      s"""SELECT s.s_name, count(*) AS n_alone
         |FROM lineitem l1
         |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         |WHERE l1.l_returnflag = 'R'
         |  AND EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_returnflag = 'R')
         |GROUP BY s.s_name ORDER BY n_alone DESC, s.s_name LIMIT 20""".stripMargin,
    // the decimal-average threshold is the identical double in both
    // engines (exact 2-dp sum / exact count)
    "q22_idle_customers" ->
      s"""SELECT c.c_mktsegment, count(*) AS n_customers,
         |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         |FROM customer c
         |WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2)))
         |                              AS DOUBLE) / count(*)
         |                     FROM customer c2 WHERE c2.c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_totalprice > 400000.0)
         |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    // same Q10 head; decimal-folded revenue, identical top-20 tie rule
    "q10_returned_customers" ->
      s"""SELECT c.c_custkey, c.c_name, n.n_name,
         |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
         |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
         |  count(1) AS n_items
         |FROM customer c
         |JOIN orders o ON o.o_custkey = c.c_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN nation n ON n.n_nationkey = c.c_nationkey
         |WHERE l.l_returnflag = 'R'
         |  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
         |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
         |GROUP BY c.c_custkey, c.c_name, n.n_name
         |ORDER BY revenue DESC, c.c_custkey
         |LIMIT 20""".stripMargin,
    // same derived-aggregate argmax; the decimal-folded revenue is the
    // identical double in both engines, so the max equality cannot flip
    "q15_top_supplier" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |      AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
         |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s.s_suppkey, s.s_name, r.total_revenue
         |FROM supplier s
         |JOIN revenue r ON s.s_suppkey = r.supplier_no
         |WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s.s_suppkey""".stripMargin,
    // same correlated min — DuckDB decorrelates the argmin identically;
    // equality on exact 2-dp doubles from the same parquet
    "q2_min_price_supplier" ->
      s"""SELECT p.p_partkey, p.p_name, l.l_suppkey, l.l_extendedprice AS min_price
         |FROM lineitem l
         |JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE p.p_brand = 'Brand#2'
         |  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
         |                           FROM lineitem l2
         |                           WHERE l2.l_partkey = l.l_partkey)
         |ORDER BY p.p_partkey, l.l_suppkey""".stripMargin,
    // same IN-over-HAVING; sum(l_quantity) exact (integer-valued doubles)
    "q18_large_orders" ->
      s"""SELECT c.c_name, o.o_orderkey,
         |  strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
         |  o.o_totalprice, sum(l.l_quantity) AS sum_qty
         |FROM customer c
         |JOIN orders o ON o.o_custkey = c.c_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
         |                       GROUP BY l_orderkey
         |                       HAVING sum(l_quantity) > 200.0)
         |GROUP BY 1, 2, 3, 4
         |ORDER BY o.o_totalprice DESC, o.o_orderkey
         |LIMIT 20""".stripMargin,
    // same nested IN — DuckDB plans the two semi joins the same way
    "q20_widget_suppliers" ->
      s"""SELECT s.s_suppkey, s.s_name
         |FROM supplier s
         |WHERE s.s_suppkey IN (
         |  SELECT l.l_suppkey FROM lineitem l
         |  WHERE l.l_partkey IN (SELECT p_partkey FROM part
         |                        WHERE p_name LIKE '%widget')
         |  GROUP BY l.l_suppkey
         |  HAVING sum(l.l_quantity) > 2000.0)
         |ORDER BY s.s_suppkey""".stripMargin,
    // identical frames on the same integer day axis; DuckDB's window
    // sums/ntile return HUGEINT/BIGINT, cast back to the engine's types
    "events_rolling" ->
      s"""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day_date FROM events),
         |d AS (SELECT event_type, day_date, count(*) AS n_events
         |      FROM e GROUP BY event_type, day_date),
         |w AS (SELECT event_type, day_date,
         |        datediff('day', DATE '2020-01-01', day_date) AS dayn, n_events
         |      FROM d)
         |SELECT event_type, strftime(day_date, '%Y-%m-%d') AS day,
         |  CAST(n_events AS BIGINT) AS n_events,
         |  CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY dayn
         |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
         |  CAST(n_events - coalesce(lag(n_events, 1) OVER
         |    (PARTITION BY event_type ORDER BY dayn), 0) AS BIGINT) AS delta,
         |  CAST(ntile(4) OVER (PARTITION BY event_type
         |    ORDER BY n_events, dayn) AS INT) AS activity_quartile
         |FROM w ORDER BY event_type, day""".stripMargin,
    "orders_grouping_sets" ->
      s"""SELECT o_orderpriority, o_orderstatus,
         |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
         |  CAST(grouping(o_orderstatus) AS INT) AS g_stat,
         |  count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
         |  (o_orderpriority), (o_orderstatus), ())
         |ORDER BY g_pri, g_stat,
         |  o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    // same lateral aggregate — DuckDB decorrelates it identically
    "supplier_lateral_stats" ->
      s"""SELECT s.s_suppkey, s.s_name,
         |  CAST(t.n_items AS BIGINT) AS n_items, t.avg_qty
         |FROM supplier s,
         |LATERAL (SELECT count(*) AS n_items,
         |                round(avg(l.l_quantity), 6) AS avg_qty
         |         FROM lineitem l WHERE l.l_suppkey = s.s_suppkey) t
         |ORDER BY s.s_suppkey""".stripMargin,
    "customer_yoy_recon" ->
      s"""WITH a AS (SELECT o_custkey, count(*) AS n96 FROM orders
         |           WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
         |b AS (SELECT o_custkey, count(*) AS n97 FROM orders
         |      WHERE year(o_orderdate) = 1997 GROUP BY o_custkey)
         |SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
         |  CAST(coalesce(a.n96, 0) AS BIGINT) AS n_1996,
         |  CAST(coalesce(b.n97, 0) AS BIGINT) AS n_1997,
         |  CASE WHEN a.o_custkey IS NULL THEN 'new'
         |       WHEN b.o_custkey IS NULL THEN 'churned'
         |       ELSE 'retained' END AS status
         |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
         |ORDER BY custkey""".stripMargin,
    "top_orders_per_priority" ->
      s"""WITH r AS (SELECT *, CAST(row_number() OVER
         |    (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
         |  FROM orders)
         |SELECT o_orderpriority, rn, o_orderkey, o_totalprice, c_name
         |FROM r JOIN customer ON o_custkey = c_custkey
         |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "customer_order_stats" ->
      s"""WITH pc AS (SELECT o_custkey, count(*) AS cnt, max(o_totalprice) AS mx
         |            FROM orders GROUP BY o_custkey)
         |SELECT count(*) AS n_customers,
         |  CAST(sum(CASE WHEN cnt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
         |  CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders,
         |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_orders,
         |  max(mx) AS max_order_price
         |FROM customer LEFT JOIN pc ON c_custkey = o_custkey""".stripMargin,
    "skew_salted_join" ->
      s"""SELECT s_name, count(*) AS n_lineitems, sum(l_quantity) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_name ORDER BY s_name""".stripMargin,
    // the layout is invisible to semantics: the oracle is the plain join
    "bucketed_join" ->
      s"""WITH ds AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words
         |  FROM documents),
         |lb AS (SELECT vec_id AS doc_id, label FROM embeddings)
         |SELECT label, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS sum_words
         |FROM ds JOIN lb USING (doc_id)
         |GROUP BY label ORDER BY label""".stripMargin,
    // same mutation formula; the oracle's blocking key is split_part 2
    // = the engine's last-token key on these two-token names; winner =
    // row 1 of (dist, cname) — identical to the engine's min(struct)
    "fuzzy_match" ->
      s"""WITH $fuzzyCtes
         |SELECT d.p_partkey, d.name, b.cname AS matched_name, CAST(b.dist AS INT) AS dist
         |FROM dirty d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (p_partkey)
         |ORDER BY d.p_partkey""".stripMargin,
    // the oracle recomputes the similarity with DuckDB's own
    // jaro_winkler_similarity and deliberately OMITS the engine's
    // length-ratio prune — the prune is claimed sound (a dropped
    // candidate provably cannot reach the threshold), so an unpruned
    // oracle VERIFIES that claim on every candidate in the data;
    // winner = highest sim, tie broken by greatest cname (the engine's
    // max(struct))
    "fuzzy_match_jw" ->
      s"""WITH $fuzzyBaseCtes,
         |cand AS (SELECT d.p_partkey, d.name, c.cname,
         |    jaro_winkler_similarity(d.name, c.cname) AS sim
         |  FROM dirty d JOIN cat c
         |    ON split_part(d.name, ' ', 2) = split_part(c.cname, ' ', 2)
         |  WHERE jaro_winkler_similarity(d.name, c.cname) >= 0.88),
         |best AS (SELECT p_partkey, cname, sim,
         |    row_number() OVER (PARTITION BY p_partkey ORDER BY sim DESC, cname DESC) AS rn
         |  FROM cand)
         |SELECT d.p_partkey, d.name, b.cname AS matched_name,
         |  round(b.sim, 6) AS sim
         |FROM dirty d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (p_partkey)
         |ORDER BY d.p_partkey""".stripMargin,
    // the same linkage replayed against ground truth (the corruption is
    // constructed, so the true mapping is known): per lane P/R/F1
    "fuzzy_match_eval" ->
      s"""WITH $fuzzyCtes,
         |m AS (SELECT d.p_partkey, d.name, b.cname AS matched_name
         |      FROM dirty d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |        USING (p_partkey)),
         |t AS (SELECT CASE WHEN m.p_partkey % 2 = 0 THEN 'corrupted'
         |               ELSE 'clean' END AS lane,
         |        (m.matched_name IS NOT NULL) AS matched,
         |        (m.matched_name IS NOT NULL AND m.matched_name = p.p_name)
         |          AS correct
         |      FROM m JOIN part p USING (p_partkey)),
         |a AS (SELECT lane, count(*) AS n,
         |        sum(CASE WHEN matched THEN 1 ELSE 0 END) AS n_matched,
         |        sum(CASE WHEN correct THEN 1 ELSE 0 END) AS n_correct
         |      FROM t GROUP BY lane)
         |SELECT lane, CAST(n AS BIGINT) AS n, CAST(n_matched AS BIGINT) AS n_matched,
         |  CAST(n_correct AS BIGINT) AS n_correct,
         |  CASE WHEN n_matched > 0
         |    THEN round(CAST(n_correct AS DOUBLE) / n_matched, 6) END AS precision,
         |  round(CAST(n_correct AS DOUBLE) / n, 6) AS recall,
         |  CASE WHEN n_matched > 0 AND
         |      CAST(n_correct AS DOUBLE) / n_matched + CAST(n_correct AS DOUBLE) / n > 0.0
         |    THEN round(2.0 * (CAST(n_correct AS DOUBLE) / n_matched)
         |        * (CAST(n_correct AS DOUBLE) / n)
         |      / (CAST(n_correct AS DOUBLE) / n_matched + CAST(n_correct AS DOUBLE) / n), 6)
         |  END AS f1
         |FROM a ORDER BY lane""".stripMargin,
    "asof_error_click" ->
      s"""WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         |clicks AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click')
         |SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
         |  c.click_id AS last_click_id
         |FROM errors e ASOF LEFT JOIN clicks c
         |  ON e.user_id = c.user_id AND c.ts <= e.ts
         |ORDER BY e.event_id""".stripMargin,
    // epoch_us (not epoch_ms): the engine compares at Spark's native
    // microsecond precision, and the parquet timestamps are µs-aligned
    // nanos — a ms-truncated bound could disagree at the window edge
    // replays are exact row copies and event_id is unique in the base
    // table, so dedup-by-event_id over (events ∪ replayed slice) is just
    // the base table — the oracle aggregates it directly; any row the
    // Spark dedup dropped wrongly (or kept twice) breaks the hash
    "stream_dedup_ingest" ->
      s"""SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_click_error" ->
      s"""WITH e AS (SELECT event_id AS error_id, user_id, ts AS error_ts FROM events WHERE event_type = 'error'),
         |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click')
         |SELECT e.user_id, e.error_id,
         |  strftime(e.error_ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
         |  c.click_id, strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
         |FROM e JOIN c ON e.user_id = c.user_id
         |  AND epoch_us(c.click_ts) <= epoch_us(e.error_ts)
         |  AND epoch_us(c.click_ts) >= epoch_us(e.error_ts) - 600000000
         |ORDER BY error_id, click_id""".stripMargin,
    "range_join_views" ->
      s"""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         |v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
         |j AS (SELECT p.event_id, count(*) AS n
         |      FROM p JOIN v ON p.user_id = v.user_id
         |        AND epoch_ms(v.view_ts) >= epoch_ms(p.ts) - 1800000
         |        AND epoch_ms(v.view_ts) <= epoch_ms(p.ts)
         |      GROUP BY p.event_id)
         |SELECT p.event_id, p.user_id, CAST(coalesce(j.n, 0) AS BIGINT) AS n_prior_views
         |FROM p LEFT JOIN j USING (event_id) ORDER BY p.event_id""".stripMargin,
    "stats_advanced" ->
      s"""SELECT l_returnflag,
         |  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
         |  round(quantile_cont(l_quantity, 0.5), 6) AS median,
         |  round(quantile_cont(l_quantity, 0.75), 6) AS q75,
         |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
         |  round(stddev_pop(l_quantity), 6) AS sd_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rollup_orders" ->
      s"""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    // manual FILTER crosstab (count FILTER yields 0 for empty cells =
    // the engine's na.fill)
    "events_pivot" -> {
      val cells = pivotTypes.map(t =>
        s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS $t").mkString(",\n  ")
      s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         |  $cells
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // DuckDB dow is 0=Sunday; Spark dayofweek is 1=Sunday — shift by 1
    "events_cube" ->
      s"""SELECT event_type, CAST(dayofweek(ts) AS INT) + 1 AS dow,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY CUBE(event_type, CAST(dayofweek(ts) AS INT) + 1)
         |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin,
    "set_ops_nations" ->
      s"""WITH sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
         |cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         |u AS (
         |  SELECT nationkey, 'intersect' AS op FROM (SELECT nationkey FROM sn INTERSECT SELECT nationkey FROM cn)
         |  UNION ALL
         |  SELECT nationkey, 'customer_only' AS op FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn))
         |SELECT op, count(*) AS n_nations FROM u GROUP BY op ORDER BY op""".stripMargin,
    "string_funcs" ->
      s"""SELECT c_custkey, upper(c_name) AS upper_name,
         |  CAST(length(c_name) AS BIGINT) AS name_len,
         |  substr(c_name, 1, 10) AS prefix,
         |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
         |  concat_ws('|', c_mktsegment, c_name) AS joined,
         |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded
         |FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""".stripMargin,
    "events_json_agg" ->
      s"""SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "membership_hash" ->
      s"""WITH hx AS (SELECT sha256(CAST(vec_id AS VARCHAR)) AS x FROM embeddings),
         |h AS (SELECT ${duckHex60("x", 1)} AS h1,
         |             ${duckHex60("x", 16)} AS h2 FROM hx)
         |SELECT sha256(concat_ws(',',
         |    CAST(coalesce(bit_xor(h1), 0) AS VARCHAR),
         |    CAST(coalesce(sum(CAST(h2 AS HUGEINT)), 0) AS VARCHAR))) AS membership_hash,
         |  count(*) AS n_members
         |FROM h""".stripMargin,
    // the facade pipeline's (tag, size, inertia) triple over the ctx=3
    // slice: φ-band partition (same banding as phi_bands) + inertia
    // against the rounded per-band centroid (same as cluster_inertia)
    "vfdb_pipeline" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 3),
         |n AS (SELECT vec_id, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                                           CAST(embedding AS DOUBLE[]))) AS norm
         |      FROM e),
         |b AS (SELECT min(norm) AS min_n, max(norm) AS max_n FROM n),
         |banded AS (
         |  SELECT vec_id,
         |    CASE WHEN norm < min_n + (max_n - min_n + 1e-12) * $phiF1 THEN 0
         |         WHEN norm < min_n + (max_n - min_n + 1e-12) * $phiF2 THEN 1
         |         ELSE 2 END AS band
         |  FROM n CROSS JOIN b),
         |ex AS (SELECT banded.band, e.vec_id, generate_subscripts(e.embedding, 1) AS i,
         |              CAST(unnest(e.embedding) AS DOUBLE) AS x
         |       FROM e JOIN banded ON e.vec_id = banded.vec_id),
         |cent AS (SELECT band, i, round(sum(x)/count(*), 6) AS c FROM ex GROUP BY band, i)
         |SELECT 'phi_band_' || ex.band AS cluster_tag,
         |  count(DISTINCT ex.vec_id) AS n_members,
         |  round(sum((ex.x - cent.c)*(ex.x - cent.c)), 6) AS inertia
         |FROM ex JOIN cent ON ex.band = cent.band AND ex.i = cent.i
         |GROUP BY ex.band ORDER BY cluster_tag""".stripMargin,
    // every event belongs to the two 2-hour windows starting at its
    // hour and the hour before — the explicit form of TimeWindow's
    // expansion
    "events_hopping" ->
      s"""WITH x AS (SELECT event_type, value,
         |        date_trunc('hour', ts) - to_hours(i.i) AS w_start
         |      FROM events CROSS JOIN (SELECT unnest(range(2)) AS i) i)
         |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
         |  strftime(w_start + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS w_end,
         |  event_type, count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM x GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // sessionize per (user, type) with session_window's >=gap break,
    // then the overlap restated as the plain inequality join
    "interval_overlap" ->
      s"""WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
         |           WHERE event_type IN ('view', 'click')),
         |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id, event_type
         |        ORDER BY ts, event_id) AS prev FROM e),
         |s AS (SELECT *, sum(CASE WHEN prev IS NULL
         |                      OR epoch_us(ts) - epoch_us(prev) >= 43200000000
         |                    THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |      FROM l),
         |iv AS (SELECT user_id, event_type, sess, min(ts) AS st, max(ts) AS en,
         |         count(*) AS n
         |       FROM s GROUP BY user_id, event_type, sess)
         |SELECT v.user_id,
         |  strftime(v.st, '%Y-%m-%d %H:%M:%S.%f') AS view_start,
         |  strftime(c.st, '%Y-%m-%d %H:%M:%S.%f') AS click_start,
         |  v.n AS n_view_events, c.n AS n_click_events,
         |  epoch_us(least(v.en, c.en)) - epoch_us(greatest(v.st, c.st))
         |    AS overlap_micros
         |FROM iv v JOIN iv c
         |  ON v.user_id = c.user_id
         |  AND v.event_type = 'view' AND c.event_type = 'click'
         |  AND v.st <= c.en AND c.st <= v.en
         |ORDER BY v.user_id, view_start, click_start""".stripMargin,
    "events_sessions" ->
      s"""WITH l AS (SELECT user_id, ts, value,
         |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |           FROM events),
         |s AS (SELECT *, sum(CASE WHEN prev IS NULL
         |                           OR epoch_ms(ts) - epoch_ms(prev) >= 1800000
         |                         THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY user_id ORDER BY ts
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |      FROM l)
         |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,
    "multimodal_meta" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
         |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
         |  text, encode(text) AS content, source FROM documents),
         |h AS (SELECT media_id, modality, CAST(octet_length(content) AS BIGINT) AS n_bytes,
         |        sha256(text) AS sha256 FROM m)
         |SELECT media_id, modality, n_bytes, sha256,
         |  64 + (CAST((strpos('0123456789abcdef', substr(sha256, 1, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(sha256, 2, 1)) - 1 AS INT) % 32) * 16 AS width,
         |  64 + (CAST((strpos('0123456789abcdef', substr(sha256, 3, 1)) - 1) * 16
         |             + strpos('0123456789abcdef', substr(sha256, 4, 1)) - 1 AS INT) % 18) * 16 AS height,
         |  CASE WHEN modality = 'audio' THEN 1 ELSE 3 END AS channels
         |FROM h ORDER BY media_id""".stripMargin,
    "multimodal_chunks" ->
      s"""WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents),
         |c AS (SELECT media_id, n, unnest(range(CAST(ceil(n/256.0) AS INT))) AS chunk_idx FROM m)
         |SELECT media_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(least(256, n - chunk_idx*256) AS BIGINT) AS chunk_bytes
         |FROM c ORDER BY media_id, chunk_idx""".stripMargin,
    // the oracle cannot decode BMP, but it doesn't need to: dims are
    // seeded from doc_id and a 24bpp BMP's size is closed-form
    // (54-byte header + 4-byte-aligned rows), so the real ImageIO
    // round trip must land exactly on these values
    "multimodal_decode" ->
      s"""SELECT doc_id AS media_id,
         |  CAST(54 + ((24*($mmDimW) + 31) // 32) * 4 * ($mmDimH) AS BIGINT) AS n_bytes,
         |  CAST($mmDimW AS INT) AS width,
         |  CAST($mmDimH AS INT) AS height,
         |  3 AS channels
         |FROM documents ORDER BY media_id""".stripMargin,
    // the oracle replays the resample per destination pixel: the pixel
    // at dst (x,y) came from src (x*sw//12, y*sh//12), whose 24-bit
    // value is the seed formula — so pix_sum certifies the real
    // decode+resample touched every pixel; dst_bytes is the closed-form
    // 24bpp BMP container size for 12x12
    "multimodal_resize" ->
      s"""WITH d AS (SELECT doc_id, $mmDimW AS sw, $mmDimH AS sh
         |           FROM documents),
         |px AS (SELECT doc_id, sw, sh,
         |         (doc_id * 1103515245 + ((tx.x * sw) // ${MM.ThumbW}) * 31
         |            + ((ty.y * sh) // ${MM.ThumbH}) * 17) % 16777216 AS pv
         |       FROM d CROSS JOIN range(${MM.ThumbW}) tx(x) CROSS JOIN range(${MM.ThumbH}) ty(y))
         |SELECT doc_id AS media_id,
         |  CAST(MAX(sw) AS INT) AS src_width, CAST(MAX(sh) AS INT) AS src_height,
         |  CAST(${MM.ThumbW} AS INT) AS dst_width, CAST(${MM.ThumbH} AS INT) AS dst_height,
         |  CAST(54 + ((24*${MM.ThumbW} + 31) // 32) * 4 * ${MM.ThumbH} AS BIGINT) AS dst_bytes,
         |  CAST(SUM(pv) AS BIGINT) AS pix_sum
         |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // container layout is deterministic: 3 + id%3 frames, frame i
    // seeded id*37+i with the shared dim formula; sampled = even idx
    "multimodal_frames" ->
      s"""WITH d AS (SELECT doc_id, unnest(range(${MM.FrameBase} + CAST(doc_id % ${MM.FrameMod} AS INT))) AS i
         |           FROM documents),
         |f AS (SELECT doc_id, i, doc_id * ${MM.FrameSeedMult} + i AS seed FROM d
         |      WHERE i % ${MM.FrameStride} = 0),
         |g AS (SELECT doc_id, i, ${MM.DimBase} + seed % ${MM.DimMod} AS fw,
         |             ${MM.DimBase} + (seed // ${MM.DimMod}) % ${MM.DimMod} AS fh FROM f)
         |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
         |  CAST(fw AS INT) AS width, CAST(fh AS INT) AS height,
         |  CAST(54 + ((24*fw + 31) // 32) * 4 * fh AS BIGINT) AS frame_bytes
         |FROM g ORDER BY media_id, frame_idx""".stripMargin,
    // per-pixel replay of the seed formula over the source dims; the
    // Spark side sums channels from the DECODED raster
    "multimodal_features" ->
      s"""WITH d AS (SELECT doc_id, $mmDimW AS sw, $mmDimH AS sh
         |           FROM documents),
         |px AS (SELECT doc_id, sw, sh,
         |         (doc_id * 1103515245 + tx.x * 31 + ty.y * 17) % 16777216 AS pv
         |       FROM d CROSS JOIN range(${MM.DimBase + MM.DimMod - 1}) tx(x)
         |              CROSS JOIN range(${MM.DimBase + MM.DimMod - 1}) ty(y)
         |       WHERE tx.x < sw AND ty.y < sh)
         |SELECT doc_id AS media_id,
         |  CAST(MAX(sw) AS INT) AS width, CAST(MAX(sh) AS INT) AS height,
         |  CAST(SUM(pv // 65536) AS BIGINT) AS sum_r,
         |  CAST(SUM((pv // 256) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM(pv % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // 400 + id%16*50 mono samples at 8 kHz; container = 44-byte RIFF
    // header + 2 bytes per sample; sample i is the Knuth-hash stream
    // shifted to signed 16-bit. rms = one IEEE divide + sqrt over exact
    // integers — correctly rounded identically in both engines
    "multimodal_audio" ->
      s"""WITH d AS (SELECT doc_id, ${MM.AudioBaseSamples} + CAST(doc_id % ${MM.DimMod} AS INT) * ${MM.AudioStepSamples} AS n FROM documents),
         |s AS (SELECT doc_id, n, ((doc_id * ${MM.AudioHashA} + t.i * ${MM.AudioHashB}) % 65536) - 32768 AS v
         |      FROM d CROSS JOIN range(${MM.AudioBaseSamples + (MM.DimMod - 1) * MM.AudioStepSamples}) t(i) WHERE t.i < n)
         |SELECT doc_id AS media_id, CAST(${MM.AudioRate} AS INT) AS sample_rate,
         |  CAST(MAX(n) AS BIGINT) AS n_samples,
         |  CAST(44 + 2 * MAX(n) AS BIGINT) AS n_bytes,
         |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
         |  CAST(MAX(ABS(v)) AS INT) AS peak,
         |  sqrt(CAST(SUM(v * v) AS DOUBLE) / MAX(n)) AS rms
         |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // replay of the projection from the components the query dumped:
    // identical left-to-right dot fold over identical doubles
    // same stage chain; comparisons at epoch_us (Spark's ts is floored
    // to micros — floor is monotone, so per-stage minima map exactly);
    // conversion seconds via floor-division on positive epochs, the
    // same value as Spark's unix_timestamp subtraction
    "event_funnel" ->
      s"""WITH $funnelCtes
         |SELECT s1.user_id,
         |  strftime(s1.t1, '%Y-%m-%d %H:%M:%S') AS t1,
         |  strftime(s2.t2, '%Y-%m-%d %H:%M:%S') AS t2,
         |  strftime(s3.t3, '%Y-%m-%d %H:%M:%S') AS t3,
         |  CAST(1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT AS BIGINT)
         |    AS stages_completed,
         |  CASE WHEN s3.user_id IS NOT NULL
         |       THEN epoch_us(s3.t3) // 1000000 - epoch_us(s1.t1) // 1000000 END
         |    AS conversion_secs
         |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         |        LEFT JOIN s3 ON s1.user_id = s3.user_id
         |ORDER BY s1.user_id""".stripMargin,
    // one conditional-count row over the same stage chain
    "funnel_summary" -> {
      val Seq(st1, st2, st3) = operators.Funnel.funnelStages
      s"""WITH $funnelCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_$st1,
         |  CAST(count(s2.user_id) AS BIGINT) AS n_$st2,
         |  CAST(count(s3.user_id) AS BIGINT) AS n_$st3
         |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin
    },
    // the same step counts; z^2 formed by the SAME double product,
    // identical operation order in the Wilson formula
    "funnel_wilson" -> {
      val Seq(st1, st2, st3) = operators.Funnel.funnelStages
      val z = operators.Funnel.WilsonZ
      s"""WITH $funnelCtes,
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n1,
         |        CAST(count(s2.user_id) AS BIGINT) AS n2,
         |        CAST(count(s3.user_id) AS BIGINT) AS n3
         |      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
         |              LEFT JOIN s3 ON s1.user_id = s3.user_id),
         |st AS (SELECT 1 AS step, '$st2' AS stage, n1 AS n_prev, n2 AS n_reached FROM c
         |       UNION ALL
         |       SELECT 2, '$st3', n2, n3 FROM c),
         |w AS (SELECT step, stage, n_prev, n_reached,
         |        CAST(n_prev AS DOUBLE) AS n,
         |        CAST(n_reached AS DOUBLE) / CAST(n_prev AS DOUBLE) AS p,
         |        $z * $z AS z2
         |      FROM st)
         |SELECT CAST(step AS INT) AS step, stage, n_prev, n_reached,
         |  CASE WHEN n_prev > 0 THEN round(p, 6) END AS rate,
         |  CASE WHEN n_prev > 0 THEN
         |    round((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
         |      - $z * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
         |        / (1.0 + z2 / n), 6) END AS ci_lo,
         |  CASE WHEN n_prev > 0 THEN
         |    round((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
         |      + $z * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
         |        / (1.0 + z2 / n), 6) END AS ci_hi
         |FROM w ORDER BY step""".stripMargin
    },
    // exact day-count CUSUM: S_i = cum_i − i·total/n_days with cum_i
    // and i exact, one fixed-order double expression per row; the
    // peak flag compares the ROUNDED curve
    "cusum_changepoint" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
         |               FROM events GROUP BY 1),
         |t AS (SELECT sum(n) AS total, count(*) AS n_days FROM daily),
         |c AS (SELECT day, n,
         |        row_number() OVER (ORDER BY day) AS i,
         |        sum(n) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM daily),
         |s AS (SELECT day, n,
         |        round(CAST(cum AS DOUBLE) - CAST(i AS DOUBLE)
         |          * CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS cusum
         |      FROM c CROSS JOIN t),
         |p AS (SELECT max(abs(cusum)) AS peak FROM s)
         |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
         |  cusum,
         |  CAST(CASE WHEN abs(cusum) = p.peak THEN 1 ELSE 0 END AS INT) AS is_peak
         |FROM s CROSS JOIN p ORDER BY day""".stripMargin,
    // lag joins on the day KEY (day − 7 / day − 1), so gaps mean "no
    // forecast"; exact integer error sums, 9-dp decimal sMAPE fold,
    // identical ratio-of-ratios order in MASE
    "forecast_eval" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
         |               FROM events GROUP BY 1),
         |e AS (SELECT d.n, p.n AS n_pred, abs(d.n - p.n) AS err,
         |        round(2.0 * CAST(abs(d.n - p.n) AS DOUBLE)
         |          / CAST(d.n + p.n AS DOUBLE), 9) AS sm9
         |      FROM daily d JOIN daily p ON d.day = p.day + 7),
         |ea AS (SELECT count(*) AS n_eval, sum(err) AS se,
         |         sum(CAST(sm9 AS DECIMAL(20,9))) AS ssm FROM e),
         |sc AS (SELECT count(*) AS n_scale, sum(abs(d.n - p.n)) AS ss
         |       FROM daily d JOIN daily p ON d.day = p.day + 1),
         |nd AS (SELECT count(*) AS n_days FROM daily)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  CAST(n_eval AS BIGINT) AS n_eval,
         |  CASE WHEN n_eval > 0 THEN
         |    round(CAST(se AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) END AS mae,
         |  CASE WHEN n_scale > 0 THEN
         |    round(CAST(ss AS DOUBLE) / CAST(n_scale AS DOUBLE), 6) END AS scale_mae,
         |  CASE WHEN n_eval > 0 AND n_scale > 0 AND ss > 0 THEN
         |    round((CAST(se AS DOUBLE) / CAST(n_eval AS DOUBLE))
         |        / (CAST(ss AS DOUBLE) / CAST(n_scale AS DOUBLE)), 6) END AS mase,
         |  CASE WHEN n_eval > 0 THEN
         |    round(CAST(ssm AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) END AS smape
         |FROM nd CROSS JOIN ea CROSS JOIN sc""".stripMargin,
    // trailing 7-OBSERVED-days frame excluding the current row; exact
    // 128-bit moment sums (the engine's decimal casts), radicand
    // clamped at zero, flag compares the ROUNDED mean/std
    "rolling_anomaly" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
         |               FROM events GROUP BY 1),
         |s AS (SELECT day, n,
         |        count(n) OVER w AS n_window,
         |        sum(CAST(n AS HUGEINT)) OVER w AS sx,
         |        sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) OVER w AS sx2
         |      FROM daily
         |      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         |m AS (SELECT day, n, n_window,
         |        CASE WHEN n_window >= 2 THEN
         |          round(CAST(sx AS DOUBLE) / CAST(n_window AS DOUBLE), 6)
         |        END AS mean_prev,
         |        CASE WHEN n_window >= 2 THEN
         |          round(sqrt(greatest(
         |            CAST(CAST(n_window AS HUGEINT) * sx2 - sx * sx AS DOUBLE)
         |              / (CAST(n_window AS DOUBLE)
         |                 * CAST(n_window - 1 AS DOUBLE)), 0.0)), 6)
         |        END AS std_prev
         |      FROM s)
         |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
         |  CAST(n_window AS INT) AS n_window, mean_prev, std_prev,
         |  coalesce(CAST(abs(CAST(n AS DOUBLE) - mean_prev)
         |    > 3.0 * std_prev AS INT), 0) AS is_anomaly
         |FROM m ORDER BY day""".stripMargin,
    // the same moment machinery PARTITIONED by the shared
    // days-since-Monday dow convention; window = 4 same-dow baselines
    "dow_adjusted_anomaly" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
         |               FROM events GROUP BY 1),
         |dd AS (SELECT day, date_diff('day', DATE '1970-01-05', day) % 7
         |         AS dow, n FROM daily),
         |s AS (SELECT day, dow, n,
         |        count(n) OVER w AS n_window,
         |        sum(CAST(n AS HUGEINT)) OVER w AS sx,
         |        sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) OVER w AS sx2
         |      FROM dd
         |      WINDOW w AS (PARTITION BY dow ORDER BY day
         |                   ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)),
         |m AS (SELECT day, dow, n, n_window,
         |        CASE WHEN n_window >= 2 THEN
         |          round(CAST(sx AS DOUBLE) / CAST(n_window AS DOUBLE), 6)
         |        END AS mean_prev,
         |        CASE WHEN n_window >= 2 THEN
         |          round(sqrt(greatest(
         |            CAST(CAST(n_window AS HUGEINT) * sx2 - sx * sx AS DOUBLE)
         |              / (CAST(n_window AS DOUBLE)
         |                 * CAST(n_window - 1 AS DOUBLE)), 0.0)), 6)
         |        END AS std_prev
         |      FROM s)
         |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(dow AS INT) AS dow,
         |  CAST(n AS BIGINT) AS n,
         |  CAST(n_window AS INT) AS n_window, mean_prev, std_prev,
         |  coalesce(CAST(abs(CAST(n AS DOUBLE) - mean_prev)
         |    > 3.0 * std_prev AS INT), 0) AS is_anomaly
         |FROM m ORDER BY day""".stripMargin,
    // same epoch-anchored integer period arithmetic (floor division on
    // positive epoch micros), period interpolated from the constant
    "user_retention" -> {
      val p = operators.Funnel.retentionPeriodMicros
      s"""WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
         |c AS (SELECT e.user_id,
         |        epoch_us(f.first_ts) // $p AS cohort_period,
         |        epoch_us(e.ts) // $p - epoch_us(f.first_ts) // $p AS period_offset
         |      FROM events e JOIN f USING (user_id)),
         |cells AS (SELECT cohort_period, period_offset, count(DISTINCT user_id) AS n_users
         |          FROM c GROUP BY 1, 2),
         |sz AS (SELECT cohort_period, n_users AS cohort_size FROM cells WHERE period_offset = 0)
         |SELECT cells.cohort_period, cells.period_offset, cells.n_users, sz.cohort_size,
         |  round(cells.n_users::DOUBLE / sz.cohort_size, 6) AS rate
         |FROM cells JOIN sz USING (cohort_period)
         |ORDER BY cohort_period, period_offset""".stripMargin
    },
    // per reported day: distinct users active in the trailing 7 days;
    // the oracle's range join over the day list IS the naive
    // formulation the engine's contribute-forward shape replaces
    "active_users_7d" ->
      s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |days AS (SELECT DISTINCT day FROM ud)
         |SELECT strftime(d.day, '%Y-%m-%d') AS day,
         |  count(DISTINCT u.user_id) AS n_active
         |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
         |GROUP BY d.day ORDER BY 1""".stripMargin,
    // exact micros difference + explicit floor division, like the engine
    // same planted holes, same per-group observed range, same
    // generate_series expected calendar, same anti-join
    "calendar_gaps" ->
      s"""WITH ev AS (SELECT event_type, ts FROM events
         |           WHERE day(ts) % 7 <> 3),
         |obs AS (SELECT DISTINCT event_type AS grp, CAST(ts AS DATE) AS day
         |        FROM ev WHERE ts IS NOT NULL),
         |bounds AS (SELECT grp, min(day) AS d0, max(day) AS d1
         |           FROM obs GROUP BY grp),
         |expected AS (SELECT grp,
         |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM bounds)
         |SELECT e.grp, e.day AS missing_day
         |FROM expected e LEFT JOIN obs o
         |  ON e.grp = o.grp AND e.day = o.day
         |WHERE o.grp IS NULL
         |ORDER BY e.grp, missing_day""".stripMargin,
    // same exact interpolated percentiles (quantile_cont), same clamp,
    // same decimal-accumulated means
    "value_winsorize" ->
      s"""WITH base AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
         |              FROM events WHERE value IS NOT NULL),
         |e AS (SELECT grp, quantile_cont(v, 0.01) AS lo,
         |        quantile_cont(v, 0.99) AS hi
         |      FROM base GROUP BY grp),
         |j AS (SELECT b.grp, v, least(greatest(v, lo), hi) AS vw,
         |        (v < lo) AS clo, (v > hi) AS chi, lo, hi
         |      FROM base b JOIN e USING (grp))
         |SELECT grp AS event_type, count(*) AS n,
         |  CAST(sum(CASE WHEN clo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
         |  CAST(sum(CASE WHEN chi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
         |  round(min(lo), 6) AS p_lo, round(min(hi), 6) AS p_hi,
         |  round(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_raw,
         |  round(CAST(sum(CAST(vw AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_winsorized
         |FROM j GROUP BY grp ORDER BY grp""".stripMargin,
    "dq_freshness" ->
      s"""SELECT event_type AS grp, count(ts) AS n_rows,
         |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
         |  CAST(floor((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
         |      - epoch_us(max(ts)))::DOUBLE / 1000000) AS BIGINT) AS lag_seconds,
         |  coalesce(CAST(floor((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
         |      - epoch_us(max(ts)))::DOUBLE / 1000000) AS BIGINT) > 604800,
         |    TRUE) AS stale
         |FROM events GROUP BY event_type ORDER BY grp""".stripMargin,
    // identical BIGINT-shift digit extraction (integer rendering is
    // engine-identical; floor(log10) is not), 9-dp ln-ratio shares,
    // explicit-product χ² terms, decimal total
    "benford_digits" ->
      s"""WITH pos AS (SELECT CAST(substr(CAST(CAST(round(
         |        CAST(o_totalprice AS DOUBLE) * 1000000.0) AS BIGINT)
         |        AS VARCHAR), 1, 1) AS INT) AS digit
         |      FROM orders
         |      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
         |cnt AS (SELECT digit, count(*) AS n_obs FROM pos
         |        WHERE digit >= 1 GROUP BY digit),
         |t AS (SELECT sum(n_obs) AS n FROM cnt),
         |d AS (SELECT CAST(r + 1 AS INT) AS digit FROM range(9) t(r)),
         |f AS (SELECT d.digit, coalesce(cnt.n_obs, 0) AS n_obs
         |      FROM d LEFT JOIN cnt USING (digit)),
         |e AS (SELECT f.digit, f.n_obs, t.n,
         |        round(ln(1.0 + 1.0 / CAST(f.digit AS DOUBLE)) / ln(10.0), 9) AS p9
         |      FROM f CROSS JOIN t),
         |g AS (SELECT digit, n_obs, n, p9,
         |        CAST(n AS DOUBLE) * p9 AS exp_n FROM e),
         |h AS (SELECT digit, n_obs, n, p9,
         |        round((CAST(n_obs AS DOUBLE) - exp_n)
         |          * (CAST(n_obs AS DOUBLE) - exp_n) / exp_n, 9) AS term9
         |      FROM g),
         |tt AS (SELECT sum(CAST(term9 AS DECIMAL(20,9))) AS chi2 FROM h)
         |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
         |  round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_share,
         |  round(p9, 6) AS exp_share,
         |  round(term9, 6) AS chi2_term,
         |  round(CAST(tt.chi2 AS DOUBLE), 6) AS chi2_total
         |FROM h CROSS JOIN tt ORDER BY digit""".stripMargin,
    // identical closed-form variance from the same exact integer
    // moments (decimal sums), identical expression order in the z;
    // the guard tests the RADICAND (mirrors Monitor.hourlyAnomaly —
    // sqrt(negative) would error here but pass a NaN>0 guard in Spark)
    // each check restated as a scalar aggregate; UNION ALL of the
    // eight report rows
    "dq_expectations" ->
      s"""WITH r AS (
         |  SELECT 'orders.status_domain' AS check_name, count(*) AS n_checked,
         |    coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
         |      THEN 1 ELSE 0 END), 0) AS n_violations
         |  FROM orders
         |  UNION ALL
         |  SELECT 'orders.date_range', count(*),
         |    coalesce(sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-01-01'
         |      OR CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
         |      THEN 1 ELSE 0 END), 0)
         |  FROM orders
         |  UNION ALL
         |  SELECT 'orders.totalprice_positive', count(*),
         |    coalesce(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
         |      THEN 1 ELSE 0 END), 0)
         |  FROM orders
         |  UNION ALL
         |  SELECT 'lineitem.qty_range', count(*),
         |    coalesce(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
         |      THEN 1 ELSE 0 END), 0)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'lineitem.discount_range', count(*),
         |    coalesce(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.08
         |      THEN 1 ELSE 0 END), 0)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'customer.name_nonnull', count(*),
         |    coalesce(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0)
         |  FROM customer
         |  UNION ALL
         |  SELECT 'orders.pk_unique', count(*),
         |    count(*) - count(DISTINCT o_orderkey)
         |  FROM orders
         |  UNION ALL
         |  SELECT 'lineitem.fk_orders', (SELECT count(*) FROM lineitem),
         |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
         |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         |)
         |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
         |  CAST(n_violations AS BIGINT) AS n_violations,
         |  (n_violations = 0) AS pass
         |FROM r ORDER BY check_name""".stripMargin,
    // the quadratic dominance definition, verbatim — equal rows prove
    // the engine's O(n log n) window construction computes it
    "pareto_frontier" ->
      s"""WITH u AS (SELECT user_id, count(*) AS n_events,
         |    sum(CAST(value AS DECIMAL(18,6))) AS tv
         |  FROM events GROUP BY user_id)
         |SELECT user_id, n_events, CAST(tv AS DOUBLE) AS total_value
         |FROM u a
         |WHERE NOT EXISTS (SELECT 1 FROM u b
         |  WHERE b.n_events <= a.n_events AND b.tv >= a.tv
         |    AND (b.n_events < a.n_events OR b.tv > a.tv))
         |ORDER BY n_events, user_id""".stripMargin,
    // same single-window break rule (>= gap resets, no transition)
    "session_transitions" ->
      s"""WITH l AS (SELECT user_id, ts, event_id, event_type,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events),
         |t AS (SELECT prev_type AS from_type, event_type AS to_type FROM l
         |      WHERE prev_ts IS NOT NULL
         |        AND epoch_us(ts) - epoch_us(prev_ts) < 1800000000),
         |c AS (SELECT from_type, to_type, count(*) AS n FROM t GROUP BY 1, 2)
         |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
         |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
         |FROM c ORDER BY from_type, to_type""".stripMargin,
    // same Monday-anchored dow (datediff mod 7, never an engine's
    // dayofweek convention), same 9-dp decimal squared-deviation fold
    "seasonality_strength" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
         |               FROM events GROUP BY 1),
         |d AS (SELECT date_diff('day', DATE '1970-01-05', day) % 7 AS dow,
         |        CAST(n AS DOUBLE) AS y FROM daily),
         |o AS (SELECT count(*) AS n_days, sum(y) / count(*) AS mu FROM d),
         |dm AS (SELECT dow, sum(y) / count(*) AS mu_dow FROM d GROUP BY dow),
         |t AS (SELECT o.n_days,
         |        CAST(round((y - mu) * (y - mu), 9) AS DECIMAL(28,9)) AS t_tot,
         |        CAST(round((y - mu_dow) * (y - mu_dow), 9) AS DECIMAL(28,9))
         |          AS t_win
         |      FROM d JOIN dm USING (dow) CROSS JOIN o)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  round(CAST(sum(t_tot) AS DOUBLE), 6) AS ss_total,
         |  round(CAST(sum(t_win) AS DOUBLE), 6) AS ss_within,
         |  CASE WHEN CAST(sum(t_tot) AS DOUBLE) > 0.0
         |    THEN round(1.0 - CAST(sum(t_win) AS DOUBLE)
         |      / CAST(sum(t_tot) AS DOUBLE), 6)
         |    ELSE 0.0 END AS strength
         |FROM t GROUP BY n_days""".stripMargin,
    // same exact counts, same md5 CMS inner product (full-outer cell
    // meet: one-sided cells feed the counts, NULL products are skipped
    // by SUM, a zero-overlap hash row coalesces to 0), same exact
    // top-1 (n DESC, key ASC) with the SAME merge-order-independent
    // lane predicate in exact integer arithmetic (m·4097 > n_left —
    // the oracle's exact max and Spark's recounted candidate max agree
    // on both sides of it, see HeavyHitters.provableTop1), same CASE
    // thresholds; est_join_rows travels as a digit STRING on both
    // sides (wide-decimal output columns are not representation-stable
    // across engines)
    "join_advisor" ->
      s"""WITH kl AS (SELECT CAST(l_suppkey AS VARCHAR) AS w FROM lineitem
         |            WHERE l_suppkey IS NOT NULL),
         |kr AS (SELECT CAST(s_suppkey AS VARCHAR) AS w FROM supplier
         |       WHERE s_suppkey IS NOT NULL),
         |cl AS (SELECT d, CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 12)
         |              AS BIGINT) % 1024 AS bucket, count(*) AS n
         |       FROM kl, range(4) r(d) GROUP BY 1, 2),
         |cr AS (SELECT d, CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 12)
         |              AS BIGINT) % 1024 AS bucket, count(*) AS n
         |       FROM kr, range(4) r(d) GROUP BY 1, 2),
         |cells AS (SELECT coalesce(cl.d, cr.d) AS d, cl.n AS na, cr.n AS nb
         |          FROM cl FULL OUTER JOIN cr
         |            ON cl.d = cr.d AND cl.bucket = cr.bucket),
         |perrow AS (SELECT d,
         |             coalesce(sum(CAST(na AS DECIMAL(38,0)) * nb), 0) AS ip,
         |             sum(na) AS na, sum(nb) AS nb
         |           FROM cells GROUP BY d),
         |sc AS (SELECT CAST(coalesce(min(ip), 0) AS DECIMAL(38,0)) AS est,
         |         coalesce(max(na), 0) AS n_left,
         |         coalesce(max(nb), 0) AS n_right FROM perrow),
         |tp AS (SELECT w AS k, count(*) AS n FROM kl GROUP BY w
         |       ORDER BY n DESC, k LIMIT 1),
         |ts AS (SELECT CASE WHEN tp.n * 4097 > sc.n_left THEN tp.k END AS top_key,
         |         CASE WHEN sc.n_left = 0 THEN 0.0
         |              WHEN tp.n * 4097 > sc.n_left
         |                THEN round(tp.n * 100.0 / sc.n_left, 6)
         |              ELSE round(100.0 / 4097, 6) END AS share
         |       FROM tp, sc)
         |SELECT CAST(sc.n_left AS BIGINT) AS n_left,
         |  CAST(sc.n_right AS BIGINT) AS n_right,
         |  CAST(sc.est AS VARCHAR) AS est_join_rows,
         |  ts.top_key AS top_left_key,
         |  ts.share AS top_left_share_pct,
         |  CASE WHEN least(sc.n_left, sc.n_right) <= 1000000
         |         THEN 'broadcast_smaller_side'
         |       WHEN ts.share >= 10.0 THEN 'salted_shuffle'
         |       ELSE 'shuffle_join' END AS recommendation
         |FROM sc, ts""".stripMargin,
    // same day collapse, same pairwise slopes (exact int x from the
    // same date_diff), same interpolated medians
    "theilsen_trend" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
         |               FROM events GROUP BY 1),
         |d0 AS (SELECT min(day) AS day0, count(*) AS n_days FROM daily),
         |xy AS (SELECT date_diff('day', day0, day) AS x,
         |         CAST(n AS DOUBLE) AS y, n_days
         |       FROM daily CROSS JOIN d0),
         |pairs AS (SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
         |          FROM xy a JOIN xy b ON a.x < b.x),
         |sl AS (SELECT count(*) AS n_pairs,
         |         quantile_cont(slope, 0.5) AS slope_med FROM pairs),
         |b0 AS (SELECT n_days, n_pairs, slope_med,
         |         quantile_cont(y - slope_med * x, 0.5) AS intercept_med
         |       FROM xy CROSS JOIN sl GROUP BY 1, 2, 3)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  round(slope_med, 6) AS slope_per_day,
         |  round(intercept_med, 6) AS intercept
         |FROM b0""".stripMargin,
    // same transition chain; argmax = row 1 of (n DESC, to_type ASC)
    // — identical to the engine's min(struct(-n, to)) tie-break
    "markov_accuracy" ->
      s"""WITH l AS (SELECT user_id, ts, event_id, event_type,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events),
         |t AS (SELECT prev_type AS from_type, event_type AS to_type FROM l
         |      WHERE prev_ts IS NOT NULL
         |        AND epoch_us(ts) - epoch_us(prev_ts) < 1800000000),
         |c AS (SELECT from_type, to_type, count(*) AS n FROM t GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY from_type
         |        ORDER BY n DESC, to_type ASC) AS rk,
         |        sum(n) OVER (PARTITION BY from_type) AS n_transitions
         |      FROM c)
         |SELECT from_type, to_type AS predicted,
         |  CAST(n_transitions AS BIGINT) AS n_transitions,
         |  CAST(n AS BIGINT) AS n_correct,
         |  round(CAST(n AS DOUBLE) / n_transitions, 6) AS accuracy
         |FROM r WHERE rk = 1 ORDER BY from_type""".stripMargin,
    // same KM mechanics: deaths-before-censorings convention, 9-dp
    // decimal log terms, survival = exp of the cumulative sum
    "survival_churn" ->
      s"""WITH u AS (SELECT user_id,
         |    date_diff('day', DATE '2024-01-01', CAST(min(ts) AS DATE)) AS f,
         |    date_diff('day', DATE '2024-01-01',
         |      CAST(max(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)) AS lp
         |  FROM events GROUP BY user_id),
         |s AS (SELECT CAST(lp - f AS BIGINT) AS t, (lp < 28) AS event
         |      FROM u WHERE lp IS NOT NULL),
         |byt AS (SELECT t,
         |          sum(CASE WHEN event THEN 1 ELSE 0 END) AS d,
         |          sum(CASE WHEN event THEN 0 ELSE 1 END) AS c
         |        FROM s GROUP BY t),
         |tot AS (SELECT sum(d + c) AS n_total FROM byt),
         |r AS (SELECT t, d, c,
         |        (SELECT n_total FROM tot)
         |          - sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |              AND CURRENT ROW) + d + c AS n_risk
         |      FROM byt),
         |tm AS (SELECT t, d, c, n_risk,
         |        CAST(CASE WHEN d = 0 THEN 0.0
         |          WHEN d < n_risk THEN round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
         |        END AS DECIMAL(28,9)) AS t9,
         |        max(CASE WHEN d = n_risk AND d > 0 THEN 1 ELSE 0 END)
         |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |            AND CURRENT ROW) AS collapsed
         |      FROM r)
         |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_churned,
         |  CAST(c AS BIGINT) AS n_censored,
         |  CASE WHEN collapsed = 1 THEN 0.0
         |    ELSE round(exp(CAST(sum(t9) OVER (ORDER BY t ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) END AS survival
         |FROM tm ORDER BY t""".stripMargin,
    // same DENSE-grid contingency fold (absent combinations contribute
    // their (0−E)²/E = E term): E as one division, terms at 9 dp into
    // decimals; DuckDB dow + 1 = Spark dayofweek
    "events_chi2" ->
      s"""WITH c AS (SELECT event_type AS a, CAST(dayofweek(ts) AS INT) + 1 AS b,
         |        count(*) AS o
         |      FROM events GROUP BY 1, 2),
         |ra AS (SELECT a, sum(o) AS row_total FROM c GROUP BY 1),
         |cb AS (SELECT b, sum(o) AS col_total FROM c GROUP BY 1),
         |g AS (SELECT sum(o) AS n FROM c),
         |grid AS (SELECT ra.a, ra.row_total, cb.b, cb.col_total
         |         FROM ra CROSS JOIN cb),
         |e AS (SELECT coalesce(c.o, 0) AS o,
         |        grid.row_total * grid.col_total
         |          / CAST((SELECT n FROM g) AS DOUBLE) AS e
         |      FROM grid LEFT JOIN c ON c.a = grid.a AND c.b = grid.b),
         |t AS (SELECT coalesce(sum(CAST(round((o - e) * (o - e) / e, 9)
         |          AS DECIMAL(28,9))), CAST(0 AS DECIMAL(28,9))) AS chi9,
         |        count(*) AS n_cells
         |      FROM e)
         |SELECT (SELECT count(*) FROM ra) AS n_a,
         |  (SELECT count(*) FROM cb) AS n_b,
         |  CAST(n_cells AS BIGINT) AS n_cells,
         |  ((SELECT count(*) FROM ra) - 1) * ((SELECT count(*) FROM cb) - 1) AS dof,
         |  round(CAST(chi9 AS DOUBLE), 6) AS chi2
         |FROM t""".stripMargin,
    // same one-pass cells/marginals; κ arithmetic restated verbatim
    "rater_agreement" ->
      s"""WITH r AS (SELECT (n_chars >= 300) AS ra,
         |        (len(regexp_split_to_array(trim(text), '\\s+')) >= 55) AS rb
         |      FROM documents),
         |a AS (SELECT count(*) AS n,
         |        sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS n11,
         |        sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS n00,
         |        sum(CASE WHEN ra THEN 1 ELSE 0 END) AS na,
         |        sum(CASE WHEN rb THEN 1 ELSE 0 END) AS nb
         |      FROM r),
         |p AS (SELECT n, n11 + n00 AS n_agree, na, nb,
         |        CASE WHEN n > 0 THEN CAST(n11 + n00 AS DOUBLE) / n END AS po,
         |        CASE WHEN n > 0 THEN
         |          (CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
         |          + (1.0 - CAST(na AS DOUBLE) / n) * (1.0 - CAST(nb AS DOUBLE) / n)
         |        END AS pe
         |      FROM a)
         |SELECT CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT) AS n_agree,
         |  round(po, 6) AS po, round(pe, 6) AS pe,
         |  CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
         |FROM p""".stripMargin,
    // identical moment decimals (scale-12 exact for 2-dp values),
    // identical Welch fold, identical A&S 26.2.17 p polynomial,
    // identical rank + reverse-running-min step-up
    "bh_fdr" ->
      s"""WITH base AS (SELECT event_type AS metric, (user_id % 2 = 0) AS isa,
         |        CAST(value AS DOUBLE) AS v
         |      FROM events WHERE value IS NOT NULL),
         |aug AS (SELECT metric, isa, v FROM base
         |        UNION ALL
         |        SELECT 'synthetic_shift', isa,
         |          v + CASE WHEN isa THEN 0.0 ELSE 50.0 END FROM base),
         |mo AS (SELECT metric, CASE WHEN isa THEN 'A' ELSE 'B' END AS arm,
         |         count(*) AS n, sum(CAST(v AS DECIMAL(38,12))) AS s,
         |         sum(CAST(v * v AS DECIMAL(38,12))) AS s2
         |       FROM aug GROUP BY 1, 2),
         |wide AS (SELECT metric,
         |           coalesce(max(CASE WHEN arm = 'A' THEN n END), 0) AS n_a,
         |           max(CASE WHEN arm = 'A' THEN s END) AS s_a,
         |           max(CASE WHEN arm = 'A' THEN s2 END) AS s2_a,
         |           coalesce(max(CASE WHEN arm = 'B' THEN n END), 0) AS n_b,
         |           max(CASE WHEN arm = 'B' THEN s END) AS s_b,
         |           max(CASE WHEN arm = 'B' THEN s2 END) AS s2_b
         |         FROM mo GROUP BY metric),
         |tz AS (SELECT metric,
         |         CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |           CASE WHEN (s2_a::DOUBLE - s_a::DOUBLE * s_a::DOUBLE / n_a) / (n_a - 1) / n_a
         |                   + (s2_b::DOUBLE - s_b::DOUBLE * s_b::DOUBLE / n_b) / (n_b - 1) / n_b > 0.0
         |             THEN round((s_a::DOUBLE / n_a - s_b::DOUBLE / n_b)
         |               / sqrt((s2_a::DOUBLE - s_a::DOUBLE * s_a::DOUBLE / n_a) / (n_a - 1) / n_a
         |                    + (s2_b::DOUBLE - s_b::DOUBLE * s_b::DOUBLE / n_b) / (n_b - 1) / n_b), 6)
         |           END
         |         END AS z
         |       FROM wide),
         |tp AS (SELECT metric, z,
         |         round(least(2.0 * (0.3989422804014327 * exp(-0.5 * abs(z) * abs(z)))
         |           * ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530
         |             + (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782
         |             + (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937
         |             + (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978
         |             + (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))), 1.0), 9) AS p
         |       FROM tz),
         |ranked AS (SELECT metric AS test, p,
         |             row_number() OVER (ORDER BY p, metric) AS rank,
         |             count(*) OVER () AS m
         |           FROM tp WHERE p IS NOT NULL),
         |adj AS (SELECT *, round(p * m / rank, 9) AS raw_adj FROM ranked),
         |fin AS (SELECT test, p, rank, m,
         |          least(1.0, min(raw_adj) OVER (ORDER BY rank DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
         |        FROM adj)
         |SELECT test, p, CAST(rank AS INT) AS rank, CAST(m AS BIGINT) AS m,
         |  p_adj, (p_adj <= 0.05) AS significant
         |FROM fin ORDER BY test""".stripMargin,
    // same z literals, same left-to-right power formula per MDE row
    "ab_power" ->
      s"""WITH pu AS (SELECT user_id,
         |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
         |      THEN 1 ELSE 0 END AS conv
         |  FROM events GROUP BY user_id),
         |b AS (SELECT count(*) AS n_units,
         |        CASE WHEN count(*) > 0
         |          THEN CAST(sum(conv) AS DOUBLE) / count(*) END AS p1
         |      FROM pu),
         |m AS (SELECT CAST(unnest([0.02, 0.05, 0.10]) AS DOUBLE) AS mde)
         |SELECT CAST(n_units AS BIGINT) AS n_units, round(p1, 6) AS base_rate, mde,
         |  CASE WHEN p1 > 0.0 AND p1 + mde < 1.0 THEN
         |    CAST(ceil(pow(1.959964 * sqrt((p1 + (p1 + mde)) / 2.0
         |          * (1.0 - (p1 + (p1 + mde)) / 2.0) * 2.0)
         |        + 0.841621 * sqrt(p1 * (1.0 - p1)
         |          + (p1 + mde) * (1.0 - (p1 + mde))), 2.0)
         |      / (mde * mde)) AS BIGINT)
         |  END AS n_per_variant
         |FROM b CROSS JOIN m ORDER BY mde""".stripMargin,
    // same decimal moment folds, same fixed-expression θ and means;
    // adjusted values re-quantize at 6 dp before their folds
    "ab_cuped" ->
      s"""WITH pu AS (SELECT user_id,
         |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
         |      THEN CAST(value AS DECIMAL(18,6)) END), CAST(0 AS DECIMAL(18,6))) AS x,
         |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
         |      THEN CAST(value AS DECIMAL(18,6)) END), CAST(0 AS DECIMAL(18,6))) AS y,
         |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 1)
         |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS v
         |  FROM events GROUP BY user_id),
         |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |        sum(CAST(x AS DECIMAL(28,6)) * x) AS sxx,
         |        sum(CAST(x AS DECIMAL(28,6)) * y) AS sxy
         |      FROM pu),
         |th AS (SELECT n,
         |        round(CASE WHEN n > 1 AND
         |            CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |              / CAST(n AS DOUBLE) > 0.0
         |          THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         |              / CAST(n AS DOUBLE))
         |            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |              / CAST(n AS DOUBLE))
         |          ELSE 0.0 END, 9) AS theta,
         |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
         |      FROM m),
         |adj AS (SELECT pu.v, pu.y,
         |          CAST(round(CAST(pu.y AS DOUBLE)
         |            - th.theta * (CAST(pu.x AS DOUBLE) - th.mean_x), 6)
         |            AS DECIMAL(18,6)) AS yadj,
         |          th.theta
         |        FROM pu CROSS JOIN th),
         |bv AS (SELECT v, count(*) AS vn, sum(y) AS vy, sum(yadj) AS vyadj
         |       FROM adj GROUP BY v),
         |pool AS (SELECT count(*) AS pn, sum(y) AS py,
         |           sum(CAST(y AS DECIMAL(28,6)) * y) AS pyy,
         |           sum(yadj) AS pa,
         |           sum(CAST(yadj AS DECIMAL(28,6)) * yadj) AS paa,
         |           max(theta) AS theta
         |         FROM adj),
         |w AS (SELECT
         |    coalesce(max(CASE WHEN v = 'A' THEN vn END), 0) AS n_a,
         |    coalesce(max(CASE WHEN v = 'B' THEN vn END), 0) AS n_b,
         |    max(CASE WHEN v = 'A' THEN vy END) AS ya,
         |    max(CASE WHEN v = 'B' THEN vy END) AS yb,
         |    max(CASE WHEN v = 'A' THEN vyadj END) AS aa,
         |    max(CASE WHEN v = 'B' THEN vyadj END) AS ab
         |  FROM bv)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  pool.theta AS theta,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN
         |    round(CAST(ya AS DOUBLE) / n_a - CAST(yb AS DOUBLE) / n_b, 6)
         |  END AS diff_raw,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN
         |    round(CAST(aa AS DOUBLE) / n_a - CAST(ab AS DOUBLE) / n_b, 6)
         |  END AS diff_adj,
         |  CASE WHEN pn > 1 THEN round((CAST(pyy AS DOUBLE)
         |    - CAST(py AS DOUBLE) * CAST(py AS DOUBLE) / CAST(pn AS DOUBLE))
         |    / (CAST(pn AS DOUBLE) - 1.0), 6) END AS var_y,
         |  CASE WHEN pn > 1 THEN round((CAST(paa AS DOUBLE)
         |    - CAST(pa AS DOUBLE) * CAST(pa AS DOUBLE) / CAST(pn AS DOUBLE))
         |    / (CAST(pn AS DOUBLE) - 1.0), 6) END AS var_y_adj,
         |  CASE WHEN pn > 1 AND (CAST(pyy AS DOUBLE)
         |      - CAST(py AS DOUBLE) * CAST(py AS DOUBLE) / CAST(pn AS DOUBLE))
         |      / (CAST(pn AS DOUBLE) - 1.0) > 0.0 THEN
         |    round(1.0 - ((CAST(paa AS DOUBLE)
         |        - CAST(pa AS DOUBLE) * CAST(pa AS DOUBLE) / CAST(pn AS DOUBLE))
         |        / (CAST(pn AS DOUBLE) - 1.0))
         |      / ((CAST(pyy AS DOUBLE)
         |        - CAST(py AS DOUBLE) * CAST(py AS DOUBLE) / CAST(pn AS DOUBLE))
         |        / (CAST(pn AS DOUBLE) - 1.0)), 6)
         |  END AS var_reduction
         |FROM w CROSS JOIN pool""".stripMargin,
    // same md5 bucketing character-for-character; counts exact, z at 6 dp
    "ab_test" ->
      s"""WITH pu AS (SELECT user_id,
         |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
         |      THEN 1 ELSE 0 END AS conv,
         |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 1)
         |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS v
         |  FROM events GROUP BY user_id),
         |bv AS (SELECT v, count(*) AS n, sum(conv) AS c FROM pu GROUP BY v),
         |w AS (SELECT
         |    coalesce(max(CASE WHEN v = 'A' THEN n END), 0) AS n_a,
         |    coalesce(max(CASE WHEN v = 'A' THEN c END), 0) AS conv_a,
         |    coalesce(max(CASE WHEN v = 'B' THEN n END), 0) AS n_b,
         |    coalesce(max(CASE WHEN v = 'B' THEN c END), 0) AS conv_b
         |  FROM bv)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
         |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
         |  CASE WHEN n_a > 0 THEN round(CAST(conv_a AS DOUBLE) / n_a, 6) END AS rate_a,
         |  CASE WHEN n_b > 0 THEN round(CAST(conv_b AS DOUBLE) / n_b, 6) END AS rate_b,
         |  CASE WHEN n_a > 0 AND n_b > 0
         |        AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) > 0.0
         |        AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) < 1.0
         |  THEN round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |      * (1.0 / n_a + 1.0 / n_b)), 6)
         |  END AS z
         |FROM w""".stripMargin,
    // identical lag/lead windows on the total (ts, event_id) ordering;
    // %f prints 6-digit micros matching Spark's SSSSSS
    "scd2_history" ->
      s"""WITH s AS (SELECT user_id, ts, event_type, event_id,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev,
         |    lag(TRUE) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS has_prev
         |  FROM events),
         |c AS (SELECT user_id, event_type, ts, event_id FROM s
         |      WHERE has_prev IS NULL OR prev IS DISTINCT FROM event_type),
         |r AS (SELECT user_id, event_type AS state, ts AS ef,
         |        lead(ts) OVER (PARTITION BY user_id
         |          ORDER BY ts, event_id) AS et
         |      FROM c)
         |SELECT user_id, state,
         |  strftime(ef, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
         |  strftime(et, '%Y-%m-%d %H:%M:%S.%f') AS effective_to,
         |  (et IS NULL) AS is_current
         |FROM r ORDER BY user_id, effective_from""".stripMargin,
    // the lookup replayed as an interval LEFT JOIN over the same
    // pre-split run-length-compacted history; with non-overlapping
    // versions at most one row matches per fact, and the half-open
    // [from, to) predicate reproduces the engine's boundary rule
    "scd2_lookup" ->
      s"""WITH s AS (SELECT user_id, ts, event_type, event_id,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev,
         |    lag(TRUE) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS has_prev
         |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
         |c AS (SELECT user_id, event_type, ts, event_id FROM s
         |      WHERE has_prev IS NULL OR prev IS DISTINCT FROM event_type),
         |r AS (SELECT user_id, event_type AS state, ts AS ef,
         |        lead(ts) OVER (PARTITION BY user_id
         |          ORDER BY ts, event_id) AS et
         |      FROM c),
         |f AS (SELECT event_id, user_id, ts FROM events),
         |j AS (SELECT f.event_id, f.user_id, f.ts, r.state, r.ef,
         |        row_number() OVER (PARTITION BY f.event_id
         |          ORDER BY r.ef DESC) AS rn
         |      FROM f LEFT JOIN r ON r.user_id = f.user_id
         |        AND r.ef <= f.ts AND (r.et IS NULL OR f.ts < r.et))
         |SELECT event_id, user_id,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
         |  state AS dim_state,
         |  strftime(ef, '%Y-%m-%d %H:%M:%S.%f') AS dim_effective_from
         |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // same three merge lanes replayed as a full-outer join + UNION ALL
    "scd2_merge" ->
      s"""WITH cur AS (SELECT user_id, event_type, ts FROM (
         |    SELECT user_id, event_type, ts, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1),
         |upd AS (SELECT user_id, event_type, ts FROM (
         |    SELECT user_id, event_type, ts, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1),
         |j AS (SELECT c.user_id AS ck, c.event_type AS cs, c.ts AS cf,
         |        u.user_id AS uk, u.event_type AS us, u.ts AS ut
         |      FROM cur c FULL OUTER JOIN upd u ON c.user_id = u.user_id)
         |SELECT * FROM (
         |  SELECT ck AS user_id, cs AS state,
         |    strftime(cf, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
         |    CAST(NULL AS VARCHAR) AS effective_to,
         |    TRUE AS is_current, 'unchanged' AS lane
         |  FROM j WHERE uk IS NULL
         |    OR (ck IS NOT NULL AND cs IS NOT DISTINCT FROM us)
         |  UNION ALL
         |  SELECT ck, cs, strftime(cf, '%Y-%m-%d %H:%M:%S.%f'),
         |    strftime(ut, '%Y-%m-%d %H:%M:%S.%f'), FALSE, 'closed'
         |  FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL
         |    AND cs IS DISTINCT FROM us
         |  UNION ALL
         |  SELECT uk, us, strftime(ut, '%Y-%m-%d %H:%M:%S.%f'), NULL, TRUE,
         |    CASE WHEN ck IS NULL THEN 'new' ELSE 'reopened' END
         |  FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR cs IS DISTINCT FROM us)
         |) ORDER BY user_id, lane, effective_from""".stripMargin,
    "events_anomaly" ->
      s"""WITH hourly AS (
         |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, count(*) AS k,
         |    sum(CAST(n AS DECIMAL(20,0))) AS s,
         |    sum(CAST(n * n AS DECIMAL(28,0))) AS ssq
         |  FROM hourly GROUP BY 1)
         |SELECT h.event_type, h.hour, h.n,
         |  CASE WHEN st.k >= 2 AND
         |    (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k) > 0.0
         |  THEN round((h.n - CAST(s AS DOUBLE) / k)
         |    / sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k)
         |      / (k - 1.0)), 6)
         |  END AS z
         |FROM hourly h JOIN st USING (event_type)
         |ORDER BY event_type, hour""".stripMargin,
    // the pairwise-mean identity replayed verbatim: 9-dp decimal
    // component sums, 9-dp re-quantized squared-norm terms, one double
    // division, both readouts rounded from the same raw ratio
    "embedding_dispersion" ->
      s"""WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS k,
         |              unnest(embedding) AS v
         |            FROM embeddings
         |            WHERE label IS NOT NULL AND embedding IS NOT NULL),
         |s AS (SELECT label, k,
         |        sum(CAST(round(CAST(v AS DOUBLE), 9) AS DECIMAL(28,9))) AS sv
         |      FROM ex GROUP BY 1, 2),
         |s2 AS (SELECT label,
         |         sum(CAST(round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE), 9)
         |             AS DECIMAL(38,9))) AS s2
         |       FROM s GROUP BY 1),
         |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings
         |      WHERE label IS NOT NULL AND embedding IS NOT NULL GROUP BY 1)
         |SELECT n.label, n.n,
         |  round((CAST(s2.s2 AS DOUBLE) - n.n) / (n.n * (n.n - 1)), 6) AS mean_cos,
         |  round(CAST(1.0 AS DOUBLE)
         |    - (CAST(s2.s2 AS DOUBLE) - n.n) / (n.n * (n.n - 1)), 6) AS dispersion
         |FROM n JOIN s2 USING (label) WHERE n.n >= 2 ORDER BY label""".stripMargin,
    // per-dim means rounded at 6 (the centroid contract), squared
    // diffs quantized at 9 dp into decimals, order-free decimal sum
    "embedding_drift" ->
      s"""WITH ex AS (
         |  SELECT vec_id, label, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
         |    unnest(CAST(embedding AS DOUBLE[])) AS x
         |  FROM embeddings),
         |o AS (SELECT label, i, round(avg(x), 6) AS c FROM ex WHERE vec_id % 2 = 0 GROUP BY 1, 2),
         |n AS (SELECT label, i, round(avg(x), 6) AS c FROM ex WHERE vec_id % 2 <> 0 GROUP BY 1, 2),
         |j AS (SELECT o.label, CAST(round((o.c - n.c) * (o.c - n.c), 9) AS DECIMAL(28,9)) AS d2
         |      FROM o JOIN n ON o.label = n.label AND o.i = n.i)
         |SELECT label, count(*) AS n_dims,
         |  round(sqrt(CAST(sum(d2) AS DOUBLE)), 6) AS drift
         |FROM j GROUP BY label ORDER BY label""".stripMargin,
    "value_histogram" ->
      s"""SELECT event_type, CAST(floor(value / $histWidth) AS BIGINT) AS bin,
         |  round(CAST(floor(value / $histWidth) AS BIGINT) * $histWidth, 6) AS bin_lo,
         |  count(*) AS n
         |FROM events WHERE value IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same quantile edges (quantile_cont on exact-decimal fractions),
    // same strictly-greater bin fold (ties to the lower bin), same
    // min/max endpoints
    "equidepth_histogram" ->
      s"""WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events
         |           WHERE value IS NOT NULL),
         |e AS (SELECT quantile_cont(x, [${(1 until 10).map(i =>
             s"0.$i").mkString(", ")}]) AS es,
         |        min(x) AS mn, max(x) AS mx, count(*) AS n_total FROM v),
         |b AS (SELECT list_sum(list_transform(e.es,
         |          t -> CASE WHEN v.x > t THEN 1 ELSE 0 END)) AS bin
         |      FROM v CROSS JOIN e),
         |c AS (SELECT bin, count(*) AS n_rows FROM b GROUP BY bin),
         |g AS (SELECT unnest(range(10)) AS bin)
         |SELECT CAST(g.bin AS INT) AS bin,
         |  round(CASE WHEN g.bin = 0 THEN e.mn ELSE e.es[CAST(g.bin AS INT)] END, 6) AS lo,
         |  round(CASE WHEN g.bin = 9 THEN e.mx ELSE e.es[CAST(g.bin AS INT) + 1] END, 6) AS hi,
         |  CAST(coalesce(c.n_rows, 0) AS BIGINT) AS n_rows,
         |  round(coalesce(c.n_rows, 0)::DOUBLE / e.n_total, 6) AS share
         |FROM g CROSS JOIN e LEFT JOIN c ON g.bin = c.bin
         |ORDER BY bin""".stripMargin,
    // same double-division bucket, same two-level class-size aggregate
    "k_anonymity" ->
      s"""WITH g AS (SELECT source, lang,
         |        CAST(floor(n_chars / 100.0) AS BIGINT) AS lb, count(*) AS sz
         |      FROM documents GROUP BY 1, 2, 3)
         |SELECT CAST(sz AS BIGINT) AS class_size, count(*) AS n_classes,
         |  CAST(sum(sz) AS BIGINT) AS n_records
         |FROM g GROUP BY sz ORDER BY class_size""".stripMargin,
    // same two-level distinct: (class, sensitive) dedup then the l
    // histogram over the bounded class frame
    "l_diversity" ->
      s"""WITH g AS (SELECT source, lang,
         |        count(DISTINCT CAST(floor(n_chars / 100.0) AS BIGINT)) AS l,
         |        count(*) AS sz
         |      FROM documents GROUP BY 1, 2)
         |SELECT CAST(l AS BIGINT) AS l, count(*) AS n_classes,
         |  CAST(sum(sz) AS BIGINT) AS n_records
         |FROM g GROUP BY l ORDER BY l""".stripMargin,
    // same dense class×value grid (absent cells are real zeros), same
    // sv-ordered cumulative |p−q| window, same 9-dp decimal fold and
    // cast-before-divide
    "t_closeness" ->
      s"""WITH base AS (SELECT source || '|' || lang AS cls,
         |        CAST(floor(n_chars / 100.0) AS BIGINT) AS sv
         |      FROM documents WHERE n_chars IS NOT NULL),
         |cc AS (SELECT cls, sv, count(*) AS c FROM base GROUP BY 1, 2),
         |cl AS (SELECT cls, sum(c) AS n_cls FROM cc GROUP BY cls),
         |va AS (SELECT sv, sum(c) AS n_val FROM cc GROUP BY sv),
         |tot AS (SELECT sum(n_val) AS n, count(*) AS m FROM va),
         |grid AS (SELECT cl.cls, va.sv, cl.n_cls, tot.m,
         |           coalesce(cc.c, 0)::DOUBLE / cl.n_cls AS p,
         |           va.n_val::DOUBLE / tot.n AS q
         |         FROM cl CROSS JOIN va
         |         LEFT JOIN cc ON cl.cls = cc.cls AND va.sv = cc.sv
         |         CROSS JOIN tot),
         |cum AS (SELECT cls, n_cls, m,
         |          CAST(round(abs(sum(p - q) OVER (PARTITION BY cls ORDER BY sv
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 9)
         |            AS DECIMAL(28,9)) AS t9
         |        FROM grid)
         |SELECT cls, CAST(n_cls AS BIGINT) AS class_size,
         |  CASE WHEN m > 1 THEN round(CAST(sum(t9) AS DOUBLE) / (m - 1), 6)
         |       ELSE 0.0 END AS t
         |FROM cum GROUP BY cls, n_cls, m ORDER BY cls""".stripMargin,
    // exact interpolated percentiles for location AND scale; the flag
    // compares the rounded z so the boundary cannot flip
    "doclen_outliers" ->
      s"""WITH v AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS value
         |  FROM documents),
         |m AS (SELECT quantile_cont(value, 0.5) AS med FROM v),
         |d AS (SELECT v.doc_id, v.value, m.med FROM v CROSS JOIN m),
         |md AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad FROM d),
         |z AS (SELECT d.doc_id, d.value,
         |        CASE WHEN md.mad > 0.0
         |          THEN round(0.6745::DOUBLE * (d.value - d.med) / md.mad, 6)
         |        END AS robust_z
         |      FROM d CROSS JOIN md)
         |SELECT doc_id, value, robust_z,
         |  CASE WHEN robust_z IS NOT NULL THEN abs(robust_z) > 3.5 END AS is_outlier
         |FROM z ORDER BY doc_id""".stripMargin,
    // per-row pow rounded at 9 dp (the ln rule — engine libm ulps die
    // there), decimal sum; horizon = max ts, same in both engines
    "events_decayed" ->
      s"""WITH t AS (SELECT max(epoch_us(ts)) AS t_max FROM events),
         |w AS (SELECT event_type,
         |        CAST(round(pow(2.0::DOUBLE,
         |          -(CAST(t.t_max - epoch_us(ts) AS DOUBLE)
         |            / CAST(${86400L * 1000000L} AS DOUBLE))), 9) AS DECIMAL(20,9)) AS w
         |      FROM events CROSS JOIN t)
         |SELECT event_type, count(*) AS n_events,
         |  round(CAST(sum(w) AS DOUBLE), 6) AS decayed_count
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact count ratios; each -p ln p rounded at 9 dp into decimals;
    // majority ties break on the class value (rn over n DESC, cls)
    "class_balance" ->
      s"""WITH c AS (SELECT source, lang AS cls, count(*) AS n FROM documents GROUP BY 1, 2),
         |t AS (SELECT source, sum(n) AS total FROM c GROUP BY 1),
         |h AS (SELECT c.source, c.n,
         |        CAST(round(-(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE))
         |          * ln(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE)), 9)
         |          AS DECIMAL(20,9)) AS h_term
         |      FROM c JOIN t USING (source)),
         |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
         |        count(*) AS n_classes,
         |        round(CAST(sum(h_term) AS DOUBLE), 6) AS entropy
         |      FROM h GROUP BY 1),
         |m AS (SELECT source, cls, n,
         |        row_number() OVER (PARTITION BY source ORDER BY n DESC, cls) AS rn
         |      FROM c)
         |SELECT g.source, g.n_docs, g.n_classes, m.cls AS majority_class,
         |  round(CAST(m.n AS DOUBLE) / g.n_docs, 6) AS majority_share, g.entropy
         |FROM g JOIN (SELECT * FROM m WHERE rn = 1) m USING (source)
         |ORDER BY g.source""".stripMargin,
    // native ASOF LEFT JOIN mirrors the engine's union+ordered-window
    // as-of; same campaign bucketing from the props JSON
    "attribution_last_touch" ->
      s"""WITH p AS (SELECT event_id, user_id, ts, value FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events WHERE event_type = 'click')
         |SELECT CASE WHEN c.k IS NULL THEN 'organic'
         |            ELSE 'campaign_' || CAST(c.k % 4 AS VARCHAR) END AS channel,
         |  count(*) AS n_purchases,
         |  CAST(sum(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
         |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same [t−1h, t] inclusive window as rangeJoinPrior's millis
    // bounds; per-touch credits rounded per row, folded in decimals
    "attribution_linear" ->
      s"""WITH p AS (SELECT event_id, user_id, ts, value FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts AS click_ts,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events WHERE event_type = 'click'),
         |t AS (SELECT p.event_id, p.value, c.k FROM p JOIN c
         |      ON p.user_id = c.user_id
         |      AND c.click_ts >= p.ts - INTERVAL 3600 SECOND
         |      AND c.click_ts <= p.ts),
         |n AS (SELECT *, count(*) OVER (PARTITION BY event_id) AS n_touches
         |      FROM t),
         |cr AS (SELECT 'campaign_' || CAST(k % 4 AS VARCHAR) AS channel,
         |         round(value / n_touches, 6) AS credit FROM n
         |       UNION ALL
         |       SELECT 'organic', round(value, 6) FROM p
         |       WHERE event_id NOT IN (SELECT event_id FROM t))
         |SELECT channel, count(*) AS n_credits,
         |  CAST(sum(CAST(credit AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
         |FROM cr GROUP BY channel ORDER BY channel""".stripMargin,
    // same touch window, same (click_ts, k) position order, same
    // 40/20/40 weight ladder
    "attribution_u_shaped" ->
      s"""WITH p AS (SELECT event_id, user_id, ts, value FROM events
         |           WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts AS click_ts,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events WHERE event_type = 'click'),
         |t AS (SELECT p.event_id, p.value, c.k, c.click_ts FROM p JOIN c
         |      ON p.user_id = c.user_id
         |      AND c.click_ts >= p.ts - INTERVAL 3600 SECOND
         |      AND c.click_ts <= p.ts),
         |n AS (SELECT *, count(*) OVER (PARTITION BY event_id) AS n_touches,
         |        row_number() OVER (PARTITION BY event_id
         |          ORDER BY click_ts, k) AS pos
         |      FROM t),
         |wgt AS (SELECT *, CASE WHEN n_touches = 1 THEN 1.0
         |          WHEN n_touches = 2 THEN 0.5
         |          WHEN pos = 1 OR pos = n_touches THEN 0.4
         |          ELSE 0.2 / (n_touches - 2) END AS w
         |        FROM n),
         |cr AS (SELECT 'campaign_' || CAST(k % 4 AS VARCHAR) AS channel,
         |         round(value * w, 6) AS credit FROM wgt
         |       UNION ALL
         |       SELECT 'organic', round(value, 6) FROM p
         |       WHERE event_id NOT IN (SELECT event_id FROM t))
         |SELECT channel, count(*) AS n_credits,
         |  CAST(sum(CAST(credit AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
         |FROM cr GROUP BY channel ORDER BY channel""".stripMargin,
    // the sessions oracle's lag/cumsum session replay, then list() the
    // in-session type order and unnest the consecutive triples
    "session_paths" ->
      s"""WITH l AS (SELECT user_id, event_id, event_type, ts,
         |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |           FROM events),
         |s AS (SELECT *, sum(CASE WHEN prev IS NULL
         |                           OR epoch_ms(ts) - epoch_ms(prev) >= 1800000
         |                         THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY user_id ORDER BY ts, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |      FROM l),
         |seq AS (SELECT user_id, sess, list(event_type ORDER BY ts, event_id) AS types
         |        FROM s GROUP BY 1, 2),
         |tri AS (SELECT unnest(list_transform(range(1, len(types) - 1),
         |          i -> types[i] || '>' || types[i+1] || '>' || types[i+2])) AS path
         |        FROM seq WHERE len(types) >= 3)
         |SELECT path, count(*) AS n FROM tri
         |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // same two min-aggregations and the double latency fold; percentile
    // = quantile_cont (exact interpolation parity)
    "time_to_convert" ->
      s"""WITH su AS (SELECT user_id, min(ts) AS su FROM events
         |            WHERE event_type = 'signup' GROUP BY 1),
         |pu AS (SELECT e.user_id, min(e.ts) AS pu, max(su.su) AS su
         |       FROM events e JOIN su USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts >= su.su
         |       GROUP BY 1),
         |l AS (SELECT CAST(epoch_us(pu) - epoch_us(su) AS DOUBLE)
         |        / CAST(1000000 AS DOUBLE) AS lat FROM pu)
         |SELECT count(*) AS n_converted,
         |  round(quantile_cont(lat, 0.5), 6) AS p50_s,
         |  round(quantile_cont(lat, 0.9), 6) AS p90_s,
         |  round(quantile_cont(lat, 0.99), 6) AS p99_s
         |FROM l""".stripMargin,
    // same snapshot construction, one full-outer digest join
    "corpus_diff" ->
      s"""WITH nw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + $nfcTwinOffset, text FROM documents WHERE doc_id % 11 = 0),
         |o AS (SELECT doc_id, sha256(text) AS h_old FROM documents),
         |n AS (SELECT doc_id, sha256(text) AS h_new FROM nw),
         |j AS (SELECT CASE WHEN o.h_old IS NULL THEN 'added'
         |                  WHEN n.h_new IS NULL THEN 'removed'
         |                  WHEN o.h_old = n.h_new THEN 'unchanged'
         |                  ELSE 'changed' END AS status
         |      FROM o FULL OUTER JOIN n USING (doc_id))
         |SELECT status, count(*) AS n_docs FROM j
         |GROUP BY status ORDER BY status""".stripMargin,
    // explicit epoch-micros floor = Spark's epoch-aligned window();
    // rank ties break on type, both engines
    "stream_trending" -> {
      val us = trendingWindowSeconds * 1000000L
      s"""WITH w AS (
         |  SELECT make_timestamp((epoch_us(ts) // $us) * $us) AS ws,
         |    event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         |        event_type, n,
         |        CAST(row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type)
         |          AS INT) AS rank
         |      FROM w)
         |SELECT window_start, event_type, n, rank FROM r
         |WHERE rank <= $trendingTopK ORDER BY window_start, rank""".stripMargin
    },
    // one SELECT per profiled column (the oracle may scan repeatedly;
    // the engine does it in one Expand pass); COUNT(DISTINCT) excludes
    // nulls in both engines
    "table_profile" -> profileCols.map(c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct
         |FROM events""".stripMargin).mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // the same five damped rounds in a recursive CTE with aggregation:
    // contributions rounded at 9 dp per edge (decimal), exact decimal
    // in-edge sums, damped update rounded at 9 dp — rank tables match
    // bit-for-bit per round; double literals forced via ::DOUBLE casts
    // (a bare 0.85 is DECIMAL in DuckDB, double in Spark)
    "dup_pagerank" -> {
      val it = operators.Graph.pageRankIterations
      val d = operators.Graph.pageRankDamping
      s"""WITH RECURSIVE $minhashCtes,
         |prs AS (SELECT i.doc_a, i.doc_b
         |        FROM inter i JOIN sz x ON i.doc_a = x.doc_id
         |                     JOIN sz y ON i.doc_b = y.doc_id
         |        WHERE round(i.c::DOUBLE/(x.n + y.n - i.c), 6) >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION SELECT doc_b, doc_a FROM prs),
         |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nv AS (SELECT count(*) AS n FROM dg),
         |pr AS (
         |  SELECT 0 AS it, src AS node,
         |    CAST(round(CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS DECIMAL(20,9)) AS r
         |  FROM dg CROSS JOIN nv
         |  UNION ALL
         |  SELECT p.it + 1, e.dst AS node,
         |    CAST(round((CAST(1.0 AS DOUBLE) - CAST($d AS DOUBLE)) / CAST(nv.n AS DOUBLE)
         |           + CAST($d AS DOUBLE) * CAST(sum(
         |               CAST(round(CAST(p.r AS DOUBLE) / dg.deg, 9) AS DECIMAL(20,9))
         |             ) AS DOUBLE), 9) AS DECIMAL(20,9)) AS r
         |  FROM pr p JOIN e ON p.node = e.src JOIN dg ON e.src = dg.src CROSS JOIN nv
         |  WHERE p.it < $it
         |  GROUP BY p.it + 1, e.dst, nv.n
         |)
         |SELECT p.node AS doc_id, dg.deg, round(CAST(p.r AS DOUBLE), 6) AS rank
         |FROM pr p JOIN dg ON p.node = dg.src
         |WHERE p.it = $it ORDER BY doc_id""".stripMargin
    },
    // tokenizer replay from the dumped merge table: same spaced-symbol
    // form (regexp_replace 'g'), same greedy left-to-right replace-all
    // semantics, merges folded in rank order via list_reduce (tab-joined
    // pair/merged — symbols never contain whitespace by construction)
    "bpe_tokenize" ->
      s"""WITH m AS (SELECT list(pair || chr(9) || merged ORDER BY rank) AS ms
         |           FROM '${operators.Bpe.mergesDumpPath}/*.parquet'),
         |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |        CAST(list_sum(list_transform(ws, wd ->
         |          len(string_split(
         |            list_reduce(list_prepend(rtrim(regexp_replace(wd, '(.)', '\\1 ', 'g')), m.ms),
         |              (acc, x) -> replace(acc, string_split(x, chr(9))[1], string_split(x, chr(9))[2])),
         |            ' ')))) AS BIGINT) AS n_bpe_tokens
         |      FROM w CROSS JOIN m)
         |SELECT doc_id, n_words, n_bpe_tokens,
         |  round(n_bpe_tokens::DOUBLE / n_words, 6) AS compression
         |FROM t ORDER BY doc_id""".stripMargin,
    // scoring replay from the dumped weights: the identical feature
    // doubles (text_stats' proven fragments + the stopword filter
    // interpolated from the shared list), the same left-to-right dot
    // fold, the same sigmoid, rounded at 6 dp before the 0.5 cut
    "quality_classifier" ->
      s"""WITH $qualityScoreCtes
         |SELECT doc_id, quality, quality >= 0.5 AS predicted
         |FROM sc ORDER BY doc_id""".stripMargin,
    // the same scoring replay, joined to the proxy label, then the
    // tie-aware Mann-Whitney rank arithmetic — per-score counts, a
    // strictly-below cumulative, and the doubled integral numerator in
    // DECIMAL(38,0): identical order-independent folds to the engine
    "classifier_auc" ->
      s"""WITH $qualityScoreCtes,
         |l AS (SELECT sc.doc_id, sc.quality,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |      FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |b AS (SELECT quality, CAST(sum(label) AS BIGINT) AS n_pos,
         |        CAST(sum(1 - label) AS BIGINT) AS n_neg
         |      FROM l GROUP BY quality),
         |c AS (SELECT quality, n_pos, n_neg,
         |        CAST(coalesce(sum(n_neg) OVER (ORDER BY quality
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS neg_below
         |      FROM b)
         |SELECT round(CAST(sum(CAST(n_pos * (2 * neg_below + n_neg)
         |          AS DECIMAL(38,0))) AS DOUBLE)
         |      / (2.0 * sum(n_pos) * sum(n_neg)), 6) AS auc,
         |  CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |  CAST(sum(n_neg) AS BIGINT) AS n_neg
         |FROM c""".stripMargin,
    // same scoring replay; inclusive cumulative CDFs per score, the
    // exact |pos_cum·nn − neg_cum·np| numerator in DECIMAL(38,0)
    "classifier_ks" ->
      s"""WITH $qualityScoreCtes,
         |l AS (SELECT sc.doc_id, sc.quality,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |      FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |b AS (SELECT quality, CAST(sum(label) AS BIGINT) AS n_pos,
         |        CAST(sum(1 - label) AS BIGINT) AS n_neg
         |      FROM l GROUP BY quality),
         |c AS (SELECT quality, n_pos, n_neg,
         |        CAST(sum(n_pos) OVER (ORDER BY quality
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pos_cum,
         |        CAST(sum(n_neg) OVER (ORDER BY quality
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS neg_cum
         |      FROM b),
         |t AS (SELECT sum(n_pos) AS np, sum(n_neg) AS nn FROM c)
         |SELECT round(CAST(max(abs(CAST(pos_cum AS DECIMAL(38,0)) * nn
         |          - CAST(neg_cum AS DECIMAL(38,0)) * np)) AS DOUBLE)
         |      / (CAST(np AS DOUBLE) * nn), 6) AS ks,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM c, t GROUP BY np, nn""".stripMargin,
    "calibration_bins" ->
      s"""WITH $qualityScoreCtes,
         |l AS (SELECT sc.doc_id, sc.quality,
         |        CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |      FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
         |SELECT CAST(least(floor(quality * 10), 9) AS INT) AS bin,
         |  count(*) AS n_docs,
         |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*), 6) AS mean_quality,
         |  round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS frac_pos
         |FROM l GROUP BY 1 ORDER BY bin""".stripMargin,
    // the oracle states percent_rank as the global window the engine
    // deliberately avoids — equal results prove the bounded-domain
    // construction IS percent_rank
    "quality_percentiles" ->
      s"""WITH $qualityScoreCtes
         |SELECT doc_id, quality,
         |  round(percent_rank() OVER (ORDER BY quality), 6) AS pctl
         |FROM sc ORDER BY doc_id""".stripMargin,
    // replay of the seeded shuffle: same md5("id:seed") key, same
    // stage cutoffs, same total order and cut
    "curriculum_order" ->
      s"""WITH s AS (SELECT doc_id,
         |    CASE WHEN n_chars < 220 THEN 0
         |         WHEN n_chars < 380 THEN 1 ELSE 2 END AS stage,
         |    md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, CAST(stage AS INT) AS stage, shuffle_key,
         |  CAST(row_number() OVER (ORDER BY stage, shuffle_key, doc_id)
         |    AS BIGINT) AS position
         |FROM s ORDER BY stage, shuffle_key, doc_id LIMIT 200""".stripMargin,
    "embedding_pca" ->
      s"""WITH c AS (SELECT comp, weights FROM '${operators.Pca.componentDumpPath}/*.parquet')
         |SELECT e.vec_id, CAST(c.comp AS INT) AS comp,
         |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.weights), 6) AS pval
         |FROM embeddings e CROSS JOIN c ORDER BY vec_id, comp""".stripMargin,
    // corrupt rows are doc_id % stride = 0 by construction: 20 header
    // bytes, error status, null dims; everything else must carry the
    // real decoded dims — a decoder that died OR silently faked either
    // lane breaks the hash
    "multimodal_quarantine" ->
      s"""SELECT doc_id AS media_id,
         |  CAST(CASE WHEN doc_id % $quarantineEvery = 0 THEN 20
         |            ELSE 54 + ((24*($mmDimW) + 31) // 32) * 4 * ($mmDimH) END AS BIGINT) AS n_bytes,
         |  CASE WHEN doc_id % $quarantineEvery = 0 THEN 'error' ELSE 'ok' END AS status,
         |  CASE WHEN doc_id % $quarantineEvery = 0 THEN NULL
         |       ELSE CAST($mmDimW AS INT) END AS width,
         |  CASE WHEN doc_id % $quarantineEvery = 0 THEN NULL
         |       ELSE CAST($mmDimH AS INT) END AS height
         |FROM documents ORDER BY media_id""".stripMargin,
    // replays the three modality branches closed-form, unions the
    // per-row 6-dp metrics, and folds them in exact decimals — the same
    // order-independent discipline as the Spark side
    "pipeline_media" ->
      s"""WITH di AS (SELECT doc_id, $mmDimW AS sw, $mmDimH AS sh FROM documents
         |            WHERE doc_id % 3 = 0),
         |px AS (SELECT doc_id, sw, sh,
         |         (doc_id * 1103515245 + tx.x * 31 + ty.y * 17) % 16777216 AS pv
         |       FROM di CROSS JOIN range(${MM.DimBase + MM.DimMod - 1}) tx(x)
         |              CROSS JOIN range(${MM.DimBase + MM.DimMod - 1}) ty(y)
         |       WHERE tx.x < sw AND ty.y < sh),
         |img AS (SELECT 'image' AS modality,
         |          round((SUM(pv // 65536)*299 + SUM((pv // 256) % 256)*587
         |                 + SUM(pv % 256)*114)::DOUBLE
         |                / (1000.0 * MAX(sw) * MAX(sh)), 6) AS metric
         |        FROM px GROUP BY doc_id),
         |da AS (SELECT doc_id, ${MM.AudioBaseSamples} + CAST(doc_id % ${MM.DimMod} AS INT) * ${MM.AudioStepSamples} AS n
         |       FROM documents WHERE doc_id % 3 = 1),
         |sa AS (SELECT doc_id, n, ((doc_id * ${MM.AudioHashA} + t.i * ${MM.AudioHashB}) % 65536) - 32768 AS v
         |       FROM da CROSS JOIN range(${MM.AudioBaseSamples + (MM.DimMod - 1) * MM.AudioStepSamples}) t(i) WHERE t.i < n),
         |aud AS (SELECT 'audio' AS modality,
         |          round(sqrt(SUM(v * v)::DOUBLE / MAX(n)), 6) AS metric
         |        FROM sa GROUP BY doc_id),
         |dv AS (SELECT doc_id, unnest(range(${MM.FrameBase} + CAST(doc_id % ${MM.FrameMod} AS INT))) AS i
         |       FROM documents WHERE doc_id % 3 = 2),
         |fv AS (SELECT doc_id, doc_id * ${MM.FrameSeedMult} + i AS seed FROM dv
         |       WHERE i % ${MM.FrameStride} = 0),
         |gv AS (SELECT doc_id, ${MM.DimBase} + seed % ${MM.DimMod} AS fw,
         |              ${MM.DimBase} + (seed // ${MM.DimMod}) % ${MM.DimMod} AS fh FROM fv),
         |vid AS (SELECT 'video' AS modality,
         |          CAST(SUM(54 + ((24*fw + 31) // 32) * 4 * fh) AS DOUBLE) AS metric
         |        FROM gv GROUP BY doc_id),
         |u AS (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid),
         |k AS (SELECT modality, metric,
         |        CASE modality WHEN 'image' THEN ${mediaThresholds("image")}
         |                      WHEN 'audio' THEN ${mediaThresholds("audio")}
         |                      ELSE ${mediaThresholds("video")} END AS thr
         |      FROM u)
         |SELECT modality, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN metric >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  round(CAST(SUM(CAST(metric AS DECIMAL(24,6))) AS DOUBLE) / count(*), 6) AS avg_metric
         |FROM k GROUP BY modality ORDER BY modality""".stripMargin
  )
}
