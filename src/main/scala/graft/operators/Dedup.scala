package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Deduplication operators for large-scale training-data pipelines.
  *
  * None of these exist in the reference (SURVEY.md §2.9) — they are the
  * north-star LLM-pipeline extensions. All are built join-first so the
  * same plan runs at 100 TB:
  *
  *  - exact:   hash-groupBy on a text digest — one shuffle on the digest.
  *  - n-gram Jaccard: inverted shingle index self-join (only pairs that
  *    share ≥1 shingle are ever materialized — no O(n²) cross product).
  *  - MinHash+LSH: md5-keyed minhash signatures → banded bucket join →
  *    exact-Jaccard verification of candidates only.
  *  - SimHash: 62-bit signature; candidate pairs by 16-bit block
  *    equi-join (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 blocks equal), then
  *    exact hamming filter via xor+bit_count.
  *  - embedding cosine: brute-force scored pairs (baseline; the IVF/LSH
  *    scale path lives in Ann.scala).
  *
  * Hashes are md5/sha2 column functions — identical in DuckDB, which
  * keeps every operator oracle-checkable.
  */
object Dedup {

  /** Whitespace tokenization shared by all text operators. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct n-word shingle array per document (per-row, no shuffle).
    * Hash-set dedupe in a UDF: the column-expression `array_distinct` is
    * O(n²) per row, which dominates at ~500 shingles/doc. Output order is
    * irrelevant — every consumer (jaccard counts, minhash mins, inverted
    * index) is set-semantics.
    */
  private def shingleUdf(n: Int) = udf { ws: Seq[String] =>
    val out = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n - 1 < ws.length) {
      sb.setLength(0)
      var o = 0
      while (o < n) { if (o > 0) sb.append(' '); sb.append(ws(i + o)); o += 1 }
      out.add(sb.toString)
      i += 1
    }
    out.toArray(new Array[String](out.size)).toSeq
  }

  /** Null-safe: a NULL text shingles to the EMPTY set — the row then
    * drops out of every candidate path via the existing
    * `size(sh) >= 1` guards (missing content cannot be a duplicate of
    * anything), instead of NPE-ing the shingle UDF and killing a
    * corpus-scale job over one bad row.
    */
  def shingleArray(text: Column, n: Int = 3): Column =
    when(text.isNull, typedLit(Seq.empty[String]))
      .otherwise(shingleUdf(n)(words(text)))

  /** Distinct 3-word shingles per document: (doc_id, shingle).
    * Repartitioned first: single-file local sources arrive as one
    * partition and the explode/join pipeline would otherwise start
    * single-threaded.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    Partitioning.spread(docs)
      .filter(size(words(col("text"))) >= n)
      .select(col("doc_id"), explode(shingleArray(col("text"), n)).as("shingle"))

  /** Dedup materialization: keep one canonical document per exact-dup
    * group (lowest doc_id), report kept/dropped per source. The keep
    * decision is a groupBy(min) + self-join — no row ever compares
    * against more than its own digest group.
    */
  def keepCanonical(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
    val canonical = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    hashed.join(canonical, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy(col("source"))
  }

  /** TOKEN-denominated dedup accounting — [[keepCanonical]] counts
    * documents, but training budgets are spent in tokens, and dup
    * groups skew long (boilerplate pages), so the doc-count savings
    * systematically understate what dedup buys back. Per source:
    * docs/tokens before and after the canonical keep, and the token
    * savings fraction — the number a pipeline owner plugs straight
    * into the token-budget plan ([[Sampling.tokenBudget]]).
    *
    * Shape at 100 TB: the same two shuffles as keepCanonical (digest
    * groupBy + the keep join — the token column rides the hashed
    * projection for free); the rollup is a map-side-combinable
    * per-source aggregate. Canonical keep is GLOBAL min doc_id per
    * digest, so cross-source dup groups attribute savings to the
    * source whose copies drop, exactly like the doc-count report.
    */
  def dedupTokenSavings(docs: DataFrame): DataFrame =
    dedupTokenSavingsCore(docs).orderBy(col("source"))

  /** [[dedupTokenSavings]] without the readout sort — the composition
    * form [[dedupSavingsDrift]] joins two of these, so the total order
    * belongs once at the composed readout (the evalContaminationCore
    * discipline).
    */
  private def dedupTokenSavingsCore(docs: DataFrame): DataFrame = {
    val hashed = Partitioning.spread(docs)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"),
        size(words(col("text"))).cast("long").as("toks"))
    val canonical = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    hashed.join(canonical, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("toks")).as("tokens_total"),
        sum(when(col("doc_id") === col("keep_id"), col("toks"))
          .otherwise(0L)).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_total"), col("tokens_kept"),
        round(lit(1.0) - col("tokens_kept").cast("double") /
          col("tokens_total"), 6).as("token_savings_frac"))
  }

  /** Release-over-release DEDUP-SAVINGS drift — [[dedupTokenSavings]]
    * run against two corpus releases and differenced per source: "which
    * feed got more duplicated in this release" is the trend a pipeline
    * owner watches between snapshots (a static savings table cannot
    * distinguish long-standing boilerplate from duplication the NEWLY
    * INGESTED batch introduced — the latter is actionable at ingest
    * review). One row per source seen in EITHER release (full outer —
    * a feed that appeared or disappeared is itself the signal): docs /
    * tokens-total / savings fraction per side, and the 6-dp savings
    * delta. A side where the source is absent reports zero counts and
    * savings 0.0 (nothing ingested ⇒ nothing saved) — the
    * zero-gram-verdict convention of [[contaminationDrift]].
    *
    * Shape at 100 TB: two independent [[dedupTokenSavings]] passes
    * (each two digest-key shuffles + a map-side-combinable source
    * rollup) meeting in ONE source-keyed full-outer join over
    * source-cardinality-sized frames, i.e. tiny.
    */
  def dedupSavingsDrift(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    val o = dedupTokenSavingsCore(oldCorpus)
      .select(col("source"), col("n_docs").as("n_docs_old"),
        col("tokens_total").as("tokens_old"),
        col("token_savings_frac").as("savings_old"))
    val nw = dedupTokenSavingsCore(newCorpus)
      .select(col("source"), col("n_docs").as("n_docs_new"),
        col("tokens_total").as("tokens_new"),
        col("token_savings_frac").as("savings_new"))
    o.join(nw, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_docs_old"), lit(0L)).as("n_docs_old"),
        coalesce(col("n_docs_new"), lit(0L)).as("n_docs_new"),
        coalesce(col("tokens_old"), lit(0L)).as("tokens_old"),
        coalesce(col("tokens_new"), lit(0L)).as("tokens_new"),
        coalesce(col("savings_old"), lit(0.0)).as("savings_old"),
        coalesce(col("savings_new"), lit(0.0)).as("savings_new"))
      .withColumn("savings_delta",
        round(col("savings_new") - col("savings_old"), 6))
      .orderBy(col("source"))
  }

  /** Why-merged evidence for every verified near-dup pair: each side's
    * distinct-shingle size, the shared count, and the first `k` shared
    * shingles in lexicographic order — the appeal/curation view behind
    * a dedup decision ("show me WHY these two were called copies").
    *
    * Shape: the pair list is the already-verified LSH output; shingle
    * sets join back per side (per-row arrays bounded by document
    * length) and the evidence is array_intersect + sort + slice inside
    * one codegen projection — no extra shuffle beyond the two joins.
    * The evidence table is returned checkpointed.
    */
  def dupEvidence(docs: DataFrame, threshold: Double, k: Int = 5): DataFrame = Scoped { s =>
    // ONE shingling pass: the same per-doc shingle frame feeds the LSH
    // candidates, the Jaccard verification AND the evidence joins —
    // shingling is the dominant cost, re-deriving it per consumer
    // would double the whole operator. A local checkpoint, not a
    // cache: the checkpointed result cuts the lineage, so the blocks
    // are the ContextCleaner's once the call returns
    val docSh = docShingles(docs, 3).localCheckpoint()
    val candidates = bandedCandidates(s, bandKeysOf(docSh, "doc_id", 16, 4))
    // unsorted verify core: the evidence joins + the contract sort sit
    // above, so an intermediate pair sort would only be destroyed
    val pairs = verifyPairsCore(candidates, docSh, threshold)
    // shingleArray output is already distinct (hash-set dedupe in the
    // UDF) — the former array_distinct here was an O(len²)-per-row
    // identity (round-15)
    val sets = docSh.select(col("doc_id"), col("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        size(col("sha")).cast("long").as("n_a"),
        size(col("shb")).cast("long").as("n_b"),
        array_sort(array_intersect(col("sha"), col("shb"))).as("__shared"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("n_a"), col("n_b"),
        size(col("__shared")).cast("long").as("n_shared"),
        concat_ws("|", slice(col("__shared"), 1, k)).as("evidence"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
  }

  /** Quality-aware canonical selection over resolved near-dup groups:
    * per component keep the doc that maximizes `quality` (min doc_id
    * only as the tie-break) — "keep the best copy", not "keep the
    * first". Ungrouped docs are their own (singleton) keeper. The
    * argmax is a map-side-combinable `min(struct(-q, id))` per group —
    * never a per-group ranking window over the corpus. A NULL quality
    * ranks LAST (struct field ordering alone would sort it first —
    * nulls-first ascending — silently making the worst doc the
    * keeper), via an explicit null-rank lead field; type-agnostic
    * where a sentinel coalesce would have to guess the column's type.
    */
  def keepBest(docs: DataFrame, groups: DataFrame,
      quality: Column): DataFrame = {
    val withGroup = docs.select(col("doc_id"), quality.as("__q"))
      .join(groups.select(col("doc_id"), col("group_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__q"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
    val keepers = withGroup.groupBy(col("group_id"))
      .agg(min(struct(
        when(col("__q").isNull, 1).otherwise(0).as("null_last"),
        (-col("__q")).as("neg_q"), col("doc_id").as("id")))
        .as("best"))
      .select(col("group_id"), col("best.id").as("keeper_doc"))
    withGroup.join(keepers, "group_id")
      .select(col("doc_id"), col("group_id"), col("keeper_doc"),
        (col("doc_id") === col("keeper_doc")).as("is_keeper"))
  }

  /** Sub-document span dedup, C4-style (Raffel et al. 2020 §2.2 dedupe
    * any repeated span corpus-wide, keeping one occurrence) — restated
    * block-parallel so one pass over the corpus settles every
    * occurrence: each document splits into consecutive NON-overlapping
    * `n`-word blocks (trailing partial block included); a block whose
    * text appears anywhere else in the corpus (or earlier in the same
    * document) survives only at its globally first occurrence — minimal
    * (doc_id, block_idx) — and every other occurrence is cut. The
    * cleaned document is the surviving blocks re-joined in order.
    *
    * Non-overlapping blocks (vs the reference pipeline's sliding
    * 3-sentence windows) make removal well-defined under parallelism:
    * overlapping spans double-claim words, so cutting them depends on
    * scan order — exactly what a distributed engine must not depend on.
    *
    * Shape at 100 TB: two shuffles. (1) canonical occurrence per block
    * digest via `min(struct(doc_id, block_idx))` — an Aggregator-style
    * partial min, map-side combined, so a boilerplate block repeated a
    * billion times still ships ONE row per map task (never a window
    * over the hot digest's occurrence list); (2) the per-doc rebuild
    * groupBy. The digest join back is a plain equi-join the AQE skew
    * handler can split.
    *
    * Returns (doc_id, n_blocks, n_kept, clean_text), clean_text = ""
    * when every block of the doc is a repeat.
    */
  def spanDedup(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 1, s"block size must be >= 1, got $n")
    val blocks = Partitioning.spread(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n_blocks", ceil(size(col("ws")).cast("double") / n).cast("long"))
      .select(col("doc_id"), col("n_blocks"),
        posexplode(transform(sequence(lit(0), col("n_blocks").cast("int") - 1),
          i => concat_ws(" ", slice(col("ws"), i * n + 1, lit(n)))))
          .as(Seq("block_idx", "block")))
      .withColumn("bh", md5(col("block")))
    val canon = blocks.groupBy(col("bh"))
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("first"))
    blocks.join(canon, "bh")
      .withColumn("keep",
        struct(col("doc_id"), col("block_idx")) === col("first"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_blocks")).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("block_idx"), col("block"))))),
          x => x.getField("block"))).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Exact-duplicate summary via content digest groupBy. */
  def exactSummary(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text"), 256).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("c")) - count(lit(1))).as("n_dup_docs"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))

  /** Pairwise shingle-set Jaccard ≥ threshold — an EXACT set-similarity
    * join, sub-quadratic via prefix filtering (Bayardo et al.'s AllPairs
    * / PPJoin candidate scheme; also the reference's semantics for
    * n-gram dedup):
    *
    *  1. order every document's distinct shingles by the global
    *     (df asc, shingle asc) total order — rarest first, so corpus
    *     boilerplate sinks to the END of every ordering;
    *  2. index only each doc's PREFIX, the first |A| − ⌈t·|A|⌉ + 1
    *     shingles: any pair with Jaccard ≥ t must share a prefix
    *     shingle (for J ≥ t, |B| ≥ t·|A|, so the required overlap
    *     ⌈t/(1+t)·(|A|+|B|)⌉ ≥ ⌈t·|A|⌉ — the standard prefix lemma),
    *     hence candidate generation is LOSSLESS while a boilerplate
    *     shingle (high df ⇒ last in every order ⇒ outside prefixes)
    *     contributes no candidates at all;
    *  3. exact-verify candidates over their full shingle sets.
    *
    * At t=0.5 the prefix is ~half of each set, cutting candidate pairs
    * ~4× on the test corpus with zero recall loss (1.13M → ~290k at
    * sf0.1); on a boilerplate-heavy web corpus the df-ordering is what
    * keeps the join sub-quadratic. The pair table is returned
    * checkpointed; the shingle frame and the rarest-first ordering are
    * cached for the call only ([[Scoped]]).
    */
  /** FP-conservative slack for threshold·count arithmetic: `t·n` in IEEE
    * double can land an ulp ABOVE the exact rational (0.55·100 =
    * 55.000000000000007), which would shorten the prefix below the
    * lemma's bound and drop J == t boundary pairs from the size prune.
    * Subtracting EPS before ceil/compare keeps both bounds conservative
    * (never tighter than exact arithmetic) for any n up to ~1e9; being
    * up to EPS too loose only admits a few extra candidates, which the
    * exact verify then rejects — losslessness is preserved either way.
    */
  private val ThresholdEps = 1e-7

  /** Half-width of the 6-dp VERIFY rounding window (round-13 advice):
    * every pair verify in this family compares `round(sim, 6) >= t`,
    * which accepts true similarity as low as t − 5e-7 — so each
    * candidate filter (prefix length, size-ratio prune) must stay
    * lossless down to t − 5e-7, not just to t. The prefix/prune bounds
    * therefore use `t − RoundHalfWidth` in place of t; because the
    * slack scales the set size inside ⌈t·n⌉, this widens a prefix by
    * at most one position per million shingles (and the size prune by
    * the same hair), and the extra candidates die in the exact verify
    * — outputs are unchanged, the losslessness guarantee now covers
    * the round-up window the verify actually admits.
    */
  private val RoundHalfWidth = 5e-7

  /** Shared verification tail: join each candidate pair to its full
    * shingle arrays, exact Jaccard, threshold filter, canonical output.
    * Single definition so rounding scale, threshold semantics and
    * ordering cannot drift between the dedup variants (all three are
    * oracle-checked against the same SQL shape).
    */
  /** Benchmark decontamination — flag training documents that overlap a
    * benchmark/eval set by at least `minShared` distinct word n-grams
    * (the standard contamination check an LLM data pipeline runs before
    * training; n-gram overlap is how GPT-3/PaLM-style reports define
    * contamination). Shape at 100 TB: the benchmark side reduces to a
    * DISTINCT shingle set (eval suites are tiny next to the corpus);
    * the check is one inverted-index equi-join on shingle followed by a
    * per-doc count — no doc×doc comparison anywhere, and corpus docs
    * sharing nothing with the benchmark drop out at the join.
    */
  def contaminationFlags(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, minShared: Int = 3): DataFrame = {
    val d = shingles(docs, n)
    val b = shingles(benchmark, n).select(col("shingle")).distinct()
    val shared = d.join(b, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // shingles() is distinct per doc
    docs.select(col("doc_id")).join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Per-SOURCE contamination rollup — [[contaminationFlags]] grouped
    * by provenance: which source (crawl, dump, feed) carries the
    * benchmark leakage. The per-doc flag table says WHAT to quarantine;
    * this says WHERE it keeps coming from — the actionable review is
    * usually "stop ingesting that source" or "add the gate to that
    * feed", not doc-by-doc surgery. Output per source: doc count,
    * contaminated count, 6-dp contamination rate, and total shared
    * grams (severity mass, not just incidence).
    *
    * Shape at 100 TB: the flags plan unchanged (benchmark vocabulary
    * join + per-doc count), then ONE map-side-combinable rollup on the
    * tiny source key — the source column rides the doc_id projection
    * into the final aggregate; nothing new crosses an exchange.
    */
  def contaminationBySource(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, minShared: Int = 3): DataFrame = {
    val flags = contaminationFlags(docs, benchmark, n, minShared)
    docs.select(col("doc_id"), col("source")).join(flags, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_shared")).as("shared_grams"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_docs"), 6)
          .as("contamination_rate"),
        col("shared_grams"))
      .orderBy(col("source"))
  }

  /** Asymmetric CONTAINMENT pairs — the near-dup geometry both Jaccard
    * and MinHash-LSH structurally miss: a short document quoted whole
    * inside a long one has containment |A∩B|/min(|A|,|B|) ≈ 1 while
    * Jaccard ≈ |A|/|B| ≈ 0 (and minhash collision probability IS
    * Jaccard, so banding never proposes the pair). Wrapper pages,
    * quote-expansions and scraped-with-chrome copies are exactly this
    * shape, and they leak eval items into training corpora while
    * passing every symmetric dedup gate.
    *
    * EXACT sub-quadratic path, adapted from the Jaccard prefix filter
    * (losslessness): for any pair, let S be the smaller shingle set;
    * containment ≥ t needs c ≥ ⌈t·|S|⌉ shared shingles, so S's prefix
    * of its |S| − ⌈t·|S|⌉ + 1 globally-rarest shingles must contain a
    * shared one — otherwise every shared shingle sits in the
    * ⌈t·|S|⌉ − 1 suffix positions, fewer than c. Hence prefix(S)
    * joined against the FULL inverted index proposes every qualifying
    * pair (each doc plays the potential smaller side; the size prune
    * of the symmetric filter does NOT apply — size asymmetry is the
    * point). Join mass is Σ prefix-occurrences × df, kept small by
    * the same rarest-first ordering that keeps boilerplate shingles
    * OUT of prefixes; the verify tail re-checks exactly, so the
    * result equals the brute-force definition (which is what the
    * oracle computes). Same ThresholdEps float-guard discipline as
    * the Jaccard path.
    *
    * The mass bound is ENFORCED, not advisory (the idfCosinePairs
    * discipline): the candidate join's work Σ_prefix-occurrence df is
    * computable from the df table the plan already builds for the
    * rarest-first ordering, so the prefix frame carries an in-plan
    * [[Partitioning.requireBoundedMass]] sentinel that refuses above
    * `maxJoinMass` BEFORE any candidate row forms. A boilerplate-heavy
    * corpus (one near-universal shingle landing in a short doc's
    * prefix) is exactly the shape that blows this join up — the
    * refusal names the mitigations (pre-filter high-df shingles, or
    * raise the cap knowingly).
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      maxJoinMass: Long = 100000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must lie in (0, 1], got $threshold")
    // Persistence policy (measured, round-12): `inv` is the EXPLODED
    // (doc, shingle) stream — corpus × doc-length rows — and it is NOT
    // persisted at all: shingles() is a narrow codegen projection, so
    // its three consumers (df aggregate, rarest-first sort, candidate
    // join probe side) re-derive it from the scan for less than the
    // cost of materializing it once. localCheckpoint here is actively
    // WRONG at scale: checkpoint blocks are non-evictable, and pinning
    // a corpus-sized frame starved concurrent join tasks into
    // executor heap-space OOM on the 200k growth-probe lane (the
    // bigramLm/dupEvidence checkpoint discipline is for BOUNDED
    // frames — model tables, one-row-per-doc aggregates — never an
    // exploded token stream). `sorted` below is the expensive
    // aggregate with three consumers; the returned plan caches none of
    // it (the contract query at sf0.001: 18 jobs per call, 24 with
    // `sorted` cached and the result checkpointed).
    val inv = shingles(docs, n)
    val dfAgg = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val sorted = inv.join(dfAgg, "shingle")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ds"))
      .select(col("doc_id"),
        transform(col("ds"), e => e.getField("shingle")).as("sh"),
        size(col("ds")).as("n_sh"))
      .withColumn("p",
        (col("n_sh") - ceil(lit(threshold - RoundHalfWidth) * col("n_sh")
          - lit(ThresholdEps)) + 1).cast("int"))
    // each prefix occurrence of a shingle with document frequency df
    // contributes df candidate rows — Σ df over this frame IS the join
    // mass; the sentinel rides the frame the candidate join consumes
    val prefix = Partitioning.requireBoundedMass(
      sorted.select(col("doc_id"),
          explode(slice(col("sh"), lit(1), col("p"))).as("shingle"))
        .join(dfAgg, "shingle"),
      col("df"), "containmentPairs", maxJoinMass,
      "the prefix × full-inverted-index candidate join pays " +
        "Σ prefix-occurrences × df; exact-dedup first (keepCanonical " +
        "collapses the copy floods that inflate df), pre-filter " +
        "high-df boilerplate shingles, or raise maxJoinMass knowingly")
      .select(col("doc_id"), col("shingle"))
    val candidates = prefix.as("a").join(inv.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val sh = sorted.select(col("doc_id"), col("sh"), col("n_sh"))
    candidates
      .join(sh.toDF("doc_a", "sha", "na"), "doc_a")
      .join(sh.toDF("doc_b", "shb", "nb"), "doc_b")
      .withColumn("n_shared",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("containment", round(col("n_shared").cast("double") /
        least(col("na"), col("nb")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        col("n_shared"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** INCREMENTAL containment gate — [[containmentPairs]]' geometry in
    * the batch-vs-history shape of [[incrementalFlags]]: production
    * ingest is incremental, and a full-corpus containment pass per
    * batch would rescan everything already shipped. Every incoming
    * document gets a TOTAL verdict row (the contaminationGate
    * discipline — a missing verdict reads as clean): its distinct
    * shingle count, how many HISTORY documents it hits at containment
    * ≥ t (containment = |A∩B| / min(|A|,|B|), the same measure as the
    * full-corpus pass), the max containment seen, and the composed
    * `contained` flag. Catches both leak directions — an incoming doc
    * quoted whole inside history (eval item re-ingested) AND an
    * incoming wrapper page around an existing doc.
    *
    * EXACT sub-quadratic path, cross-table adaptation of the
    * containmentPairs prefix filter: any qualifying pair must share a
    * shingle inside the SMALLER side's |S| − ⌈t·|S|⌉ + 1 prefix under
    * a total order BOTH sides use (else all shared shingles would sit
    * in the ⌈t·|S|⌉ − 1 suffix, fewer than the ⌈t·|S|⌉ required) — and
    * losslessness holds under ANY shared total order, so the order can
    * be chosen for COST alone: (history df, shingle). That choice is
    * what keeps the layout incremental — the history side's df table,
    * sorted-prefix index and inverted index depend only on history, so
    * an ingest pipeline persists them once (the [[persistDedupIndex]]
    * posture) and every batch just looks its own shingles up in the
    * persisted df table (batch-novel shingles get df 0 = rarest, and
    * contribute ZERO candidate rows against history's index). Both
    * candidate directions run: prefix(batch) × history's full inverted
    * index (covers |A| ≤ |B|) and prefix(history) × the BATCH's full
    * inverted index (covers |B| ≤ |A| — history-side prefix rows
    * surviving only where the batch vocabulary matches, a broadcast-
    * sized prune at real batch:corpus ratios). The verify tail
    * re-checks exactly, so the result equals the brute-force
    * definition the oracle computes.
    *
    * Both candidate joins inherit the ENFORCED mass discipline: each
    * prefix frame carries an in-plan [[Partitioning.requireBoundedMass]]
    * sentinel on Σ prefix-occurrences × other-side df, refusing above
    * `maxJoinMass` BEFORE any candidate row forms, with the same
    * named mitigations as the full-corpus pass.
    *
    * `directions` is the COST dial (round-13 handoff): at a real
    * ingest ratio (batch ≪ history) the history-prefix pass dominates
    * the gate's cost while its leak direction — an incoming WRAPPER
    * page around an existing doc — is one many pipelines knowingly
    * exclude (wrappers are caught by the full-corpus pass at release
    * time). `"both"` (default) is the safe semantics above;
    * `"batch"` restricts the verdict to pairs where the INCOMING doc
    * is the smaller-or-equal side (containment = c/|A|, |A| ≤ |B| —
    * "is this incoming doc quoted inside history?") and skips the
    * history-prefix pass entirely; `"history"` is the mirror (|B| ≤
    * |A| — wrapper detection only), skipping the batch-prefix pass.
    * Each single-direction mode is still EXACT for its restricted
    * predicate: the restriction makes the surviving side's prefix the
    * smaller side's prefix, which is precisely what the lemma needs,
    * so the brute-force oracle over the same size-restricted predicate
    * matches row-for-row.
    *
    * The batch-sized verdict frame is returned checkpointed, and every
    * per-call cache is released on the way out ([[Scoped]]).
    */
  def containmentGateIncremental(incoming: DataFrame, history: DataFrame,
      threshold: Double, n: Int = 3,
      maxJoinMass: Long = 100000000L,
      directions: String = "both"): DataFrame = {
    requireGateArgs(threshold, directions)
    Scoped { s =>
      // three consumers (the df aggregate, the sorted-base build, and
      // direction 1's probe join) re-shingled history text per consumer
      // without this cache (round-16 profile). The gate's consumers plan
      // as concurrent stages, and concurrent first-touch of a lazy cache
      // recomputes it once per scanning stage (round-16 profile), so
      // both history frames are pinned, histInv before dfHist over it
      val histInv = s.pin(shingles(history, n)
        .select(col("doc_id").as("hist_id"), col("shingle")))
      // the shared total order: history df (the persisted artifact);
      // batch-novel shingles coalesce to df 0 = rarest-first.
      // Vocabulary-sized, three consumers (both sorted-base builds and
      // the batch-prefix join) — and with an InMemoryRelation below it
      // AQE exchange reuse never fires (round-15 finding), so uncached
      // it would re-aggregate once per consumer
      val dfHist = s.pin(
        histInv.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
      containmentGateOverArtifacts(s, incoming,
        dfHist, containmentSortedBase(histInv, "hist_id", dfHist), histInv,
        threshold, n, maxJoinMass, directions)
    }
  }

  /** The gate's argument checks, run before any job. */
  private def requireGateArgs(threshold: Double, directions: String): Unit = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must lie in (0, 1], got $threshold")
    require(Set("both", "batch", "history")(directions),
      s"""directions must be "both", "batch" or "history", got $directions""")
  }

  /** One (id, sh, n_sh) row per document, shingles in the shared
    * (df, shingle) rarest-first order — the gate's sortable base WITHOUT
    * the threshold-dependent prefix length, which is what a persisted
    * layout stores (one layout serves any probe threshold).
    */
  private def containmentSortedBase(inv: DataFrame, idCol: String,
      dfHist: DataFrame): DataFrame = inv
    .join(dfHist, Seq("shingle"), "left")
    .select(col(idCol), struct(coalesce(col("df"), lit(0L)).as("df"),
      col("shingle").as("shingle")).as("e"))
    .groupBy(col(idCol))
    .agg(array_sort(collect_list(col("e"))).as("ds"))
    .select(col(idCol),
      transform(col("ds"), e => e.getField("shingle")).as("sh"),
      size(col("ds")).as("n_sh"))

  /** The gate over PREPARED history artifacts: the df order table, the
    * sorted base, and the (hist_id, shingle) inverted index — the
    * from-text path passes its shingle stream (narrow, re-derivable),
    * the persisted path a one-explode view of the stored sorted table,
    * so neither pays an aggregate it doesn't need.
    */
  private def containmentGateOverArtifacts(s: Scoped, incoming: DataFrame,
      dfHist: DataFrame, histBase: DataFrame, histInv: DataFrame,
      threshold: Double, n: Int,
      maxJoinMass: Long,
      directions: String): DataFrame = {
    // batch-sized, three consumers (its sorted base, the dfInc
    // aggregate, direction 2's probe join)
    val incInv = s.cache(shingles(incoming, n))
    def withP(df: DataFrame): DataFrame = df
      .withColumn("p",
        (col("n_sh") - ceil(lit(threshold - RoundHalfWidth) * col("n_sh")
          - lit(ThresholdEps)) + 1).cast("int"))
    // batch-sized: feeds its prefix, the verify join and the rollup
    val incSorted =
      s.cache(withP(containmentSortedBase(incInv, "doc_id", dfHist)))
    // corpus-sized but bounded (one row per history doc); two
    // consumers (its prefix + the verify join) — cache(), evictable,
    // the containmentPairs `sorted` policy
    val histSorted = s.cache(withP(histBase))
    def prefixOf(sorted: DataFrame, idCol: String): DataFrame =
      sorted.select(col(idCol),
        explode(slice(col("sh"), lit(1), col("p"))).as("shingle"))
    // batch df for the history-prefix direction's mass (tiny frame)
    val dfInc = incInv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val remedy = "the prefix × full-inverted-index candidate join pays " +
      "Σ prefix-occurrences × df; exact-dedup the batch first " +
      "(keepCanonical), pre-filter high-df boilerplate shingles, or " +
      "raise maxJoinMass knowingly"
    // direction 1: incoming doc is the smaller side — its prefix
    // probes history's full inverted index (skipped entirely in
    // "history" mode: its leak direction is excluded by definition)
    val cand1 = if (directions == "history") None else Some {
      // INNER on the df table (round 16, was left + coalesce(df, 0)):
      // a batch-prefix shingle absent from history's vocabulary has
      // df 0 — zero mass AND zero matches in histInv — so dropping it
      // here changes neither the mass sum nor the candidate set, and
      // on a mostly-novel ingest (the 100 TB shape) it stops the
      // history-novel majority of prefix rows riding the candidate
      // join's exchange (guide §2.3)
      val incPrefix = Partitioning.requireBoundedMass(
        prefixOf(incSorted, "doc_id")
          .join(dfHist, Seq("shingle"))
          .select(col("doc_id"), col("shingle"), col("df")),
        col("df"), "containmentGateIncremental(batch prefix)", maxJoinMass,
        remedy).select(col("doc_id"), col("shingle"))
      incPrefix.join(histInv, "shingle")
        .select(col("doc_id"), col("hist_id"))
    }
    // direction 2: the history doc is the smaller side — its prefix
    // probes the BATCH's inverted index (batch-vocabulary-bounded);
    // skipped entirely in "batch" mode — the cost dial's whole point
    val cand2 = if (directions == "batch") None else Some {
      // INNER on the batch df (round 16, was left + coalesce(df, 0)):
      // a history-prefix shingle outside the BATCH vocabulary has df 0
      // and matches nothing in incInv — identical mass sum, identical
      // candidates, and the batch-vocabulary prune this join already
      // implies now lands BEFORE the candidate exchange instead of
      // after it. At a real batch ≪ history ratio this is the gate's
      // dominant shuffle (guide §2.3)
      val histPrefix = Partitioning.requireBoundedMass(
        prefixOf(histSorted, "hist_id")
          .join(dfInc, Seq("shingle"))
          .select(col("hist_id"), col("shingle"), col("df")),
        col("df"), "containmentGateIncremental(history prefix)", maxJoinMass,
        remedy).select(col("hist_id"), col("shingle"))
      histPrefix.join(incInv, "shingle")
        .select(col("doc_id"), col("hist_id"))
    }
    val candidates = (cand1.toSeq ++ cand2.toSeq)
      .reduce(_ unionByName _).distinct()
    // single-direction modes verify their size-restricted predicate —
    // exactly the region their surviving prefix pass is lossless for
    val sizeGuard: Column = directions match {
      case "batch"   => col("na") <= col("nb")
      case "history" => col("nb") <= col("na")
      case _         => lit(true)
    }
    val verified = candidates
      .join(incSorted.select(col("doc_id"), col("sh").as("sha"),
        col("n_sh").as("na")), "doc_id")
      .join(histSorted.select(col("hist_id"), col("sh").as("shb"),
        col("n_sh").as("nb")), "hist_id")
      .filter(sizeGuard)
      .withColumn("n_shared",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("containment", round(col("n_shared").cast("double") /
        least(col("na"), col("nb")).cast("double"), 6))
      .filter(col("containment") >= threshold)
    val hits = verified.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        max(col("containment")).as("max_containment"))
    val flags = incoming.select(col("doc_id"))
      .join(incSorted.select(col("doc_id"), col("n_sh")), Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0)).cast("long").as("n_sh"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("max_containment"), lit(0.0)).as("max_containment"))
      .withColumn("contained", col("n_hits") > 0)
      .orderBy(col("doc_id"))
    // batch-sized: materialized before the scope drops the per-call
    // caches (histSorted is corpus-sized)
    flags.localCheckpoint(true)
  }

  /** Layout root for the persisted containment-index contract query
    * (the [[indexDumpPath]] convention). SINGLE-PROCESS ASSUMPTION
    * (round-14 advice): this default is a fixed path shared by Bench,
    * Verify, DeterminismProbe and PlanDump, each of which REBUILDS the
    * layout — two such processes running concurrently race the
    * rebuild, and while the manifest marker makes a torn read REFUSE
    * rather than return wrong data, the loser can fail intermittently.
    * The harness runs these mains one at a time; anything running them
    * concurrently must point each process at its own root via the
    * `graft.containment.index.dump` sys-prop (same contract for every
    * `*DumpPath` in this family).
    */
  val containmentIndexDumpPath: String =
    sys.props.getOrElse("graft.containment.index.dump",
      "/tmp/graft_oracle_containment_index")

  /** Materialize the containment gate's history artifacts under
    * `path` — the persist-once posture the gate's scaladoc promises,
    * made real: `df/` (shingle, df — the shared total order) and
    * `sorted/` (hist_id, sh, n_sh — each history doc's shingles in
    * that order) parquet tables, with the shingle width n in the
    * [[LayoutManifest]] (part of the LAYOUT: a probe shingling at a
    * different n would match nothing). The prefix length is NOT
    * stored — it is threshold-dependent and derived per probe, so one
    * layout serves any threshold.
    *
    * APPEND-CAPABLE: [[appendContainmentIndex]] lands accepted batches
    * as committed [[LayoutManifest]] batches, and the probe reads the
    * committed view. This is EXACT, not
    * staleness-bounded, because the gate's losslessness never needed
    * the CURRENT df order in the first place — see the exactness
    * argument on [[appendContainmentIndex]]. The df order is purely
    * the candidate-MASS heuristic; appends let it drift on the docs
    * they didn't touch, and [[compactContainmentIndex]] restores it
    * corpus-wide without rescanning raw text. A rebuild drops
    * committed append batches (re-derivable from the corpus the
    * rebuild scanned).
    */
  def persistContainmentIndex(history: DataFrame, path: String,
      n: Int = 3): Unit =
    // the [[LayoutManifest]] rebuild: one that dies between the two
    // table writes leaves a manifest-less layout the probe refuses,
    // never a batch sorted by the NEW df order verified against the
    // OLD arrays (which would break the shared-total-order premise
    // silently)
    containmentLayout.rebuild(history.sparkSession, path, "n" -> n) {
      Scoped { s =>
        val histInv = shingles(history, n)
          .select(col("doc_id").as("hist_id"), col("shingle"))
        val dfHist = s.cache(
          histInv.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
        dfHist.write.mode("overwrite").parquet(s"$path/df")
        containmentSortedBase(histInv, "hist_id", dfHist)
          .write.mode("overwrite").parquet(s"$path/sorted")
      }
    }

  private val containmentLayout =
    LayoutManifest("containment-index", "persistContainmentIndex")

  /** Append an accepted history batch to a [[persistContainmentIndex]]
    * layout — the daily-crawl ingest lane that was the family's one
    * missing member. The batch's two tables are one [[LayoutManifest]]
    * append batch — a reader never sees a batch whose df counts arrived
    * but whose sorted arrays did not. The shingle width comes from the
    * layout's manifest; an append can never shingle inconsistently
    * with the base index.
    *
    * WHY THIS IS EXACT (not staleness-bounded): the gate's two
    * candidate passes each join one side's PREFIX against the OTHER
    * side's FULL inverted index — never prefix × prefix — and for ANY
    * fixed ordering of a doc's shingle set, a pair sharing
    * ≥ t·min(|A|,|B|) shingles must place at least one shared shingle
    * inside the smaller side's length-(n−⌈t·n⌉+1) prefix (pigeonhole:
    * were all shared shingles outside it, the overlap would be
    * ≤ ⌈t·n⌉−1 < t·n). The verify is an exact set intersection. So
    * the shared-looking df order was never a correctness premise —
    * only the candidate-MASS heuristic (rarest-first prefixes join
    * against the fewest occurrences). Appends keep base docs' arrays
    * in their build-era order (lossless) and sort the new batch by
    * the committed df view as of the append (the freshest available);
    * [[compactContainmentIndex]] re-sorts the whole layout to the
    * folded df, restoring the heuristic corpus-wide. df itself stays
    * EXACT under appends because it is additive: the committed view
    * re-aggregates base + batch counts per shingle.
    */
  def appendContainmentIndex(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val Seq(n) = containmentLayout.fields(spark, path, "n")
    // the pre-append committed df view, for the new docs' sort order —
    // read BEFORE this batch commits, so batch-novel shingles coalesce
    // to df 0 (rarest-first position; order is heuristic-only anyway)
    val dfView = containmentDfView(spark, path,
      containmentLayout.committed(spark, path))
    containmentLayout.append(spark, path) { dir =>
      Scoped { s =>
        val batchInv = s.cache(shingles(batch, n)
          .select(col("doc_id").as("hist_id"), col("shingle")))
        batchInv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .write.parquet(s"$dir/df")
        containmentSortedBase(batchInv, "hist_id", dfView)
          .write.parquet(s"$dir/sorted")
      }
    }
  }

  /** The committed EXACT df view of a containment layout: base df plus
    * every committed batch's df, re-aggregated per shingle —
    * vocabulary-sized, never corpus-sized, and exact because document
    * frequency is additive over disjoint-doc batches.
    */
  private def containmentDfView(spark: org.apache.spark.sql.SparkSession,
      path: String, batches: Seq[String]): DataFrame =
    indexTable(containmentLayout, spark, path, "df", batches)
      .groupBy(col("shingle")).agg(sum(col("df")).as("df"))

  /** One table of a Dedup-family layout over its base and `batches`. */
  private def indexTable(layout: LayoutManifest,
      spark: org.apache.spark.sql.SparkSession, path: String, table: String,
      batches: Seq[String]): DataFrame =
    layout.view(path, table, batches)(spark.read.parquet(_))

  /** Compact a [[persistContainmentIndex]] layout: fold every batch
    * committed at the snapshot into the two base tables — df by exact
    * additive re-aggregation, and the sorted arrays REBUILT in the
    * folded df order by exploding the stored arrays back to rows and
    * re-running the build's own sort (no raw-text scan anywhere). This
    * is what restores the rarest-first candidate-mass heuristic that
    * append-era orders let drift; the compacted tables are
    * row-identical to a fresh rebuild over the same corpus (pinned in
    * DedupSpec). The [[LayoutManifest]] compaction publishes the
    * fold; the manifest (shingle width) never changes in it.
    */
  def compactContainmentIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    containmentLayout.compact(spark, path, "df", "sorted") { (snapshot, staged) =>
      Scoped { s =>
        val dfFolded = s.cache(containmentDfView(spark, path, snapshot))
        dfFolded.write.parquet(staged("df"))
        containmentSortedBase(
          indexTable(containmentLayout, spark, path, "sorted", snapshot)
            .select(col("hist_id"), explode(col("sh")).as("shingle")),
          "hist_id", dfFolded)
          .write.parquet(staged("sorted"))
      }
    }

  /** [[containmentGateIncremental]] against a [[persistContainmentIndex]]
    * layout — verdict-identical to the from-text gate over the same
    * history INCLUDING committed appends (the artifacts ARE the gate's
    * internal frames, the df view is exact by additivity, and the
    * candidate passes are order-lossless — see
    * [[appendContainmentIndex]]; spec-pinned in every `directions`
    * mode), with NO history text scanned per batch: the probe reads
    * the committed view of the two bounded tables, shingles only the
    * batch, and pays the same candidate/verify joins. An uncommitted
    * append batch is invisible. This is the shape a production ingest
    * loop runs every batch.
    */
  def containmentGateIncrementalPersisted(incoming: DataFrame,
      path: String, threshold: Double,
      maxJoinMass: Long = 100000000L,
      directions: String = "both"): DataFrame = {
    requireGateArgs(threshold, directions)
    val spark = incoming.sparkSession
    val Seq(n) = containmentLayout.fields(spark, path, "n")
    val batches = containmentLayout.committed(spark, path)
    val sortedBase = indexTable(containmentLayout, spark, path, "sorted", batches)
    Scoped { s =>
      // vocabulary-sized re-aggregate over the committed df tables; two
      // consumers (the batch sorted-base build and the batch-prefix
      // join), pinned like the from-text gate's history frames
      val dfView = s.pin(containmentDfView(spark, path, batches))
      containmentGateOverArtifacts(s, incoming,
        dfView, sortedBase,
        // the inverted index is one narrow explode of the stored arrays
        // (set-identical to shingling history) — the layout never stores
        // the same rows twice
        sortedBase.select(col("hist_id"), explode(col("sh")).as("shingle")),
        threshold, n, maxJoinMass, directions)
    }
  }

  /** Process-level history-layout memo (the [[KMeansIndex.buildCached]]
    * discipline): in production the gate's history artifacts are
    * persisted ONCE per history release ([[persistContainmentIndex]])
    * and probed every ingest batch, so the graded ingest-shape lane
    * times the probe against prepared artifacts instead of re-deriving
    * the history index from raw text per rep (round-15 verdict #4).
    * The one-time build stays visible in the bench's `lifecycle` total
    * (containment_incremental_persisted re-runs persist+append every
    * rep). Keyed on the caller's corpus key + shingle width; the
    * layout lands under its own md5-suffixed root beside
    * [[containmentIndexDumpPath]] (so the same sys-prop relocates it),
    * which the lifecycle lanes rebuilding the dump path itself can
    * never invalidate mid-process; a fresh process always rebuilds it
    * from the parquet inputs before reading.
    */
  private val containmentLayoutMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), String]

  def containmentIndexCached(history: DataFrame, corpusKey: String,
      n: Int = 3): String =
    containmentLayoutMemo.getOrElseUpdate((corpusKey, n), {
      val md = graft.functions.HashUtil.md5Digest
      val tag = graft.functions.HashUtil.md5Hex(md, s"$corpusKey#$n")
      val path = s"${containmentIndexDumpPath}_probe_$tag"
      persistContainmentIndex(history, path, n)
      path
    })

  /** STREAMING-safe contamination gate — the ingest-time form of
    * [[contaminationFlags]]: every arriving document gets an immediate
    * verdict against a FIXED benchmark vocabulary (eval suites change
    * per release, not per micro-batch). The whole gate is ONE
    * STATELESS projection — per-row shingling + a membership count
    * against the broadcast vocabulary — so it runs identically under
    * `readStream` (no watermark, no state store, no aggregation) and
    * in batch, and stream/batch parity is by-construction (pinned in
    * StreamingIngestSpec). Exact string membership, not a Bloom
    * filter: the vocabulary is eval-suite-sized, and exactness is
    * what lets the DuckDB oracle replay the verdict bit-for-bit.
    *
    * Shape at 100 TB: the corpus-sized side never aggregates — each
    * task consumes the broadcast set (~60 MB at 10⁶ 8-grams; swap in
    * a 48-bit-hash set to shrink 8× if an eval battery ever outgrows
    * it). The vocabulary build is one distinct over the benchmark's
    * shingles with the driver transfer plan-capped at maxVocab + 1
    * rows (the [[Kmv.groupSketches]] discipline — the cap binds
    * BEFORE the collect). The default cap is the 10⁶ the sizing above
    * is computed FOR — the cap exists to protect the driver and the
    * executors' broadcast memory, so it must match the stated
    * envelope, not sit 5× above it; callers with a bigger eval
    * battery raise it knowingly against their own heap budget.
    * Short/NULL texts gate as n_shared = 0: an ingest gate must emit
    * a verdict for every row it admits.
    */
  def contaminationGate(incoming: DataFrame, benchmark: DataFrame,
      n: Int = 8, minShared: Int = 3, maxVocab: Int = 1000000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val vocabRows = shingles(benchmark, n)
      .select(col("shingle")).distinct()
      .limit(maxVocab + 1).collect()
    require(vocabRows.length <= maxVocab,
      s"contaminationGate: over $maxVocab distinct benchmark shingles " +
        "(maxVocab) - the gate broadcasts the eval vocabulary; shrink " +
        "the benchmark side or raise the cap knowingly")
    val vocab = vocabRows.map(_.getString(0)).toSet
    val bc = incoming.sparkSession.sparkContext.broadcast(vocab)
    val sharedUdf = udf { sh: Seq[String] =>
      sh.count(bc.value.contains).toLong }
    val out = incoming.select(col("doc_id"),
      sharedUdf(shingleArray(col("text"), n)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
    if (incoming.isStreaming) out else out.orderBy(col("doc_id"))
  }

  /** The EVAL-side contamination report — the complement of
    * [[contaminationFlags]] (which flags training docs): for each
    * benchmark/eval document, what fraction of its distinct word
    * n-grams appears ANYWHERE in the training corpus. This is the
    * table an eval owner reads to decide whether a benchmark item is
    * too leaked to keep reporting (the per-item "dirty" verdict in
    * GPT-3/PaLM-style contamination appendices) — the train-side flag
    * cannot answer it, because one heavily-copied eval item can be
    * the cause of thousands of individually-mild train flags.
    *
    * Shape at 100 TB: the benchmark's distinct shingle set is tiny
    * (eval suites) and BROADCASTS; the corpus-sized work is ONE
    * map-side broadcast semi-join pruning train shingles to those the
    * benchmark mentions — nothing corpus-sized ever crosses an
    * exchange, and the distinct that follows runs on the pruned
    * (benchmark-vocabulary-bounded) survivors only. Output per eval
    * doc: n_grams, n_shared, overlap_frac (6 dp), dirty.
    *
    * EVERY benchmark doc gets a row — including docs too short to
    * yield a single n-gram (n_grams = 0, overlap_frac = 0.0,
    * dirty = false). A report eval owners act on must not conflate
    * "not contaminated" with "not measured": a silently-missing row
    * reads as clean, so sub-n docs are surfaced with an explicit
    * zero-gram verdict instead (the contaminationGate discipline —
    * a verdict for every row admitted).
    */
  def evalContamination(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 8, dirtyFrac: Double = 0.5): DataFrame =
    evalContaminationCore(corpus, benchmark, n, dirtyFrac)
      .orderBy(col("bench_doc"))

  /** [[evalContamination]] without the readout sort — the composition
    * form [[contaminationDrift]] joins two of these, so the total
    * order belongs once at the composed readout, not under the join.
    */
  private def evalContaminationCore(corpus: DataFrame, benchmark: DataFrame,
      n: Int, dirtyFrac: Double): DataFrame = {
    require(dirtyFrac > 0 && dirtyFrac <= 1,
      s"dirtyFrac must lie in (0, 1], got $dirtyFrac")
    val b = shingles(benchmark, n)
    val bVocab = b.select(col("shingle")).distinct()
    // corpus-sized pass: broadcast the eval vocabulary, prune train
    // shingles map-side, then distinct the (tiny) survivor set
    val sharedVocab = shingles(corpus, n)
      .join(broadcast(bVocab), Seq("shingle"), "left_semi")
      .select(col("shingle")).distinct()
    val allBench = benchmark.select(col("doc_id")).distinct()
    // one aggregate pass over the benchmark shingles computes BOTH
    // per-doc counts: a broadcast left join against the (distinct,
    // benchmark-vocabulary-bounded) survivor set marks each shingle as
    // shared or not, and the groupBy folds total + shared together —
    // one join onto the allBench spine instead of two, and b is
    // scanned once instead of once per count.
    val perDoc = b
      .join(broadcast(sharedVocab.withColumn("__hit", lit(1))),
        Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0)).cast("long").as("n_shared"))
    allBench.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id").as("bench_doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_grams"), 6)).as("overlap_frac"))
      .withColumn("dirty", col("overlap_frac") >= dirtyFrac)
  }

  /** Cross-snapshot contamination DRIFT — [[evalContamination]] run
    * against two corpus releases and differenced per benchmark item:
    * "which eval items got dirtier in this release" is the trend an
    * eval owner actually watches (a static overlap table cannot
    * distinguish long-standing leakage from leakage the NEWLY INGESTED
    * data introduced — the latter is actionable at ingest review, the
    * former needs an eval-suite rotation). One row per benchmark doc:
    * both snapshots' shared-gram counts and 6-dp overlap fractions,
    * the 6-dp overlap delta, and `newly_dirty` — crossed the dirty
    * threshold in the new snapshot having been clean in the old.
    *
    * Shape at 100 TB: two independent [[evalContamination]] passes
    * (each one broadcast semi-join pruning its corpus map-side —
    * nothing corpus-sized crosses an exchange) meeting in ONE inner
    * equi-join on bench_doc, total by construction because BOTH sides
    * emit every benchmark doc_id (the zero-gram-verdict contract). The
    * join frame is benchmark-sized, i.e. tiny.
    */
  def contaminationDrift(oldCorpus: DataFrame, newCorpus: DataFrame,
      benchmark: DataFrame, n: Int = 8, dirtyFrac: Double = 0.5): DataFrame = {
    val old = evalContaminationCore(oldCorpus, benchmark, n, dirtyFrac)
      .select(col("bench_doc"), col("n_grams"),
        col("n_shared").as("n_shared_old"),
        col("overlap_frac").as("overlap_old"), col("dirty").as("dirty_old"))
    val nw = evalContaminationCore(newCorpus, benchmark, n, dirtyFrac)
      .select(col("bench_doc"), col("n_shared").as("n_shared_new"),
        col("overlap_frac").as("overlap_new"), col("dirty").as("dirty_new"))
    old.join(nw, "bench_doc")
      .withColumn("overlap_delta",
        round(col("overlap_new") - col("overlap_old"), 6))
      .withColumn("newly_dirty", col("dirty_new") && !col("dirty_old"))
      .select(col("bench_doc"), col("n_grams"),
        col("n_shared_old"), col("n_shared_new"),
        col("overlap_old"), col("overlap_new"),
        col("overlap_delta"), col("dirty_old"), col("dirty_new"),
        col("newly_dirty"))
      .orderBy(col("bench_doc"))
  }

  /** Resolve near-dup PAIRS into duplicate GROUPS: connected components
    * of the pair graph, labeled by each component's minimum doc_id. This
    * is the principled version of the pipeline's drop-the-larger-id rule
    * — a chain a—b, b—c lands a, b, c in ONE group even though (a, c)
    * was never emitted as a pair.
    *
    * Algorithm: min-label propagation with pointer jumping — every
    * vertex starts labeled with itself; each round (a) takes the min of
    * its own and its neighbors' labels, then (b) compresses through the
    * label itself: `label(v) ← min(label(v), label(label(v)))`. Step (a)
    * alone moves a label ONE hop per round (O(diameter) rounds — a long
    * dup chain would outrun any fixed cap); step (b) doubles the jump
    * distance each round, giving O(log diameter) convergence — the
    * standard distributed-CC shape (Kiveris et al.). A 25-round cap
    * therefore covers component diameters up to ~2^25 — unreachable.
    * Each round is two shuffle joins; `localCheckpoint` cuts the
    * growing lineage so round N doesn't replan rounds 1..N−1, and the
    * convergence check doubles as the per-round action. Compression
    * always joins onto a real vertex: labels only ever hold vertex ids.
    *
    * Small-graph fast path: after banding, the candidate pair graph is
    * normally a tiny fraction of the corpus — at or below
    * `driverEdgeLimit` edges (default 2^20 ≈ 16 MB of longs) the
    * components resolve on the driver with one union-find pass instead
    * of 2·rounds of shuffle jobs. The bound is what makes this scale-
    * honest: the DECISION reads one cached count, the collect is capped,
    * and past the cap the distributed propagation runs unchanged. Set
    * `driverEdgeLimit = 0` to force the distributed path.
    */
  def dupGroups(pairs: DataFrame, maxRounds: Int = 25,
      driverEdgeLimit: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    Scoped { s =>
      // cache the 2-column projection, not the doubled edge union: one
      // materialization prices the path decision, and both paths read it
      val p2 = s.cache(pairs.select(col("doc_a"), col("doc_b")))
      val nEdges = p2.count()
      if (driverEdgeLimit > 0 && nEdges <= driverEdgeLimit)
        driverGroups(spark, p2.collect().map(r => (r.getLong(0), r.getLong(1))))
      else propagateGroups(p2, maxRounds)
    }
  }

  /** Union-find with min-id roots — identical labeling to the
    * propagation: every vertex gets its component's minimum doc_id.
    */
  private def driverGroups(spark: org.apache.spark.sql.SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    // find is iterative: min-root unions (no union-by-rank) can build
    // O(n)-deep trees on adversarial edge order, and a recursive
    // compress would blow the stack at the 2^20 bound
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var y = x0
      while (parent(y) != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    // a self-pair (a, a) registers the vertex without a union — the
    // propagation path also emits (a, a) for it
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = parent.keys.map(v => (v, find(v))).toSeq
    spark.createDataFrame(rows).toDF("doc_id", "group_id")
      .orderBy(col("doc_id"))
  }

  /** The distributed min-label propagation over the cached `p2`; every
    * round's labels are checkpointed, so the result no longer reads it.
    */
  private def propagateGroups(p2: DataFrame, maxRounds: Int): DataFrame = {
    // doubled directed edges, recomputed per use from the cached p2 (a
    // union of two cached projections — cheaper than caching 2x rows)
    val edges = p2.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p2.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("label")), "dst")
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val stepped = labels
        .join(neighborMin.select(col("src").as("doc_id"), col("nlabel")), "doc_id")
        .select(col("doc_id"), col("label"),
          least(col("label"), col("nlabel")).as("mid"))
      // jump table: mid -> that vertex's OWN post-step label, so
      // next(v) = min(mid(v), mid(mid(v)))
      val jump = stepped.select(col("doc_id").as("mid"), col("mid").as("jump"))
      val compressed = stepped
        .join(jump, Seq("mid"))
        .select(col("doc_id"), col("label"),
          least(col("mid"), col("jump")).as("next"))
        .localCheckpoint()
      changed = compressed.filter(col("next") < col("label")).count()
      labels = compressed.select(col("doc_id"), col("next").as("label"))
      round += 1
    }
    labels.select(col("doc_id"), col("label").as("group_id"))
      .orderBy(col("doc_id"))
  }

  /** [[verifyPairs]] without the readout sort — the pair-family
    * composition core. Every PUBLIC pair operator sorts once at its
    * own exit; an evaluator composing two pair plans under a groupBy
    * ([[lshRecall]]) consumes this form so no range exchange + sort is
    * paid just to be destroyed by the aggregate above it.
    */
  private def verifyPairsCore(candidates: DataFrame, docSets: DataFrame,
                              threshold: Double): DataFrame =
    candidates
      .join(docSets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jaccard", round(jaccardUdf(col("sha"), col("shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  private def verifyPairs(candidates: DataFrame, docSets: DataFrame,
                          threshold: Double): DataFrame =
    verifyPairsCore(candidates, docSets, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The shared per-document distinct-shingle frame every pair family
    * starts from: (doc_id, sh) with empty-shingle docs dropped.
    * Spread first — single-file local sources arrive as one partition
    * and the UDF-heavy shingling would otherwise start single-threaded.
    * Callers own the cache decision: each scoped operator caches ONE
    * of these; [[lshRecall]] caches one and shares it across BOTH of
    * its sides instead of letting each side scan the corpus again.
    *
    * A per-row kernel runs after the spread, once. The empty-set test
    * reads the word count, not the shingle set: the optimizer pushes a
    * filter through the projection and the spread's exchange, so a
    * filter on `size(sh)` would shingle every document inside the one
    * scan task and again after the exchange. The two tests agree: the
    * shingle set is non-empty exactly when there are at least `n`
    * words, and a NULL text fails both.
    */
  private[graft] def docShingles(docs: DataFrame, n: Int): DataFrame =
    Partitioning.spread(docs)
      .filter(size(words(col("text"))) >= n)
      .select(col("doc_id"), shingleArray(col("text"), n).as("sh"))

  /** Prefix-filtered exact-Jaccard pair core over a CACHED
    * [[docShingles]] frame, UNSORTED — see [[ngramJaccardPairs]] for
    * semantics and the scale argument. Its one cache belongs to the
    * caller's scope, which must outlive every read of the result.
    */
  private def ngramJaccardCore(s: Scoped, docSh: DataFrame,
      threshold: Double): DataFrame = {
    // exact via prefix filtering: rarest-first order, prefix-only index.
    // inv feeds the df aggregation and the ordering join — the branches
    // cannot share an exchange (one has a partial aggregate below it),
    // so the explode is re-derived per branch from the cached docSh:
    // under lshRecall an extra inv cache tipped the memory balance the
    // wrong way (round-13 A/B on the 200k growth lane: 1.30 vs 1.01
    // per pair). Evictable cache(), never localCheckpoint (the
    // round-12 OOM lesson).
    val inv = docSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfAgg = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // one row per doc: shingles sorted by the global (df, shingle)
    // order + prefix length; cached — it feeds the prefix index and
    // both sides of the verify join (materialized columns are exactly
    // what all three consumers read, so nothing is over-computed)
    val sorted = s.cache(inv.join(dfAgg, "shingle")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ds"))
      .select(col("doc_id"),
        transform(col("ds"), e => e.getField("shingle")).as("sh"),
        size(col("ds")).as("n_sh"))
      .withColumn("p",
        (col("n_sh") - ceil(lit(threshold - RoundHalfWidth) * col("n_sh")
          - lit(ThresholdEps)) + 1).cast("int")))
    val prefix = sorted.select(col("doc_id"),
      explode(slice(col("sh"), lit(1), col("p"))).as("shingle"))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // lossless size-ratio prune before the array-shipping verify:
    // J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t, checked with two cheap int joins
    // (the columnar cache serves just (doc_id, n_sh) here)
    val sizes = sorted.select(col("doc_id"), col("n_sh"))
    val sized = candidates
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .filter(col("nb") >= lit(threshold - RoundHalfWidth) * col("na")
          - lit(ThresholdEps) &&
        col("na") >= lit(threshold - RoundHalfWidth) * col("nb")
          - lit(ThresholdEps))
      .select(col("doc_a"), col("doc_b"))
    verifyPairsCore(sized, sorted.select(col("doc_id"), col("sh")), threshold)
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      n: Int = 3): DataFrame = Scoped { s =>
    ngramJaccardCore(s, s.cache(docShingles(docs, n)), threshold)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
  }

  /** Blocked sorted-neighborhood candidate generation (Hernández &
    * Stolfo 1995) — the third candidate strategy beside LSH banding
    * and prefix filtering: sort each block by a caller-supplied key,
    * compare only rows within `window` positions of each other, then
    * exact-Jaccard verify the candidates. Where LSH's recall is
    * probabilistic and prefix filtering's cost tracks shingle df,
    * SNM's recall is governed by a DESIGNED sort key (near-dups must
    * sort adjacently) and its candidate count is a hard n·(window−1)
    * bound — the right tool when the corpus has a natural clustering
    * key (URL, title prefix, normalized lead sentence).
    *
    * Scale shape: the rank is `row_number` over (block, sortKey) — a
    * window WITH a partition key, one shuffle on block, per-block
    * sort only (a global sort-rank would collapse the corpus into one
    * task; block design is the caller's skew control). Neighbor pairs
    * come from an offset explode (each row probes its next window−1
    * positions) + an EQUI-join on (block, rank) — bounded fan-out,
    * no inequality join, no BroadcastNestedLoopJoin. Verification
    * reuses the shared exact-Jaccard tail, so only candidate pairs
    * ever ship shingle arrays.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, blockKey: Column => Column,
      sortKey: Column => Column, window: Int, threshold: Double,
      n: Int = 3): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must lie in (0, 1], got $threshold")
    val keyed = Partitioning.spread(docs)
      .select(col("doc_id"), blockKey(col("text")).as("__block"),
        sortKey(col("text")).as("__sort"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__block"))
          .orderBy(col("__sort"), col("doc_id"))))
      .select(col("doc_id"), col("__block"), col("__rn"))
    val probes = keyed.select(col("doc_id").as("id_lo"), col("__block"),
      explode(sequence(col("__rn") + 1, col("__rn") + lit(window - 1)))
        .as("__rn"))
    val cand = probes
      .join(keyed.select(col("doc_id").as("id_hi"), col("__block"), col("__rn")),
        Seq("__block", "__rn"))
      .select(least(col("id_lo"), col("id_hi")).as("doc_a"),
        greatest(col("id_lo"), col("id_hi")).as("doc_b"))
      .distinct()
    verifyPairs(cand, docShingles(docs, n), threshold)
  }

  import graft.functions.HashUtil.md5Hex

  /** Per-document LSH band digests, computed in one pass over the
    * shingle array (no k× row blowup, no signature shuffle): minhash(j)
    * = min over shingles of md5(j || ':' || shingle); band digest = md5
    * of the band's sorted "j=minhash" entries — byte-identical to the
    * SQL formulation the oracle runs.
    */
  /** The k-minima kernel every banding/signature UDF runs: per seed j,
    * min over shingles of md5("j:" + shingle), hex-encoded. Minima are
    * tracked as raw 16-BYTE digests — unsigned byte order IS
    * lowercase-hex string order, so the comparison is byte-identical —
    * and hex-encoded ONCE at the end: the k×|sh| inner loop allocates
    * no digest arrays and no hex strings (round-16 per-task pass; this
    * loop was the single largest task-time item of the LSH family, and
    * the hex/alloc overhead was ~40% of it). Empty input yields the
    * null-filled array the string form produced.
    */
  private def minhashMinsHex(sh: Seq[String], k: Int): Array[String] = {
    val md = graft.functions.HashUtil.md5Digest
    val prefixes = Array.tabulate(k)(j => s"$j:".getBytes("UTF-8"))
    val mins = Array.ofDim[Byte](k, 16)
    val buf = new Array[Byte](16)
    var first = true
    val it = sh.iterator
    while (it.hasNext) {
      val bytes = it.next().getBytes("UTF-8")
      var j = 0
      while (j < k) {
        md.reset(); md.update(prefixes(j)); md.update(bytes)
        md.digest(buf, 0, 16)
        if (first || java.util.Arrays.compareUnsigned(buf, mins(j)) < 0)
          System.arraycopy(buf, 0, mins(j), 0, 16)
        j += 1
      }
      first = false
    }
    if (first) new Array[String](k)
    else mins.map(graft.functions.HashUtil.hex)
  }

  private def bandKeysUdf(k: Int, bands: Int) = udf { sh: Seq[String] =>
    val mins = minhashMinsHex(sh, k)
    val md = graft.functions.HashUtil.md5Digest
    val rows = k / bands
    (0 until bands).map { b =>
      val keys = (b * rows until (b + 1) * rows).map(j => s"$j=${mins(j)}").sorted
      (b, md5Hex(md, keys.mkString("|")))
    }
  }

  /** Exact Jaccard over two distinct-shingle arrays. Deliberately a
    * UDF, not a `size(array_intersect)/…` expression: the verify
    * filter gets pushed into the join CONDITION while the output
    * projection keeps its own copy, and join conditions get no
    * subexpression elimination — the expression form evaluated
    * array_intersect FOUR times per joined row (twice in the
    * condition, twice in the projection; measured round 15:
    * dedup_ngram_jaccard 2.67 → 3.04 s) where the opaque UDF call
    * evaluates once per site. Internals tuned instead: hash the
    * SMALLER side into a java.util.HashSet (no scala Set boxing).
    */
  private val jaccardUdf = udf { (a: Seq[String], b: Seq[String]) =>
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    val hs = new java.util.HashSet[String](small.size * 2)
    small.foreach(hs.add)
    var inter = 0
    large.foreach(s => if (hs.contains(s)) inter += 1)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** The full k-row minhash signature (per-seed minimum of
    * md5(seed:shingle)) — [[bandKeysUdf]]'s `mins` array surfaced for
    * estimator calibration; byte-identical formulation.
    */
  private def minhashSigUdf(k: Int) = udf { sh: Seq[String] =>
    minhashMinsHex(sh, k).toSeq
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * SKETCH's Jaccard estimate (matching signature rows / k — the
    * Broder 1997 unbiased estimator, Var ≈ J(1−J)/k) next to the exact
    * Jaccard, with the absolute error. This is the evaluator that
    * answers "is k=16 enough for my threshold?" — the dedup-family
    * analogue of [[KMeansIndex.recallCurve]]: the sketch configuration
    * is a cost dial, and this table is what you tune it with.
    * Deliberately UNTHRESHOLDED (calibration wants sub-threshold
    * candidates too — that's where false positives live). Candidates
    * only — the n² non-candidate space is exactly what LSH exists to
    * skip, and absent pairs estimate ≈ 0 by construction. n_match/k is
    * a dyadic rational and both divisions are single IEEE ops, so the
    * error column is bit-portable across engines. The table is
    * returned checkpointed; the shingle frame and the band index are
    * cached for the call only.
    */
  def minhashEstimateError(docs: DataFrame, k: Int = 16,
      bands: Int = 4): DataFrame = Scoped { s =>
    val docSh = s.cache(docShingles(docs, 3))
    val candidates = bandedCandidates(s, bandKeysOf(docSh, "doc_id", k, bands))
    val sigs = docSh.select(col("doc_id"), minhashSigUdf(k)(col("sh")).as("sig"))
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / lit(k.toDouble)
    candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), est.as("est_raw"),
        jaccardUdf(col("sha"), col("shb")).as("ex_raw"))
      .select(col("doc_a"), col("doc_b"),
        round(col("est_raw"), 6).as("est_jaccard"),
        round(col("ex_raw"), 6).as("exact_jaccard"),
        round(abs(col("est_raw") - col("ex_raw")), 6).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
  }

  /** MinHash-LSH near-dup pairs: k=16 signature, 4 bands × 4 rows.
    * Candidates = pairs sharing any band digest (tiny (doc, band, key)
    * self-join); verified with exact Jaccard over the candidates' shingle
    * arrays only. Signatures are computed per-row — the only shuffles are
    * the candidate join and the verification join. The pair table is
    * returned checkpointed; the shingle frame and the band index are
    * cached for the call only ([[Scoped]]).
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
                      k: Int = 16, bands: Int = 4): DataFrame = Scoped { s =>
    minhashLshCore(s, s.cache(docShingles(docs, 3)), threshold, k, bands)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
  }

  /** [[minhashLshPairs]] without the readout sort — the pair-family
    * composition core (same discipline as [[verifyPairsCore]]): a
    * consumer that groups, joins or iterates over the pairs
    * (components, PageRank, triangles, histograms) destroys any order,
    * so feeding it the sorted public form pays a range exchange + sort
    * — and a range-partitioner SAMPLING pass over the whole verify
    * chain — for nothing. Row set is identical to [[minhashLshPairs]],
    * and it is returned checkpointed in the same way.
    */
  def minhashLshPairsCore(docs: DataFrame, threshold: Double,
                          k: Int = 16, bands: Int = 4): DataFrame = Scoped { s =>
    // small single-file inputs arrive as one partition — docShingles
    // spreads the hash-heavy signature computation across cores first
    minhashLshCore(s, s.cache(docShingles(docs, 3)), threshold, k, bands)
      .localCheckpoint(true)
  }

  /** Within-corpus candidate pairs from a band index self-join. The
    * band index is CACHED first: a self-join evaluates its subtree
    * once per side, and with an InMemoryRelation anywhere below the
    * join AQE's exchange reuse never fires (measured round 15 —
    * canonical plans stop matching), so without this cache the k×md5
    * banding UDF pass ran TWICE in every dup_* query and was their
    * dominant task-time. Cached, the UDF runs once into an evictable
    * ~4-rows/doc (long, int, hex32) frame both sides read; the join
    * strategy stays planner-chosen, so at 100 TB (band index far over
    * the broadcast threshold) the same code plans the shuffle join
    * with AQE skew handling. The band index is cached in the caller's
    * scope, as in [[ngramJaccardCore]].
    */
  private def bandedCandidates(s: Scoped, banded0: DataFrame): DataFrame = {
    val banded = s.cache(banded0)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private def minhashLshCore(s: Scoped, docSh: DataFrame, threshold: Double,
      k: Int, bands: Int): DataFrame =
    verifyPairsCore(
      bandedCandidates(s, bandKeysOf(docSh, "doc_id", k, bands)),
      docSh, threshold)

  /** Pair-level recall/precision of the MinHash-LSH path against the
    * EXACT prefix-filtered Jaccard ground truth at the same threshold
    * — the "measure, don't guess" companion to
    * [[minhashEstimateError]] (which calibrates the ESTIMATE; this
    * calibrates the CANDIDATE GENERATION). LSH banding is
    * probabilistic by design: a true pair whose signature never
    * collides in any band is silently absent, and the textbook
    * 1−(1−J^b)^r collision curve is an average, not a guarantee —
    * this evaluator reports what the configured (k, bands) actually
    * delivered on THIS corpus, which is the number a curation owner
    * needs before trusting the LSH path over the exact one at scale.
    * Precision is measured too rather than assumed: the LSH tail
    * verifies exact Jaccard, so precision < 1.0 would flag a
    * verification bug, not banding noise.
    *
    * Shape at 100 TB: both sides are the production sub-quadratic
    * plans (prefix-filtered exact, banded LSH) consumed in their
    * UNSORTED core form — the groupBy above would destroy a pair-table
    * sort, so none is paid — and both sides share ONE cached
    * [[docShingles]] frame: the corpus is scanned and shingled once,
    * not once per side. The comparison itself is one pair-keyed union
    * + groupBy over two pair-table-sized frames and a single global
    * fold — no new corpus-sized work, no nested loop.
    *
    * The one-row result is returned checkpointed, and every frame the
    * evaluation cached is released on the way out ([[Scoped]]).
    */
  def lshRecall(docs: DataFrame, threshold: Double,
      k: Int = 16, bands: Int = 4): DataFrame = Scoped { s =>
    val docSh = s.cache(docShingles(docs, 3))
    val exact = ngramJaccardCore(s, docSh, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("e"), lit(0L).as("l"))
    val lsh = minhashLshCore(s, docSh, threshold, k, bands)
      .select(col("doc_a"), col("doc_b"), lit(0L).as("e"), lit(1L).as("l"))
    val out = exact.unionByName(lsh)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("e")).as("e"), max(col("l")).as("l"))
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("e") * col("l")), lit(0L)).as("n_hit"))
      .select(lit(threshold).as("threshold"),
        col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") > 0,
          round(col("n_hit").cast("double") / col("n_exact"), 6))
          .otherwise(lit(0.0)).as("recall"),
        when(col("n_lsh") > 0,
          round(col("n_hit").cast("double") / col("n_lsh"), 6))
          .otherwise(lit(0.0)).as("precision"))
    out.localCheckpoint(true)
  }

  /** Band digests derived from an ALREADY-COMPUTED k-row minhash
    * signature — [[bandKeysUdf]]'s banding stage alone, byte-identical
    * formatting, so one signature pass can feed several band layouts
    * (the [[lshRecallCurve]] arms). `sig.length` must divide by bands.
    */
  private def bandKeysFromSigUdf(bands: Int) = udf { sig: Seq[String] =>
    val md = graft.functions.HashUtil.md5Digest
    val rows = sig.length / bands
    (0 until bands).map { b =>
      val keys = (b * rows until (b + 1) * rows).map(j => s"$j=${sig(j)}").sorted
      (b, md5Hex(md, keys.mkString("|")))
    }
  }

  /** The OPERATING-POINT sweep behind [[lshRecall]] — recall/precision
    * of SEVERAL band layouts over the same k-row signature against the
    * same exact ground truth, one row per layout (the
    * [[KMeansIndex.recallCurve]] pattern applied to candidate
    * generation): banding is the cost/recall dial (per-band collision
    * probability is J^(k/bands), so more bands of fewer rows = more
    * candidates = higher recall, costlier verification), and the dial
    * should be set from a measured curve on THIS corpus, not the
    * textbook average. [[lshRecall]] measures the configured point;
    * this measures the alternatives without re-hashing anything.
    *
    * Shape at 100 TB: ONE shared [[docShingles]] frame, ONE exact
    * ground-truth pass (the production prefix-filtered plan, unsorted
    * core), ONE k-row signature pass (the per-arm digests are derived
    * from the cached signature arrays — the expensive k×md5-per-
    * shingle work is never repeated); each arm adds only its banded
    * candidate join + exact verification, all pair-table-sized. The
    * three caches (docSh, exact pairs, signatures) are all bounded
    * and evictable; the bounded (layout-count-row) result is returned
    * checkpointed and every cache released ([[Scoped]]).
    */
  def lshRecallCurve(docs: DataFrame, threshold: Double, k: Int = 16,
      bandArms: Seq[Int] = Seq(2, 4, 8)): DataFrame = Scoped { s =>
    require(bandArms.nonEmpty, "bandArms must name at least one layout")
    require(bandArms.forall(b => b >= 1 && b <= k && k % b == 0),
      s"every bandArms entry must divide k=$k, got $bandArms")
    val docSh = s.cache(docShingles(docs, 3))
    val exact = s.cache(ngramJaccardCore(s, docSh, threshold)
      .select(col("doc_a"), col("doc_b")))
    val sigs = s.cache(docSh
      .select(col("doc_id"), minhashSigUdf(k)(col("sh")).as("sig")))
    // ONE arm-keyed pipeline instead of one join pipeline per arm
    // (round-15 restructuring): every arm's band digests stack into a
    // single (bands, doc_id, band, band_key) frame, so candidate
    // generation is ONE self-join keyed on (bands, band, band_key),
    // verification ONE jaccard join, and the rollup ONE two-level
    // aggregate keyed by arm — identical rows per arm, about a third
    // of the stages/jobs of the per-arm loop (the scheduling floor
    // dominated this query at bench scale). Same total shuffle bytes:
    // the stacked index is exactly the three per-arm indexes.
    val armBanded = s.cache(bandArms.map { bands =>
      sigs.select(lit(bands).as("bands"), col("doc_id"),
          explode(bandKeysFromSigUdf(bands)(col("sig"))).as("bk"))
        .select(col("bands"), col("doc_id"),
          col("bk._1").as("band"), col("bk._2").as("band_key"))
    }.reduce(_ unionByName _))
    val candidates = armBanded.as("x").join(armBanded.as("y"),
        col("x.bands") === col("y.bands") &&
          col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.bands").as("bands"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    val lsh = candidates
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .filter(round(jaccardUdf(col("sha"), col("shb")), 6) >= threshold)
      .select(col("bands"), col("doc_a"), col("doc_b"))
    val exactArms = bandArms.map(bands =>
        exact.select(lit(bands).as("bands"), col("doc_a"), col("doc_b"),
          lit(1L).as("e"), lit(0L).as("l")))
      .reduce(_ unionByName _)
    val perArm = exactArms
      .unionByName(lsh.select(col("bands"), col("doc_a"), col("doc_b"),
        lit(0L).as("e"), lit(1L).as("l")))
      .groupBy(col("bands"), col("doc_a"), col("doc_b"))
      .agg(max(col("e")).as("e"), max(col("l")).as("l"))
      .groupBy(col("bands"))
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("e") * col("l")), lit(0L)).as("n_hit"))
    // left join from the literal arm table: an arm with zero exact AND
    // zero LSH pairs still reports its zero row (the old per-arm
    // global aggregate emitted exactly one row even over empty input)
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val out = bandArms.toDF("bands")
      .join(perArm, Seq("bands"), "left")
      .select(lit(k.toLong).as("k"), col("bands").cast("long").as("bands"),
        (lit(k) / col("bands")).cast("long").as("rows_per_band"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_exact"), lit(0L)) > 0,
          round(col("n_hit").cast("double") / col("n_exact"), 6))
          .otherwise(lit(0.0)).as("recall"),
        when(coalesce(col("n_lsh"), lit(0L)) > 0,
          round(col("n_hit").cast("double") / col("n_lsh"), 6))
          .otherwise(lit(0.0)).as("precision"))
      .orderBy(col("bands"))
    out.localCheckpoint(true)
  }

  /** Incremental dedup: flag an incoming batch against corpus HISTORY —
    * the shape of a daily crawl ingest, where the corpus that already
    * shipped must never be rescanned per batch. Each incoming document
    * gets `exact_dup_hist` (its sha256 digest exists in history),
    * `near_dup_hist` (MinHash-LSH candidate against history verified at
    * exact Jaccard ≥ threshold), and the composed `keep`.
    *
    * Deliberately history-only: batch-INTERNAL dedup is the existing
    * operators' job ([[keepCanonical]] / [[dupGroups]]) — run them on
    * the batch first, then this against history. One operator per
    * concern keeps both oracle-checkable.
    *
    * Shape at 100 TB: history participates only through two compact
    * derived frames — its distinct digest set (one row per unique
    * text) and its (band, band_key, doc_id) index, both of which an
    * ingest pipeline persists once and reuses every batch (exactly the
    * [[graft.operators.KMeansIndex]] persist-once-probe-often layout,
    * and `foreachBatch`-compatible the same way). The joins are
    * digest/band-key equi-joins sized by the BATCH, never a scan of
    * history text; only verified candidates' shingle sets are read.
    *
    * This from-text form caches the history projection per call and
    * returns the batch-sized result checkpointed, releasing the cache
    * ([[Scoped]]). A long-running ingest loop should still build the
    * index once ([[persistDedupIndex]]) and call
    * [[incrementalFlagsPersisted]] per batch, which holds no history
    * cache at all.
    */
  def incrementalFlags(incoming: DataFrame, history: DataFrame,
      threshold: Double, k: Int = 16, bands: Int = 4): DataFrame =
    Scoped { s =>
      val hist = s.cache(histProjection(history))
      incrementalCore(s, incoming, hist.select(col("h")).distinct(),
        bandKeysOf(hist, "hist_id", k, bands),
        hist.select(col("hist_id"), col("sh")), threshold, k, bands)
    }

  /** The (hist_id, digest, shingle-set) projection every history-side
    * consumer derives from — ONE definition so the from-text path, the
    * persisted layout and its appends can never disagree on the digest
    * or shingle scheme.
    */
  private def histProjection(df: DataFrame): DataFrame =
    Partitioning.spread(df)
      .select(col("doc_id").as("hist_id"), sha2(col("text"), 256).as("h"),
        shingleArray(col("text")).as("sh"))

  /** (id, band, band_key) of every row with a non-empty shingle set.
    * The empty set is skipped inside the explode (a NULL array explodes
    * to no rows), not by a filter: over a shingle frame computed above a
    * spread, a filter on `sh` is pushed below the exchange and runs the
    * shingle UDF there.
    */
  private def bandKeysOf(df: DataFrame, idCol: String, k: Int, bands: Int) =
    df.select(col(idCol),
        explode(when(size(col("sh")) >= 1, bandKeysUdf(k, bands)(col("sh")))).as("bk"))
      .select(col(idCol), col("bk._1").as("band"), col("bk._2").as("band_key"))

  /** The batch-vs-history check against the three index frames a
    * persisted layout stores: distinct digests (`h`), band index
    * (`hist_id`, `band`, `band_key`), shingle sets (`hist_id`, `sh`).
    */
  private def incrementalCore(s: Scoped, incoming: DataFrame,
      histDigests: DataFrame, histBands: DataFrame, histShingles: DataFrame,
      threshold: Double, k: Int, bands: Int): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val inc = s.cache(Partitioning.spread(incoming)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        shingleArray(col("text")).as("sh")))
    val exactIds = inc.join(histDigests, Seq("h"), "left_semi")
      .select(col("doc_id"))
    val cand = bandKeysOf(inc, "doc_id", k, bands)
      .join(histBands, Seq("band", "band_key"))
      .select(col("doc_id"), col("hist_id")).distinct()
    val nearIds = cand
      .join(inc.select(col("doc_id"), col("sh").as("sha")), "doc_id")
      .join(histShingles.select(col("hist_id"), col("sh").as("shb")), "hist_id")
      .filter(round(jaccardUdf(col("sha"), col("shb")), 6) >= threshold)
      .select(col("doc_id")).distinct()
    val flags = inc.select(col("doc_id"))
      .join(exactIds.withColumn("exact_dup_hist", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("near_dup_hist", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup_hist"), lit(false)).as("exact_dup_hist"),
        coalesce(col("near_dup_hist"), lit(false)).as("near_dup_hist"))
      .withColumn("keep", !col("exact_dup_hist") && !col("near_dup_hist"))
      .orderBy(col("doc_id"))
    // batch-sized (one row per incoming doc): materialized before the
    // scope drops the batch projection; the checkpoint itself is freed
    // by the ContextCleaner when the returned frame is garbage-collected
    flags.localCheckpoint(true)
  }

  /** Layout root for the compacted-index contract query (the
    * [[graft.operators.KMeansIndex.compactDumpPath]] convention).
    */
  val indexDumpPath: String =
    sys.props.getOrElse("graft.dedup.index.dump",
      "/tmp/graft_oracle_dedup_index")

  private val dedupLayout = LayoutManifest("dedup-index", "persistDedupIndex")

  /** Materialize the history-side dedup index: `digests/`, `bands/`,
    * `shingles/` parquet tables under `path`, through the
    * [[LayoutManifest]] rebuild. Build once, then every ingest batch
    * runs [[incrementalFlagsPersisted]] against the layout without ever
    * rescanning history text — the dedup analogue of
    * [[KMeansIndex.persist]]'s build-once-search-many form. The
    * manifest records the (k, bands) band layout: a probe computed with
    * different parameters than the stored index would band-match
    * nothing and silently report zero near-dups, so every append and
    * probe derives them from the manifest.
    */
  def persistDedupIndex(history: DataFrame, path: String,
      k: Int = 16, bands: Int = 4): Unit =
    dedupLayout.rebuild(history.sparkSession, path, "k" -> k, "bands" -> bands) {
      Scoped { s =>
        val hist = s.cache(histProjection(history))
        hist.select(col("h")).distinct()
          .write.mode("overwrite").parquet(s"$path/digests")
        bandKeysOf(hist, "hist_id", k, bands)
          .write.mode("overwrite").parquet(s"$path/bands")
        hist.select(col("hist_id"), col("sh"))
          .write.mode("overwrite").parquet(s"$path/shingles")
      }
    }

  /** Append an accepted batch to a [[persistDedupIndex]] layout. The
    * batch's three tables are ONE [[LayoutManifest]] append batch, so a
    * reader never sees a batch whose digests arrived but whose bands did
    * not (which would flag exact dups while missing near dups from the
    * same documents); `foreachBatch`-compatible. The band layout comes
    * from the manifest — an append can never write bands inconsistent
    * with the base index.
    */
  def appendDedupIndex(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val Seq(k, bands) = dedupLayout.fields(spark, path, "k", "bands")
    dedupLayout.append(spark, path) { dir =>
      Scoped { s =>
        val b = s.cache(histProjection(batch))
        b.select(col("h")).distinct().write.parquet(s"$dir/digests")
        bandKeysOf(b, "hist_id", k, bands).write.parquet(s"$dir/bands")
        b.select(col("hist_id"), col("sh")).write.parquet(s"$dir/shingles")
      }
    }
  }

  /** Compact a [[persistDedupIndex]] layout (the [[LayoutManifest]]
    * compaction): the digest table re-distincts across base ∪ batches
    * (disjoint-doc appends can still repeat a CONTENT digest); bands and
    * shingles fold by plain union. The manifest (band geometry) never
    * changes in a fold.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    dedupLayout.compact(spark, path, "digests", "bands", "shingles") {
      (snapshot, staged) =>
        def fold(t: String) = indexTable(dedupLayout, spark, path, t, snapshot)
        fold("digests").distinct().write.parquet(staged("digests"))
        fold("bands").write.parquet(staged("bands"))
        fold("shingles").write.parquet(staged("shingles"))
    }

  /** [[incrementalFlags]] against a [[persistDedupIndex]] layout —
    * history participates only as its committed index tables; shipped
    * text is never rescanned, and the three joins are sized by the
    * BATCH (digest semi-join probe, band equi-join, candidate-only
    * shingle verification). The incoming side's band keys are computed
    * with the (k, bands) recorded in the layout's manifest.
    *
    * This is the variant a long-running `foreachBatch` loop should use:
    * [[incrementalFlags]] re-derives and caches the full history
    * projection on every call, while this path caches only the
    * per-batch frame.
    */
  def incrementalFlagsPersisted(incoming: DataFrame, path: String,
      threshold: Double): DataFrame = {
    val spark = incoming.sparkSession
    val Seq(k, bands) = dedupLayout.fields(spark, path, "k", "bands")
    val batches = dedupLayout.committed(spark, path)
    def table(t: String) = indexTable(dedupLayout, spark, path, t, batches)
    Scoped(s => incrementalCore(s, incoming, table("digests"), table("bands"),
      table("shingles"), threshold, k, bands))
  }

  /** SimHash width: 62 bits — the first 62 bits of md5(word), MSB-first.
    * 62 (not 64) keeps every hash value positive in both engines: the
    * oracle's `1::BIGINT << 63` overflows DuckDB, and sign bits poison
    * shift/mask block extraction. Block layout for hamming ≤ 3
    * candidates (pigeonhole over maxDist+1 = 4 blocks): 16+16+16+14.
    */
  val SimhashBits = 62
  val blockShifts = Array(0, 16, 32, 48)
  val blockMasks = Array(65535L, 65535L, 65535L, 16383L)

  /** 62-bit SimHash from a word array, one pass per document: bit j =
    * sign of Σ_words count(word) · (±1 by bit j of md5(word), MSB-first
    * over the digest). Pure integer arithmetic → bit-stable across
    * engines; 16-bit blocks keep candidate groups ~n/2¹⁶ even on
    * 100k-document corpora (the 32-bit variant's byte blocks collided
    * quadratically at that size).
    */
  private val simhashUdf = udf { ws: Seq[String] =>
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    ws.foreach(w => counts.update(w, counts.getOrElse(w, 0L) + 1L))
    val md = graft.functions.HashUtil.md5Digest
    val weight = new Array[Long](SimhashBits)
    counts.foreach { case (w, c) =>
      md.reset()
      val digest = md.digest(w.getBytes("UTF-8"))
      var j = 0
      while (j < SimhashBits) {
        if (((digest(j >> 3) >> (7 - (j & 7))) & 1) == 1) weight(j) += c
        else weight(j) -= c
        j += 1
      }
    }
    var h = 0L
    var j = 0
    while (j < SimhashBits) { if (weight(j) > 0) h |= (1L << j); j += 1 }
    h
  }

  /** Per-document 62-bit SimHash (per-row; repartitioned so the hash
    * work parallelizes even from a single-file source). Null-safe: a
    * NULL text gets a NULL simhash — its block join keys are null, so
    * it matches no candidate pair downstream.
    */
  def simhash(docs: DataFrame): DataFrame =
    Partitioning.spread(docs)
      .select(col("doc_id"),
        when(col("text").isNull, lit(null).cast("long"))
          .otherwise(simhashUdf(words(col("text")))).as("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs, hamming ≤ maxDist (≤3 with the 4-block
    * 16/16/16/14 layout: any pair within hamming 3 shares at least one
    * exact block — pigeonhole) → candidates via block equi-join, then
    * the exact xor+bit_count filter.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val sh = simhash(docs)
    val blockExpr = blockShifts.zip(blockMasks).zipWithIndex.map {
      case ((s, m), q) => struct(lit(q).as("q"),
        expr(s"shiftright(simhash, $s) & $m").as("blk"))
    }
    val blocks = sh.select(col("doc_id"), col("simhash"),
        explode(array(blockExpr.toIndexedSeq: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.q").as("q"), col("b.blk").as("blk"))
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.q") === col("y.q") && col("x.blk") === col("y.blk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding near-dup — the engine's DEFAULT embedding-dedup operator.
    *
    * Banded sign-LSH candidate generation: `bands` independent seeded
    * hyperplane tables (seeds `seed, seed+1, …`), candidates unioned and
    * de-duplicated, then ONE exact-cosine verification pass over the
    * candidate set only, and each surviving duplicate is mapped to its
    * lowest-id retained neighbor (`keep_id`). OR-amplification across
    * bands recovers the recall a single sign-LSH table loses at
    * practical thresholds (P[collide] = (1−θ/π)^nBits per table), while
    * candidate count still scales with bucket collisions — sub-quadratic
    * whenever near-dup structure exists, which is exactly the regime
    * where dedup matters. Embeddings are re-joined by id for the verify
    * (candidates are tiny relative to the base; carrying vectors through
    * the band union would shuffle the payload `bands` times).
    *
    * `keep_id`/`best_score` are per-duplicate summaries over its verified
    * matches (best_score need not come from the keep_id pair); full
    * transitive canonicalization is a connected-components pass over
    * these edges, out of scope for a single contract query.
    *
    * The exact global top-N baseline ([[embeddingTopPairs]]) stays
    * available as an explicitly opt-in oracle for small slices — it is
    * Ω(n²) by its semantics and must not be a default anything.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double, nBits: Int = 8,
                       bands: Int = 4, dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val cand = (0 until bands).map { bd =>
      val bucket = Ann.signBucket(col("embedding"), Ann.hyperplanes(nBits, dim, seed + bd))
      val b = emb.select(col("vec_id"), bucket.as("bucket"))
      b.as("l").join(b.as("r"),
          col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
    }.reduce(_ unionByName _).distinct()
    val va = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      VectorOps.l2Norm(col("embedding")).as("na"))
    val vb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      VectorOps.l2Norm(col("embedding")).as("nb"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.dotProduct(col("ea"), col("eb"))
          / (col("na") * col("nb") + lit(1e-12)), 6).as("score"))
      .filter(col("score") >= threshold)
      .groupBy(col("vec_b").as("dup_id"))
      .agg(min(col("vec_a")).as("keep_id"),
        max(col("score")).as("best_score"),
        count(lit(1)).as("n_matches"))
      .orderBy(col("dup_id"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup
    * removal with CLUSTER-bounded comparison. K-means partitions the
    * embedding space; cosine pairs are formed only WITHIN a cell (the
    * paper's core trick — semantically close points land in the same
    * cluster, so the n² comparison collapses to Σ|cell|²); pairs at or
    * above `threshold` are resolved to connected components and each
    * component keeps its lowest-id member.
    *
    * Takes a trained [[KMeansIndex.Index]] rather than building one, so
    * the caller controls k (and can dump the centroids for an oracle
    * replay — assignment downstream of training is the deterministic
    * codegen'd `cellExpr`, engine-portable by construction).
    *
    * Output: every vector with its `cell`, its duplicate-group label
    * (`group_id` = component minimum; singletons label themselves) and
    * the `keep` verdict.
    *
    * Shape at 100 TB: the self-join equi-joins on `cell`, so per-task
    * work is bounded by the largest cell, never n² — k is the dial
    * (k ≈ n / target-cell-size keeps cells executor-sized; a skewed
    * cell is split by raising k, not by salting, which would sever
    * cross-salt pairs). Component resolution is [[dupGroups]]
    * (pointer-jumping min-label propagation, driver fast path only
    * under its hard edge cap), and the final labeling is a left join
    * keyed on vec_id. No driver materialization anywhere.
    *
    * A per-row kernel runs after the spread, once: the cached frame is
    * spread across the cores before its norm is computed, so the
    * pair step's tasks follow its partitions; each row's norm is
    * computed once and cached beside its embedding; a same-cell pair
    * is scored only in its `l.vec_id < r.vec_id` order, and the 6-dp
    * round runs only on pairs whose raw cosine is within 1e-6 of the
    * threshold or above (`round(x, 6) >= t` implies `x >= t - 5e-7`,
    * so no kept pair is lost). The score is the same double as
    * `VectorOps.cosineSimilarity`.
    */
  /** The contract query's cosine threshold, shared with its oracle SQL
    * interpolation (the token_budget discipline). 0.4 matches the
    * dedup_embedding_pairs contract threshold — the synthetic
    * embeddings top out near cosine 0.51 within a cell, so a
    * "realistic" 0.9+ SemDeDup cut would never fire here.
    */
  val semDedupThreshold: Double = 0.4

  def semDedup(index: KMeansIndex.Index, threshold: Double): DataFrame = Scoped { s =>
    // three consumers (both join sides + the final labeling) and the
    // cell assignment is k dot-distance expressions per row — cache the
    // narrow projection so cellExpr and the norm evaluate once per
    // vector; the one-row-per-vector labeling is returned checkpointed
    val a = s.cache(Partitioning.spread(
        index.assigned.select(col("vec_id"), col("cell"), col("embedding")))
      .withColumn("norm", VectorOps.l2Norm(col("embedding"))))
    val cos = VectorOps.dotProduct(col("l.embedding"), col("r.embedding")) /
      (col("l.norm") * col("r.norm") + lit(1e-12))
    // one join condition, so its conjuncts keep this order: And
    // short-circuits, and a filter above the join would be pushed in
    // AHEAD of the id test and score both orders of every pair
    val pairs = a.as("l").join(a.as("r"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id") &&
          cos >= lit(threshold - 2 * RoundHalfWidth) && round(cos, 6) >= threshold)
      .select(col("l.vec_id").as("doc_a"), col("r.vec_id").as("doc_b"))
    val groups = dupGroups(pairs).withColumnRenamed("doc_id", "vec_id")
    a.select(col("vec_id"), col("cell"))
      .join(groups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        coalesce(col("group_id"), col("vec_id")).as("group_id"))
      .withColumn("keep", col("group_id") === col("vec_id"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
  }

  /** Brute-force embedding near-dup: top-N pairs by cosine — the
    * EXPLICITLY OPT-IN exact baseline for [[embeddingNearDup]] /
    * Ann.lshCosinePairs. Exact global top-N is Ω(n²) score evaluations
    * whatever the join shape; use it to calibrate recall on a sampled
    * slice, never as a pipeline default. The a<b self-join halves the
    * score work and the top-N is a TakeOrderedAndProject merge.
    */
  def embeddingTopPairs(emb0: DataFrame, topN: Int, blocks: Int = 8,
      maxRows: Long = 100000L): DataFrame = {
    // blocks = 0 would make pmod(vec_id, 0) null: sequence/explode then
    // drops every row and the query silently returns empty
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    // sample-scale cap, ENFORCED: 10⁵ rows → ~5×10⁹ scored pairs is
    // the edge of reasonable for a calibration run; the full corpus
    // is not an accident anyone should survive
    val emb = Partitioning.requireSampleScale(emb0,
      "Dedup.embeddingTopPairs (exact Ω(n²) top-N baseline)", maxRows)
    // Exact global top-N is Ω(n²) score evaluations on arbitrary data
    // (any pair skipped could be the best), so the scale lever is the
    // JOIN SHAPE, not the count: grid-partitioned all-pairs (the
    // Okcan-Riedewald theta-join grid). Each side carries its block id
    // (vec_id mod B) and explodes to its row of the B×(B+1)/2 upper-
    // triangular task grid; an EQUI-join on the task key then forms each
    // task's local product. Per-task memory is bounded by 2n/B rows,
    // parallelism is even, nothing broadcasts a full side, and no
    // BroadcastNestedLoopJoin appears — at 100 TB you raise B so a task
    // fits an executor, and TakeOrderedAndProject keeps the shuffle to
    // topN rows per partition. For a THRESHOLDED near-dup search (the
    // usual production ask) use Ann.lshCosinePairs — sub-quadratic when
    // near-dup structure actually exists.
    // Norms once per side (n rows); the score expression is
    // bit-identical to cosineSimilarity, and symmetric (IEEE multiply
    // commutes), so normalizing the id order after the join is safe.
    // pmod, not %: Spark % keeps the sign of the dividend, so a negative
    // vec_id would get a negative block id whose task keys never meet
    // the non-negative side's — silently dropping mixed-sign pairs
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        VectorOps.l2Norm(col("embedding")).as("na"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("bi"))
      .withColumn("bj", explode(sequence(col("bi"), lit(blocks - 1))))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        VectorOps.l2Norm(col("embedding")).as("nb"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("bj"))
      .withColumn("bi", explode(sequence(lit(0), col("bj"))))
    a.join(b, Seq("bi", "bj"))
      // same-block tasks see both orders (and self-pairs): keep one;
      // cross-block tasks see each unordered pair exactly once
      .filter(col("bi") =!= col("bj") || col("vec_a") < col("vec_b"))
      .select(
        least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"),
        round(VectorOps.dotProduct(col("ea"), col("eb"))
          / (col("na") * col("nb") + lit(1e-12)), 6).as("score"))
      .orderBy(col("score").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(topN)
  }

  /** Shared idf machinery: (weights, norms). Weights are
    * round(ln(N/df), 9) per surviving (doc, shingle) — binary tf, the
    * df ≤ maxDf cap drops boilerplate from dots AND norms alike (a
    * semantic parameter, not a silent truncation: the excluded mass is
    * near-zero idf anyway at df ≈ N). Norms are sqrt of the 9-dp-
    * quantized DECIMAL(28,9) square fold; zero-norm docs (every
    * surviving shingle at df = N, idf exactly 0) are EXCLUDED so no
    * consumer can divide by zero.
    */
  /** A 9-dp-rounded double, re-expressed as its exact integer number
    * of 1e-9 units (long). The decimal hop is what makes it exact: the
    * input is round(x, 9), i.e. the double nearest k·1e-9 for an
    * integral k; casting to DECIMAL(28,9) recovers k·1e-9 exactly
    * (half-up at the 9th decimal undoes the sub-half-ulp binary error,
    * which for |x| < 2³⁰ is far below 5e-10), and ×1e9 → long is then
    * exact integer arithmetic. Summing these longs is the same
    * order-free fold as summing the decimals — at primitive cost.
    */
  private def fix9(rounded9: Column): Column =
    (rounded9.cast(org.apache.spark.sql.types.DecimalType(28, 9))
      * lit(1000000000L)).cast("long")

  private def idfWeights(s: Scoped, docs: DataFrame, n: Int, maxDf: Long,
      pairMassCap: Option[Long] = None,
      eagerBuild: Boolean = false): (DataFrame, DataFrame) = {
    // two consumers (the df aggregate and the weight join's probe side)
    // re-derive the shingle explode without this cache
    val sh = s.cache(shingles(docs, n))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq0 = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // The pairs form's work driver is the co-occurrence mass
    // Σ_shingle C(df, 2) — computable from this df table for the cost
    // of one reused exchange, so the refusal is IN-PLAN (lazy sentinel
    // union, zero driver actions) and fires before any pair forms.
    // The rank form passes None: its work is candidate-bounded, so
    // mass is not its cost model.
    val dfreq = pairMassCap.fold(dfreq0)(cap =>
      Partitioning.requireBoundedMass(dfreq0,
        expr("df * (df - 1) div 2"), "idfCosinePairs", cap,
        "the self-generating pair form pays the corpus co-occurrence " +
          "mass with no threshold to prune against; at this scale " +
          "generate candidates with lshCandidates and rank them with " +
          "idfCosineRank, or raise maxPairMass knowingly"))
    // every consumer duplicates this whole subtree without the cache —
    // the pairs form reads wt on BOTH self-join sides plus the norm
    // aggregate, the rank form on both candidate probes plus norms
    // (round-16 profile: two identical 32-task stages were ~40% of
    // dedup_idf_cosine's task-time). Evictable cache(), never
    // localCheckpoint (the round-12 OOM lesson); at scale eviction
    // degrades to recompute, not failure.
    val wt = s.cache(sh.join(dfreq, "shingle").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("shingle"),
        round(log(col("n_docs").cast("double") / col("df")), 9).as("wt")))
    // doc-count-sized, read twice (doc_a and doc_b readouts); with an
    // InMemoryRelation below it AQE exchange reuse never fires (the
    // round-15 bandedCandidates finding), so uncached it would
    // aggregate the wt cache once per readout.
    // Fold as LONG fixed-point (round 16): each 9-dp-rounded term is
    // exactly k·1e-9 with k integral, so Σ as Σk over longs is the
    // same order-free exact fold the DECIMAL(28,9) sum was, at
    // primitive-add cost instead of a BigDecimal add per row. Bounds:
    // |term| ≤ ln(N/df)² and k ≤ n_sh·ln²(N)·1e9 per doc — a 10⁶-word
    // document against a 10¹² corpus stays < 2⁵³, nine orders under
    // long overflow. Readout double(K)/1e9 equals double(K·1e-9):
    // both are the correctly-rounded value of the same rational.
    val norms = s.cache(wt.groupBy(col("doc_id"))
      .agg(sqrt((sum(fix9(round(col("wt") * col("wt"), 9)))
        .cast("double") / lit(1e9))).as("nrm"))
      .filter(col("nrm") > 0.0))
    // EAGER materialization (pairs form only), one producing pass per
    // cache: the self-join's two sides and the two norm readouts plan
    // as CONCURRENT stages, and concurrent first-touch of a lazy cache
    // computes every partition once per scanning stage — the round-16
    // profile showed both wt join sides rebuilding the full frame
    // despite the cache. The counts serialize build order (sh → wt →
    // norms, each reading the previous IMR) so every consumer stage
    // reads built blocks; the mass-gate sentinel inside wt fires at
    // the wt count — same invocation, same error. The RANK form skips
    // this (A/B-measured round 16: its candidate-generation subtree
    // overlaps the wt build when lazy, and serializing the builds
    // measured 1.1-1.3× WORSE wall; its candidate probes are also far
    // smaller than a full self-join side, so duplicated first-touch
    // costs less than the lost overlap).
    if (eagerBuild) { sh.count(); wt.count(); norms.count() }
    (wt, norms)
  }

  /** IDF-weighted cosine top-N similar pairs — the GRADED sibling of
    * the exact-Jaccard pair reports: Jaccard treats a shared
    * boilerplate shingle and a shared rare shingle alike; weighting
    * each distinct shingle by round(ln(N/df), 9) makes rare shared
    * content dominate the score, which is what a curation reviewer
    * ranks by. Vectors are idf-weighted shingle SETS (binary tf), so
    * cosine = Σ_shared idf² / (‖a‖·‖b‖).
    *
    * Scale shape — SELF-GENERATING form: the pair space is the plain
    * inverted-index equi-join on shingle, so the intermediate work is
    * the co-occurrence mass Σ_shingle C(df, 2), bounded by
    * maxDf · postings but NOT prefix-prunable (a top-N cosine has no
    * threshold to prune against — growth-probed at ~1.4× per unit of
    * co-occurrence mass). This is the exact small/medium-corpus form
    * and the calibration reference; at corpus scale generate
    * candidates first (banding) and rank them with [[idfCosineRank]],
    * whose work is bounded by the CANDIDATE list instead. That
    * boundary is ENFORCED, not advisory: the plan computes
    * Σ df·(df−1)/2 from the df table it already builds and refuses
    * (in-plan raise, [[Partitioning.requireBoundedMass]]) above
    * `maxPairMass` with a pointer to the candidate-bounded pair —
    * the requireSampleScale discipline applied to mass. df and
    * norms are map-side-combinable aggregates; the final cut is
    * orderBy+limit → TakeOrderedAndProject, never a global sort.
    * Determinism: idf quantized at 9 dp, every product re-quantized
    * at 9 dp into DECIMAL(28,9) (order-free folds), one double
    * division, 6-dp readout, (cosine desc, doc_a, doc_b) total order
    * at the cut. The top-N is returned checkpointed; the weight
    * frames are cached for the call only ([[Scoped]]).
    */
  def idfCosinePairs(docs: DataFrame, topN: Int, n: Int = 3,
      maxDf: Long = 10000L, maxPairMass: Long = 100000000L): DataFrame = Scoped { s =>
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(maxDf >= 2, s"maxDf must be >= 2 (df=1 shingles cannot pair), got $maxDf")
    val (wt, norms) = idfWeights(s, docs, n, maxDf, Some(maxPairMass),
      eagerBuild = true)
    // dot folded as long fixed-point ([[fix9]]): the co-occurrence-mass
    // pair stream is this query's dominant task-time and every row paid
    // a BigDecimal add into a DECIMAL(38,9) buffer; Σk over longs is
    // the same exact order-free fold (k ≤ shared·ln²N·1e9 < 2⁵³), the
    // shuffle carries 8-byte partials, and the double readout is
    // bit-identical (see fix9 / norms notes)
    val dots = wt.as("a").join(wt.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(fix9(round(col("a.wt") * col("b.wt"), 9))).as("dotl"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round((col("dotl").cast("double") / lit(1e9)) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(topN)
      .localCheckpoint(true)
  }

  /** Cross-corpus contamination PAIRS — which benchmark/eval document
    * does each training document near-duplicate? The pair-level
    * complement of [[contaminationFlags]] (which reports only a
    * per-training-doc shared-shingle count): banding runs on EACH side
    * and candidates come from cross-side band-bucket collisions only —
    * never a within-side pair, never an all-pairs product — then the
    * exact-Jaccard verification joins each side's own shingle sets.
    * The decision an LLM pipeline takes from this is per-PAIR
    * (quarantine the training doc, or drop the eval item from
    * reporting), which the count alone cannot support.
    *
    * Shape at 100 TB: eval suites are tiny next to the corpus, so the
    * benchmark band index broadcasts; candidates are bounded by
    * band-bucket co-membership exactly as in [[minhashLshPairs]];
    * each side is shingled ONCE (localCheckpoint) feeding its band
    * keys and its verification arrays. Output
    * (corpus_doc, bench_doc, jaccard 6-dp) with the shared rounding /
    * threshold semantics of verifyPairs, ordered.
    */
  def crossCorpusPairs(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must lie in (0, 1], got $threshold")
    val cSh = docShingles(corpus, 3).localCheckpoint()
    val bSh = docShingles(benchmark, 3).localCheckpoint()
    val cand = bandKeysOf(cSh, "doc_id", 16, 4).as("x")
      .join(bandKeysOf(bSh, "doc_id", 16, 4).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("corpus_doc"),
        col("y.doc_id").as("bench_doc"))
      .distinct()
    cand
      .join(cSh.select(col("doc_id").as("corpus_doc"), col("sh").as("sha")),
        "corpus_doc")
      .join(bSh.select(col("doc_id").as("bench_doc"), col("sh").as("shb")),
        "bench_doc")
      .withColumn("jaccard", round(jaccardUdf(col("sha"), col("shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_doc"), col("bench_doc"), col("jaccard"))
      .orderBy(col("corpus_doc"), col("bench_doc"))
  }

  /** LSH candidate pairs (16 hashes, 4 bands — the [[minhashLshPairs]]
    * banding) WITHOUT verification: the bounded candidate generator
    * for rankers that apply their own scoring, e.g.
    * [[idfCosineRank]]. Canonical doc_a < doc_b, distinct; returned
    * checkpointed, the band index cached for the call only.
    */
  def lshCandidates(docs: DataFrame): DataFrame = Scoped { s =>
    bandedCandidates(s, bandKeysOf(docShingles(docs, 3), "doc_id", 16, 4))
      .localCheckpoint(true)
  }

  /** IDF-weighted cosine over a GIVEN candidate pair list — the
    * corpus-scale composition: banding (or any blocker) proposes,
    * this ranks. Work is bounded by |candidates| × document shingle
    * count (each pair joins its two weight vectors through one
    * (doc, shingle) equi-join chain), never the corpus-wide
    * co-occurrence mass the self-generating [[idfCosinePairs]] pays.
    * Candidates must be canonical (doc_a < doc_b); duplicates are
    * collapsed. Pairs with no shared SURVIVING shingle score 0.0
    * (the df cap can orphan a banded pair); pairs touching a
    * zero-norm document drop, as in the pairs form. Same 9-dp/
    * DECIMAL(28,9)/6-dp determinism contract; output ordered
    * (cosine desc, doc_a, doc_b), one row per surviving candidate,
    * returned checkpointed as in [[idfCosinePairs]].
    */
  def idfCosineRank(docs: DataFrame, candidates: DataFrame, n: Int = 3,
      maxDf: Long = 10000L): DataFrame = Scoped { s =>
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val (wt, norms) = idfWeights(s, docs, n, maxDf)
    val cand = candidates.select(col("doc_a"), col("doc_b")).distinct()
    // same long fixed-point fold as the pairs form (see fix9)
    val dots = cand
      .join(wt.select(col("doc_id").as("doc_a"), col("shingle"),
        col("wt").as("wa")), "doc_a")
      .join(wt.select(col("doc_id").as("doc_b"), col("shingle"),
        col("wt").as("wb")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(fix9(round(col("wa") * col("wb"), 9))).as("dotl"))
    cand
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .join(dots, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("dotl").cast("double") / lit(1e9), lit(0.0))
          / (col("na") * col("nb")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a").asc, col("doc_b").asc)
      .localCheckpoint(true)
  }
}
