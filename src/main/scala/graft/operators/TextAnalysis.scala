package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for training-data pipelines (north-star
  * extensions; SURVEY.md §2.9). All expressions are chosen to evaluate
  * identically in DuckDB for the oracle: whitespace tokenization via
  * regex split, marker-word language scoring with integer counts,
  * RE2-compatible token regexes, md5/sha2 fingerprints.
  */
object TextAnalysis {

  def words(text: Column): Column = split(trim(text), "\\s+")

  /** PII patterns, shared by [[piiScrub]] and the oracle SQL
    * interpolation — a Java-regex / RE2 COMMON SUBSET (character
    * classes, bounded repetition, `\b`; no lookaround, no
    * backreferences), so Spark and DuckDB compile identical semantics
    * from the same strings. Order is part of the contract: emails are
    * scrubbed FIRST (an address's local/domain parts contain digit runs
    * and dots the later rules could clip), then phones, then IPv4.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** PII redaction — the compliance pass every published training
    * corpus runs (C4 and derivatives scrub addresses and phone-like
    * spans). Emails, NANP-style phone numbers and IPv4 literals are
    * replaced with typed placeholder tokens; per-doc match counts are
    * reported so a pipeline can gate on PII density, and the cleaned
    * text ships as a sha-256 digest plus its length (the contract
    * result stays narrow; the full cleaned column is one select away).
    *
    * Shape at 100 TB: purely per-row codegen'd regex work — no
    * shuffle, no UDF; scales with input bytes and pipelines behind any
    * scan.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (name, re, _) =>
      regexp_count(col("text"), lit(re)).cast("long").as(s"n_$name") }
    val cleaned = piiPatterns.foldLeft(col("text")) {
      case (c, (_, re, tok)) => regexp_replace(c, re, tok) }
    // spread first: the regex passes are the whole cost and a
    // single-file source would run them (twice — range-sort sampling)
    // on one task
    Partitioning.spread(docs)
      .select(
        Seq(col("doc_id")) ++ counts ++ Seq(
          length(cleaned).cast("long").as("clean_len"),
          sha2(cleaned, 256).as("clean_sha")): _*)
      .orderBy(col("doc_id"))
  }

  /** Flesch readability — the classic reading-ease screen (Flesch
    * 1948; Kincaid 1975 grade form) used as a quality facet beside
    * stopword/length ratios: training-data recipes cut or
    * down-weight documents whose reading-ease is implausible for
    * running prose (word-soup spam scores low ease via long
    * "sentences"; single-token lines score artificially high).
    *
    * Deterministic heuristics, replayable in any regex engine:
    * sentences = count of [.!?] runs, floored at 1; words =
    * whitespace tokens; syllables = per-word count of [aeiouy]+
    * vowel GROUPS, floored at 1 per word (the standard cheap
    * approximation — no dictionary, no hyphenation rules).
    *
    * Shape at 100 TB: one narrow per-row projection — regexp counts
    * and a per-word HOF fold, all codegen; no shuffle before the
    * contract-only output sort. Formulas fold in fixed literal order:
    * ease = 206.835 − 1.015·(w/s) − 84.6·(syl/w); grade = 0.39·(w/s)
    * + 11.8·(syl/w) − 15.59; both rounded at 6 dp. Empty documents
    * report 0 words and NULL scores (no prose, no readability).
    */
  def readability(docs: DataFrame): DataFrame = {
    val ws = split(trim(col("text")), "\\s+")
    val nWords = when(trim(col("text")) === "", 0)
      .otherwise(size(ws)).cast("long")
    val nSent = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
      .cast("long")
    // Σ_w max(groups(w), 1) restated as two WHOLE-TEXT regexp_counts
    // (round-15 optimization): vowel groups never span whitespace, so
    // the per-word group counts sum to one count over the full text;
    // the per-word floor-at-1 adds one per VOWELLESS word, i.e.
    // nWords − (number of \S+ tokens containing a vowel — the greedy
    // \S*[vowel]\S* match consumes exactly one whole token per hit).
    // Identical value to the old per-word `aggregate` fold, but pure
    // codegen: higher-order-function lambdas evaluate interpreted
    // per element, which made this THE per-row hot spot (guide §1.2:
    // per-task work, after the plan shape is right).
    val lowered = lower(col("text"))
    val syl = regexp_count(lowered, lit("[aeiouy]+")).cast("long") +
      (nWords - regexp_count(lowered, lit("\\S*[aeiouy]\\S*")).cast("long"))
    val nSyl = when(nWords === 0L, 0L).otherwise(syl)
    val wps = nWords.cast("double") / nSent.cast("double")
    val spw = nSyl.cast("double") / nWords.cast("double")
    // spread first: single-file inputs arrive as ONE scan partition,
    // and without the repartition the whole per-row regex pass (plus
    // the range-sort sampling pass over it) ran single-threaded
    Partitioning.spread(docs)
      .select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sentences"),
        nSyl.as("n_syllables"),
        when(nWords > 0L, round(lit(206.835) - lit(1.015) * wps
          - lit(84.6) * spw, 6)).as("flesch_ease"),
        when(nWords > 0L, round(lit(0.39) * wps + lit(11.8) * spw
          - lit(15.59), 6)).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** Per-document CHARACTER Shannon entropy (bits/char) — the
    * gibberish/encoding-damage signal that catches what word-level
    * stats cannot: base64 blobs and binary spill score near-maximal
    * entropy, single-character runs score 0, natural language sits in
    * a narrow band (≈4±1 bits for English) — a cheap cut published
    * curation recipes apply before anything tokenizes.
    *
    * Shape at 100 TB: explode to (doc_id, char) → two-level map-side-
    * combined aggregation; both shuffles key on doc-bearing tuples so
    * skew is bounded by document length. The entropy terms −p·log₂p
    * quantize at 9 dp into decimals — order-free, oracle-replayable.
    * Empty documents produce no rows (no distribution, no entropy).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val counts = Partitioning.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      // Spark's split("", "") yields [""] — drop the phantom empty
      // token so an empty document vanishes like any zero-length list
      .filter(col("c") =!= "")
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chars_total"),
        count(lit(1)).as("n_distinct_chars"))
    counts.join(totals, "doc_id")
      .withColumn("t9", round(
        -(col("cnt").cast("double") / col("n_chars_total"))
          * log2(col("cnt").cast("double") / col("n_chars_total")), 9)
        .cast(DecimalType(28, 9)))
      .groupBy(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"))
      .agg(round(sum(col("t9")).cast("double"), 6).as("char_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Per-source n-gram diversity — the corpus-level health metric next
    * to the per-document signals: how repetitive is each source's
    * n-gram DISTRIBUTION? Low type-token ratio or low entropy marks a
    * source dominated by templates/boilerplate (the thing an LLM data
    * buyer deduplicates or downweights first), and the trend of this
    * table across snapshots is the earliest template-flood alarm.
    * Output per source: n_ngrams (with multiplicity), n_distinct, ttr
    * (6 dp) and Shannon entropy in bits (6 dp).
    *
    * Shape at 100 TB: ONE groupBy(source, gram) count (map-side
    * combinable — duplicates collapse in the partial), a per-source
    * rollup of that table, and the entropy fold joins counts to the
    * tiny per-source totals by broadcast. Per-term contributions are
    * 9-dp-quantized decimals, so the sum is order-free; nothing after
    * the first aggregate is corpus-sized.
    */
  def ngramDiversity(docs: DataFrame, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ws = Partitioning.spread(docs)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
    val grams = ws.select(col("source"), explode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => concat_ws(" ", (0 until n).map(j => col("ws")(i + j)): _*)))
      .as("gram"))
    val counts = grams.groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_ngrams"), count(lit(1)).as("n_distinct"))
    counts.join(broadcast(totals), "source")
      .withColumn("t9", round(
        -(col("cnt").cast("double") / col("n_ngrams"))
          * log2(col("cnt").cast("double") / col("n_ngrams")), 9)
        .cast(DecimalType(28, 9)))
      .groupBy(col("source"), col("n_ngrams"), col("n_distinct"))
      .agg(round(sum(col("t9")).cast("double"), 6).as("entropy"))
      .select(col("source"), col("n_ngrams"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_ngrams"), 6).as("ttr"),
        col("entropy"))
      .orderBy(col("source"))
  }

  /** Per-source Zipf exponent — the third corpus-distribution health
    * lane beside [[ngramDiversity]] (lexical spread) and the embedding
    * dispersion (semantic spread): natural language sits near
    * freq ∝ rank^(−1); machine-generated/templated text bends the
    * curve (α drifts high = a few tokens dominate, or low = unnaturally
    * flat), so the per-source α TREND across snapshots is a cheap
    * synthetic-flood alarm. α is the least-squares slope of
    * ln freq on ln rank over each source's top-`topK` tokens
    * (count-desc, token-asc total order — deterministic ranks).
    *
    * Shape at 100 TB: one map-side-combinable (source, token) count;
    * the per-source top-K rank plans as WindowGroupLimit (map-side
    * top-K BEFORE the exchange — the group_quantile discipline, so the
    * shuffle carries ≤ topK rows per source per input partition, never
    * a source's vocabulary); the regression is five decimal folds of
    * 9-dp-quantized terms (order-free) over ≤ topK rows per source and
    * one double readout at 6 dp. Sources with < 2 ranked tokens have
    * no slope and drop.
    */
  def zipfAlpha(docs: DataFrame, topK: Int = 500): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    import org.apache.spark.sql.expressions.Window
    val cnts = Partitioning.spread(docs)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val ranked = cnts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("cnt").desc, col("w").asc)))
      .filter(col("rk") <= topK)
    def d9(c: Column) = round(c, 9).cast(DecimalType(28, 9))
    val terms = ranked.select(col("source"),
      d9(log(col("rk").cast("double"))).as("x"),
      d9(log(col("cnt").cast("double"))).as("y"))
    terms.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d9(col("x").cast("double") * col("y").cast("double"))).as("sxy"),
        sum(d9(col("x").cast("double") * col("x").cast("double"))).as("sxx"))
      .filter(col("n") >= 2)
      .withColumn("den",
        col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      .filter(col("den") > 0.0) // n>=2 with distinct ranks ⇒ positive; belt+braces
      .select(col("source"), col("n"),
        round(-(col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) / col("den"), 6)
          .as("alpha"))
      .orderBy(col("source"))
  }

  /** Per-document quality stats: token counts, type-token ratio, average
    * word length, share of "long" words. Integer-derived ratios rounded
    * once → hash-stable.
    */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", words(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_txt"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct_words"),
        round(size(array_distinct(col("ws"))).cast("double") / size(col("ws")), 6).as("ttr"),
        round(aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (acc, x) => acc + x).cast("double") / size(col("ws")), 6)
          .as("avg_word_len"),
        round(size(filter(col("ws"), w => length(w) >= 6)).cast("double") / size(col("ws")), 6)
          .as("long_word_ratio"))
      .orderBy(col("doc_id"))

  /** Marker words per language — deterministic, tiny, broadcast as
    * literals into the scoring expression on both engines.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "key"),
    "de" -> Seq("der", "die", "und", "table", "value"),
    "es" -> Seq("el", "la", "y", "data", "row"),
    "fr" -> Seq("le", "la", "et", "query", "window"),
    "zh" -> Seq("的", "是", "了", "join", "merge"))

  /** n-gram-heuristic language ID: score = marker-word hits per language;
    * prediction = argmax with ties broken by language-name order (strict
    * `>` fold keeps it deterministic).
    */
  def langId(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    def score(markers: Seq[String]): Column =
      size(filter(ws, w => markers.map(m => w === m).reduce(_ || _))).cast("long")
    val scored = docs.withColumn("ws", words(col("text")))
      .select(col("doc_id") +: langMarkers.map { case (l, m) => score(m).as(s"score_$l") }: _*)
    val pred = langMarkers.map(_._1).tail.foldLeft(
      (lit(langMarkers.head._1), col(s"score_${langMarkers.head._1}"))) {
      case ((bestLang, bestScore), l) =>
        (when(col(s"score_$l") > bestScore, lit(l)).otherwise(bestLang),
          when(col(s"score_$l") > bestScore, col(s"score_$l")).otherwise(bestScore))
    }._1
    scored.withColumn("pred_lang", pred).orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenizer
    * (letters | digits | single punctuation) — RE2-compatible pattern.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long")
        .as("re_tokens"))
      .orderBy(col("doc_id"))

  /** Bounded distinct-min-k: the k lexicographically smallest distinct
    * md5 hashes of the text's 8-grams, in one O(n log k) pass (the
    * column-expression formulation pays O(n²) in `array_distinct` plus a
    * full sort).
    */
  private def minKUdf(k: Int) = udf { text: String =>
    val md = graft.functions.HashUtil.md5Digest
    // codepoints, not UTF-16 code units: the oracle's substr() and the
    // upstream length() filter both count codepoints, and a code-unit
    // window would split surrogate pairs on non-BMP text
    val cp = text.codePoints().toArray
    val kept = new java.util.TreeSet[String]()
    var i = 0
    val last = cp.length - 8
    while (i <= last) {
      val h = graft.functions.HashUtil.md5Hex(md, new String(cp, i, 8))
      if (kept.size < k || h < kept.last()) {
        kept.add(h)
        if (kept.size > k) kept.pollLast()
      }
      i += 1
    }
    kept.toArray(new Array[String](kept.size)).toSeq
  }

  /** Bottom-k md5 sketch over character 8-grams — a winnowing-style
    * document fingerprint: the k lexicographically smallest 8-gram
    * hashes identify near-identical content under local edits. Computed
    * entirely per-row; no explode-then-window shuffle of the gram set.
    */
  def minKSketch(docs: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Partitioning.spread(docs)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), posexplode(minKUdf(k)(col("text"))).as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"), col("h"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** TF-IDF top terms per document: tf(d,w) · ln(N/df(w)), the k
    * highest-scoring terms per doc. The inverted shape — one tf row per
    * (doc, word), one df row per word, broadcast corpus size — is the
    * plan that scales: no per-doc vocabulary materialization, shuffles
    * keyed by word then by doc.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = Scoped { s =>
    // tf feeds both the df aggregation and the scoring join; exchange
    // reuse does not deduplicate the two subtrees (verified: 3 parquet
    // scans, 0 ReusedExchange uncached), so the explode+count pass over
    // the corpus would run twice. Pinned: one producing pass before the
    // df aggregate and the scoring-join probe race on first touch; the
    // k-rows-per-doc result is returned checkpointed.
    val tf = s.pin(Partitioning.spread(docs)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("word"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
      .localCheckpoint(true)
  }

  /** Sliding word-window chunking for training pipelines: windows of
    * `chunkSize` tokens advancing by `chunkSize − overlap`, last window
    * truncated. Pure per-row array slicing → explode; no shuffle.
    */
  def chunkWords(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val ws = words(col("text"))
    docs
      .withColumn("ws", ws)
      .withColumn("n_chunks",
        greatest(ceil((size(col("ws")) - lit(overlap)).cast("double") / stride), lit(1))
          .cast("int"))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("n_chunks") - 1)))
      .withColumn("chunk_ws",
        slice(col("ws"), col("chunk_idx") * stride + 1, lit(chunkSize)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk_ws")).cast("long").as("n_words"),
        concat_ws(" ", col("chunk_ws")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** A fixed 10-word boilerplate line, shared by the contract query's
    * deterministic injection and its oracle SQL (the synthetic corpus
    * has no natural repeated lines, so the query plants some in BOTH
    * engines — the pii_scrub discipline). Exactly [[removeBoilerplate]]'s
    * default `lineWords` long, so prepending it shifts a document's
    * natural lines by exactly one line and leaves them intact.
    */
  val boilerplateLine: String =
    "subscribe to our newsletter for daily updates and special offers"

  /** Line-level boilerplate removal — the CCNet / MassiveText
    * "repeated lines across documents" filter (Wenzek et al. 2020 §4.2
    * dedups paragraphs by cross-document hash; Rae et al. 2021 §A1.1
    * drops duplicate lines): a line whose exact text appears in at
    * least `minDocs` DISTINCT documents is navigation/cookie-banner
    * boilerplate, not content, and is removed from every document;
    * the survivors are re-joined in original line order. The corpus
    * here is single-line word soup, so "lines" are fixed windows of
    * `lineWords` tokens (the [[chunkWords]] grid with zero overlap) —
    * the cross-document-frequency semantics are what's under test.
    *
    * Output per document: `n_lines`, `n_removed`, and the cleaned text
    * as length + sha-256 (narrow contract shape; the cleaned column is
    * one select away).
    *
    * Shape at 100 TB: line document-frequency is an inverted-index
    * aggregate — `countDistinct(doc_id)` per line with partial
    * aggregation below the exchange, so a banner line in a billion
    * docs ships one row per map task, not a billion. The flag join is
    * a plain equi-join on the line text, and the reassembly fold keys
    * on doc_id with the per-doc line list bounded by document length
    * (`collect_list` over a document's own lines, never a global
    * collect). Two shuffles total: one on line, one on doc_id.
    */
  def removeBoilerplate(docs: DataFrame, lineWords: Int = 10,
      minDocs: Int = 3): DataFrame = {
    require(lineWords >= 1, s"lineWords must be >= 1, got $lineWords")
    val lines = Partitioning.spread(docs)
      .withColumn("ws", words(col("text")))
      .withColumn("n_lines",
        greatest(ceil(size(col("ws")).cast("double") / lineWords), lit(1))
          .cast("int"))
      .withColumn("line_idx", explode(sequence(lit(0), col("n_lines") - 1)))
      .select(col("doc_id"), col("line_idx"),
        concat_ws(" ", slice(col("ws"), col("line_idx") * lineWords + 1,
          lit(lineWords))).as("line"))
    val lineDf = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val kept = when(col("n_docs") < minDocs,
      struct(col("line_idx"), col("line")))
    lines.join(lineDf, "line")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("n_removed"),
        // collect_list drops the nulls the `kept` guard produces, so the
        // sorted struct array holds exactly the surviving lines in
        // original order; concat_ws over an empty array is "", which
        // length/sha-256 treat identically to the oracle's coalesce('')
        concat_ws(" ",
          transform(array_sort(collect_list(kept)), x => x.getField("line")))
          .as("clean"))
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        length(col("clean")).cast("long").as("clean_len"),
        sha2(col("clean"), 256).as("clean_sha"))
      .orderBy(col("doc_id"))
  }

  /** Per-document n-gram novelty: the share of a document's distinct
    * n-word shingles that no LOWER-id document contains — the diversity
    * signal a curation pipeline uses to prefer documents that add new
    * content over ones that rehash what the corpus already has (and the
    * streaming-order analogue of contamination: doc order stands in for
    * arrival order).
    *
    * Shape at 100 TB: one inverted-index pass — `min(doc_id)` per
    * shingle is map-side combinable (a boilerplate shingle in a billion
    * docs still ships one row per map task), the join back is a plain
    * equi-join on shingle, and the per-doc fold keys on doc_id. No
    * doc×doc comparison anywhere (same shape as [[graft.operators.Dedup.contaminationFlags]]).
    *
    * Docs with fewer than n words have no shingles: novelty 0 with
    * n_shingles 0 (nothing new, nothing to claim).
    */
  def noveltyScores(docs: DataFrame, n: Int = 3): DataFrame = Scoped { s =>
    // sh feeds the first-seen aggregate AND the scoring join — pinned so
    // the shingle UDF pass over the corpus runs once, before the two
    // consumers first-touch it concurrently; the one-row-per-doc result
    // is returned checkpointed
    val sh = s.pin(graft.operators.Dedup.shingles(docs, n))
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_id"))
    val perDoc = sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(col("n_novel").cast("double") / col("n_shingles"), 6))
          .as("novelty"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
  }

  /** Quality-curriculum buckets: every document assigned to a quartile
    * of a composed prose score (stopword share up, repetition and
    * punctuation down — the [[qualityFlags]] signals folded into one
    * ordering), so a training loop can schedule data from noisy to
    * clean (curriculum) or weight buckets differently in the mixture.
    *
    * NOT an `ntile()` — a global ranking window collapses the corpus
    * into one task. Instead the three quartile thresholds are computed
    * EXACTLY in one digest-merge aggregation pass (same
    * closest-ranks-interpolation definition as [[sizePercentiles]]),
    * broadcast, and applied as a narrow when-chain: two passes total,
    * no global sort, bucket boundaries bit-identical in the oracle
    * (thresholds interpolate between round(…,6) scores both engines
    * already agree on).
    *
    * Returns (doc_id, score, bucket) with bucket 1 (noisiest quartile)
    * … 4 (cleanest); `score <= p25 → 1`, ties resolved by the shared
    * threshold doubles.
    */
  def curriculumBuckets(docs: DataFrame): DataFrame = Scoped { s =>
    // scored feeds BOTH the threshold aggregation and the bucketing
    // projection; without the cache the full qualityFlags aggregation
    // chain runs twice. Footprint is two small columns per doc, and the
    // one-row-per-doc result is returned checkpointed.
    val scored = s.cache(qualityFlags(docs).select(col("doc_id"),
      round(col("stopword_frac") - col("top_word_frac") - col("punct_frac"), 6)
        .as("score")))
    val th = scored.agg(
      expr("percentile(score, 0.25D)").as("p25"),
      expr("percentile(score, 0.5D)").as("p50"),
      expr("percentile(score, 0.75D)").as("p75"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("score"),
        when(col("score") <= col("p25"), 1)
          .when(col("score") <= col("p50"), 2)
          .when(col("score") <= col("p75"), 3)
          .otherwise(4).as("bucket"))
      .localCheckpoint(true)
  }

  /** Per-bucket curriculum report: counts and score ranges. The score
    * sum accumulates in DECIMAL(18,6) (exact, order-independent) before
    * the final double round.
    */
  def curriculumSummary(docs: DataFrame): DataFrame =
    curriculumBuckets(docs)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"),
        round(sum(col("score").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("sum_score"))
      .orderBy(col("bucket"))

  /** Full-text digests. */
  def digests(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("sha256"),
        md5(col("text")).as("md5"))
      .orderBy(col("doc_id"))

  /** Corpus-level size percentiles — the one-row summary a pipeline
    * owner checks before picking chunk sizes and batch shapes. EXACT
    * percentiles (linear interpolation between closest ranks — the same
    * definition DuckDB's `quantile_cont` uses, so the oracle matches
    * bit-for-bit), computed in ONE aggregation pass: Spark's
    * `percentile` keeps a per-partition digest and merges, so this is a
    * map-side-combined single-exchange plan, not a sort.
    */
  def sizePercentiles(docs: DataFrame): DataFrame = {
    val stats = docs.select(
      size(words(col("text"))).cast("long").as("nw"),
      length(col("text")).cast("long").as("nc"))
    def p(c: String, q: Double, name: String) =
      round(expr(s"percentile($c, ${q}D)"), 6).as(name)
    stats.agg(
      p("nw", 0.5, "p50_words"), p("nw", 0.9, "p90_words"),
      p("nw", 0.99, "p99_words"),
      p("nc", 0.5, "p50_chars"), p("nc", 0.9, "p90_chars"),
      p("nc", 0.99, "p99_chars"))
  }

  /** BM25 document retrieval (Robertson/Spärck Jones; the Lucene-style
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` idf, which is non-negative): the
    * top-k documents for a bag-of-words query. This is the classic
    * relevance score a corpus-curation pipeline uses to pull
    * topic-matched documents out of a web crawl (and the retrieval
    * baseline next to the engine's embedding search).
    *
    * Shape at 100 TB: the per-term filter applies BEFORE the explode —
    * only query-term occurrences ever enter a shuffle, so the (doc,
    * term) aggregate carries O(docs × |query|) rows, never the corpus
    * token stream. df and the corpus stats (N, avgdl) are broadcast
    * (|query| rows + 1 row); the final top-k is an `orderBy().limit()`
    * → `TakeOrderedAndProject`, no global sort.
    *
    * Hash-stability: the per-(doc, term) score is rounded to 9 dp and
    * accumulated in DECIMAL(28,9) — exact and order-independent, so the
    * cross-term sum cannot drift between engines; ties in the final
    * ordering break on doc_id.
    */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    val terms = queryTerms.distinct
    // base feeds BOTH the corpus-stats aggregate and the tf branch; the
    // term filter applies before either, so only (doc_id, dl, matched
    // terms) leaves the tokenizer, never the full token stream
    val base = Partitioning.spread(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        filter(col("ws"), w => terms.map(t => w === t).reduce(_ || _)).as("qs"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qs")).as("w"))
      .groupBy(col("doc_id"), col("dl"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    bm25Rank(tf, df, stats, k, k1, b)
  }

  /** Shared BM25 ranking tail — the identical decimal-accumulated score
    * for the from-scratch operator AND the persisted inverted index
    * ([[InvertedIndex.search]]), so the two paths cannot drift. `tf`
    * carries (doc_id, dl, w, tf); `df` (w, df); `stats` one row
    * (n_docs, sum_dl).
    */
  private[operators] def bm25Rank(tf: DataFrame, df: DataFrame, stats: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val termScore =
      log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
        sum(round(termScore, 9).cast(DecimalType(28, 9))).as("acc"))
      .select(col("doc_id"), col("n_terms_hit"),
        round(col("acc").cast("double"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Retrieval evaluation: MRR@k over a fixed query set — the lexical
    * member of the engine's evaluation family (ROC AUC for the
    * classifier, recall@k curve for the ANN index, MRR here). A doc is
    * RELEVANT to a query iff it contains every query term (the
    * conjunctive proxy a synthetic corpus supports); the metric is the
    * reciprocal rank of the first relevant doc inside the BM25 top-k,
    * 0 when none makes the cut.
    *
    * Multi-query in ONE corpus scan: the corpus tokenizes once into a
    * narrow (doc, dl, matched-terms) cache, per-term tf/df are
    * QUERY-INDEPENDENT aggregates, and the term→query fan-out is a
    * broadcast join against the literal query-term table — so q
    * queries cost one scan plus q tiny aggregates, not q scans (the
    * [[graft.operators.Search.topKMany]] batching discipline applied
    * to lexical retrieval). Per-query ranking is the bounded
    * [[graft.operators.Search.TopKAgg]], never a per-query sort of
    * the candidate set.
    */
  def bm25MrrEval(docs: DataFrame, queries: Seq[(Int, Seq[String])],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "every query needs at least one term")
    import docs.sparkSession.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qterms = queries.flatMap { case (q, ts) =>
      ts.distinct.map(t => (q, t, ts.distinct.size))
    }.toDF("query_id", "w", "n_q_terms")
    val base = Partitioning.spread(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        filter(col("ws"), w => allTerms.map(t => w === t).reduce(_ || _)).as("qs"))
      .localCheckpoint() // eager narrow cache; blocks die with the frame
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qs")).as("w"))
      .groupBy(col("doc_id"), col("dl"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val termScore =
      log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val scored = tf.join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), "w")
      .groupBy(col("query_id"), col("n_q_terms"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
        sum(round(termScore, 9).cast(DecimalType(28, 9))).as("acc"))
      .select(col("query_id"), col("n_q_terms"), col("doc_id"),
        col("n_terms_hit"), round(col("acc").cast("double"), 6).as("bm25"))
      .localCheckpoint() // feeds ranking, relevance and n_relevant
    val topkAgg = udaf(new graft.operators.Search.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Double)]())
    val ranked = scored
      .groupBy(col("query_id"))
      .agg(topkAgg(col("doc_id"), col("bm25")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p._1").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"))
    val rel = scored.filter(col("n_terms_hit") === col("n_q_terms"))
      .select(col("query_id"), col("doc_id"))
    val firstRel = ranked
      .join(rel.withColumn("relevant", lit(true)), Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(min(when(col("relevant"), col("rank"))).as("first_rel_rank"))
    val nRel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_relevant"))
    val out = firstRel.join(nRel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        col("first_rel_rank"),
        coalesce(round(lit(1.0) / col("first_rel_rank"), 6), lit(0.0))
          .as("reciprocal_rank"))
      .orderBy(col("query_id"))
    out
  }

  /** Retrieval evaluation: nDCG@k — the GRADED-relevance member of the
    * evaluation family (MRR sees only the first binary hit; nDCG
    * rewards putting higher-grade docs higher everywhere in the list).
    * Grade = number of distinct query terms the doc contains (0..|q|,
    * the graded proxy a synthetic corpus supports); gain is the
    * standard (2^g − 1)/log2(rank+1).
    *
    * The ideal ranking (IDCG) needs "all grades sorted desc" — a
    * global sort at corpus scale. Here it never materializes: grades
    * take ≤ |q|+1 VALUES, so the grade HISTOGRAM (bounded aggregate)
    * determines the ideal list — each grade occupies a contiguous rank
    * run [cum−cnt+1, min(cum, k)], and a bounded explode of those ≤ k
    * positions folds the ideal gains. Per-position terms quantize at
    * 9 dp into decimals (order-free sum); both engines share the exact
    * expression, so the 6-dp nDCG is bit-deterministic.
    */
  def bm25Ndcg(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "query must have at least one term")
    import org.apache.spark.sql.expressions.Window
    val terms = queryTerms.distinct
    val base = Partitioning.spread(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        filter(col("ws"), w => terms.map(t => w === t).reduce(_ || _)).as("qs"))
      .localCheckpoint()
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qs")).as("w"))
      .groupBy(col("doc_id"), col("dl"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val termScore =
      log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val lex = tf.join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("g"),
        sum(round(termScore, 9).cast(DecimalType(28, 9))).as("acc"))
      .select(col("doc_id"), col("g"),
        round(col("acc").cast("double"), 6).as("bm25"))
      .localCheckpoint() // feeds the ranking AND the grade histogram
    val zero9 = lit(0).cast(DecimalType(28, 9))
    def gainAt(g: Column, r: Column): Column =
      round((pow(lit(2.0), g.cast("double")) - lit(1.0)) /
        (log(r.cast("double") + lit(1.0)) / lit(math.log(2.0))), 9)
        .cast(DecimalType(28, 9))
    val dcg = lex.orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .withColumn("r", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(gainAt(col("g"), col("r")).as("t"))
      .agg(coalesce(sum(col("t")), zero9).as("dcg9"))
    val wd = Window.orderBy(col("g").desc)
    val idcg = lex.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("start", col("cum") - col("cnt") + 1)
      .filter(col("start") <= k)
      .withColumn("r", explode(sequence(col("start"),
        least(col("cum"), lit(k.toLong)))))
      .select(gainAt(col("g"), col("r")).as("t"))
      .agg(coalesce(sum(col("t")), zero9).as("idcg9"))
    val nScored = lex.agg(count(lit(1)).as("n_scored"))
    dcg.crossJoin(idcg).crossJoin(nScored)
      .select(lit(k).as("k"), col("n_scored"),
        round(col("dcg9").cast("double"), 6).as("dcg"),
        round(col("idcg9").cast("double"), 6).as("idcg"),
        when(col("idcg9") > 0,
          round(col("dcg9").cast("double") / col("idcg9").cast("double"), 6))
          .as("ndcg"))
  }

  /** Unigram-LM surprisal per document — the bounded analogue of a
    * KenLM-style language-model quality filter (CCNet/LLaMA pipelines
    * bucket documents by LM perplexity): score = −Σ tf(w)·ln p(w) / n,
    * with p(w) the corpus's OWN unigram distribution. High surprisal =
    * vocabulary the corpus rarely emits (encoding damage, token soup);
    * unusually low = boilerplate. No external model: the corpus is its
    * own reference distribution, which is what makes the operator a
    * pure dataflow (two aggregations and a join).
    *
    * Oracle-parity discipline: ln is the only transcendental — its
    * per-WORD value is rounded at 9 dp once (any engine ulp divergence
    * dies there), then multiplied by tf and summed ENTIRELY in bounded
    * decimals — DECIMAL(20,9) × DECIMAL(6,0) → DECIMAL(27,9), exact,
    * no precision-loss rescale in either engine — so the fold is
    * order-independent and bit-stable.
    *
    * Shape at 100 TB: explode → (doc_id, word) counts with map-side
    * combine; corpus frequencies aggregate the SAME pre-reduced counts
    * (never the raw token stream twice); the word-keyed equi-join
    * carries one row per distinct (doc, word); the final fold keys on
    * doc_id. Vocabulary can exceed broadcast size at corpus scale, so
    * the join stays a shuffle equi-join Catalyst may broadcast when
    * small.
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = Partitioning.spread(docs)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    // tok feeds the corpus distribution AND the per-doc fold
    val freq = tok.groupBy(col("w")).agg(sum(col("tf")).as("cf"))
    val total = freq.agg(sum(col("cf")).as("n_total"))
    val logp9 = round(-log(col("cf").cast("double") / col("n_total").cast("double")), 9)
    tok.join(freq, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        (logp9.cast(DecimalType(20, 9)) * col("tf").cast(DecimalType(6, 0))).as("nl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        round(sum(col("nl")).cast("double") / sum(col("tf")), 6).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Stopword list for the quality filter — tiny and fixed, interpolated
    * as literals into both the Spark plan and the oracle SQL.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "is", "in", "it")

  /** Gopher-style repetition / quality flags per document: the filters a
    * training-data pipeline applies before anything expensive touches a
    * document (Rae et al. 2021 §A1.1 — repetition fractions, stopword
    * presence; C4-style punctuation hygiene).
    *
    *  - `top_word_frac`   — occurrences of the most frequent word over
    *    all word occurrences: boilerplate/keyword-stuffing detector.
    *  - `top_bigram_frac` — same for adjacent word pairs: templated or
    *    looping text scores high long before exact dedup would fire.
    *  - `stopword_frac`   — share of [[stopwords]] occurrences: natural
    *    prose carries function words; token soup doesn't.
    *  - `punct_frac`      — share of characters outside
    *    `[a-zA-Z0-9 ]`: markup/code/encoding-damage detector.
    *  - `keep`            — the composed verdict with the thresholds as
    *    defaults; each is a dial, the composition is the point.
    *
    * Shape at 100 TB: every statistic is doc-LOCAL, so the whole pass
    * is per-row map work behind the scan — NO shuffle at all (readout
    * sort aside). Word and bigram counting used to be explode →
    * two-level aggregation (two full-token-stream exchanges keyed on
    * (doc_id, term) plus two doc_id joins — round-16 profile: ~28 s of
    * 59 s task-time in pipeline_clean_corpus, 2 exchanges each way);
    * the counts now come from ONE opaque per-doc fold over the already
    * codegen-split word array (a java.util.HashMap tally — O(len) per
    * doc, the same work the map-side partial aggregate did, minus the
    * network). Guide §2.3/§2.4: the decision needs only doc-local
    * state, so nothing has to cross an exchange.
    */
  private val stopwordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  private val qualityTallyAdd: java.util.function.BiFunction[
    java.lang.Long, java.lang.Long, java.lang.Long] =
    (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue)

  private val qualityStatsUdf = udf { ws0: Seq[String] =>
    // total on null input: the caller's isNotNull filter drops the row,
    // but pushdown can merge that guard into one conjunction with
    // predicates DERIVED from this UDF and evaluate them first
    // (observed: corpusReport's keep filter), so evaluation must not NPE
    val ws = if (ws0 == null) Seq.empty[String] else ws0
    val one = java.lang.Long.valueOf(1L)
    val wc = new java.util.HashMap[String, java.lang.Long]()
    var topW = 0L
    var stopC = 0L
    val it = ws.iterator
    while (it.hasNext) {
      val w = it.next()
      val c = wc.merge(w, one, qualityTallyAdd).longValue
      if (c > topW) topW = c
      if (stopwordSet.contains(w)) stopC += 1
    }
    val n = ws.length.toLong
    var topBg = 0L
    val nBg = math.max(n - 1L, 0L)
    if (nBg > 0L) {
      val bc = new java.util.HashMap[String, java.lang.Long]()
      var i = 0
      while (i < ws.length - 1) {
        val c = bc.merge(ws(i) + " " + ws(i + 1), one, qualityTallyAdd).longValue
        if (c > topBg) topBg = c
        i += 1
      }
    }
    // plain tuple, not a case class: Spark 4.1's struct-field codegen
    // trips on user case-class accessors (falls back to interpreted
    // projection with a logged CompileException); tuple fields don't
    (n, topW, stopC, topBg, nBg)
  }

  def qualityFlags(docs: DataFrame,
      minWords: Long = 10L,
      maxTopWordFrac: Double = 0.20,
      maxTopBigramFrac: Double = 0.18,
      maxPunctFrac: Double = 0.30): DataFrame = {
    // null-text docs vanish here exactly as they did from the old
    // explode → inner-join chain (split(NULL) exploded to no rows)
    val d = Partitioning.spread(docs)
      .select(col("doc_id"), trim(col("text")).as("t"))
      .withColumn("ws", split(col("t"), "\\s+"))
      .filter(col("ws").isNotNull)
      .withColumn("st", qualityStatsUdf(col("ws")))
      .select(col("doc_id"),
        col("st._1").as("n_words"), col("st._2").as("top_w"),
        col("st._3").as("stop_c"), col("st._4").as("top_bg"),
        col("st._5").as("n_bg"),
        length(col("t")).cast("long").as("n_chars"),
        (length(col("t")) -
          length(regexp_replace(col("t"), "[^a-zA-Z0-9 ]", "")))
          .cast("long").as("punct_c"))
    val topWordFrac = round(col("top_w").cast("double") / col("n_words"), 6)
    // 1-word docs have no bigrams: pin the ratio to 0 (the old left
    // join left n_bg NULL there; n_bg = 0 takes the same branch)
    val topBigramFrac = when(coalesce(col("n_bg"), lit(0L)) === 0L, lit(0.0))
      .otherwise(round(col("top_bg").cast("double") / col("n_bg"), 6))
    val stopwordFrac = round(col("stop_c").cast("double") / col("n_words"), 6)
    // whitespace-only text has n_chars = 0 after trim: pin the ratio to
    // 0 rather than leaving an engine-dependent 0/0
    val punctFrac = when(col("n_chars") === 0L, lit(0.0))
      .otherwise(round(col("punct_c").cast("double") / col("n_chars"), 6))
    d.select(
        col("doc_id"),
        col("n_words"),
        topWordFrac.as("top_word_frac"),
        topBigramFrac.as("top_bigram_frac"),
        stopwordFrac.as("stopword_frac"),
        punctFrac.as("punct_frac"),
        (col("n_words") >= minWords &&
          topWordFrac <= maxTopWordFrac &&
          topBigramFrac <= maxTopBigramFrac &&
          punctFrac <= maxPunctFrac &&
          col("stop_c") >= 1L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style intra-document repetition signal (Rae et al. 2021
    * §A1.1 "fraction of characters in duplicate n-grams"), restated on
    * word-trigram INSTANCES: the fraction of a document's trigram
    * occurrences that belong to a trigram appearing more than once in
    * that document. Complements [[qualityFlags]] — `top_word_frac` /
    * `top_bigram_frac` catch one dominant term, this catches looping
    * passages whose individual grams each repeat only a few times.
    *
    * Trigrams keep multiplicity (a zip of the word array with its two
    * shifted selves — one codegen'd pass, no self-join, unlike the
    * DISTINCT shingles the dedup paths use). Shape at 100 TB: explode →
    * two-level aggregation with map-side combine on (doc_id, gram);
    * both shuffles key on doc-bearing tuples, so skew is bounded by
    * document length, not corpus size.
    */
  /** Count-based bigram language-model cross-entropy per document — the
    * statistical-LM perplexity filter of the published curation recipes
    * (CCNet trains a KenLM and buckets documents by perplexity;
    * Wenzek et al. 2020 §4.3). The LM here is the corpus's own maximum-
    * likelihood bigram model p(w₂|w₁) = c(w₁w₂)/c(w₁·), scored on the
    * corpus it was counted from — so every bigram has support and no
    * smoothing constant has to be agreed with the oracle. Low
    * cross-entropy = predictable, fluent-for-this-corpus text; high =
    * token soup, encoding damage, or genuinely novel content — the
    * dial a curation pipeline cuts on (reported in nats; perplexity =
    * exp(ce) is monotone, left to the caller to avoid cross-engine
    * transcendental drift).
    *
    * Shape at 100 TB: bigram extraction is the [[qualityFlags]] zip of
    * the word array with its own tail; counting is two-level map-side-
    * combined aggregation on (doc, w₁, w₂) then the global (w₁, w₂)
    * model — both keyed on bigram-bearing tuples, skew bounded by
    * natural bigram frequency. The per-doc fold reuses the
    * [[unigramSurprisal]] decimal discipline: each −log p quantized at
    * 9 dp, tf-weighted in exact decimals, one mean per doc. The model
    * frames never collect; the context-count table joins on w₁.
    */
  def bigramLm(docs: DataFrame): DataFrame = {
    val base = Partitioning.spread(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2) // no bigram, no row — both engines
    val tok = base.select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      // feeds the global model AND the per-doc fold. localCheckpoint
      // (eager), not cache(): the blocks die with this frame's GC
      // instead of parking in the LRU across bench reps / growth probes
      // (the "training scratch — do not leave it to LRU" discipline;
      // a cache() here had no matching unpersist, round-7 advice)
      .localCheckpoint()
    // two consumers: the ctx rollup and the per-doc probe join
    val model = tok.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
    val ctx = model.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val logp9 = round(-log(col("c2").cast("double") / col("c1").cast("double")), 9)
    tok.join(model, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .select(col("doc_id"), col("tf"),
        (logp9.cast(DecimalType(20, 9)) * col("tf").cast(DecimalType(6, 0))).as("nl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("nl")).cast("double") / sum(col("tf")), 6).as("cross_entropy"))
      .orderBy(col("doc_id"))
  }

  def repetitionSignals(docs: DataFrame): DataFrame = {
    val d = Partitioning.spread(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
    val m = size(col("ws")) - 2
    val tri = zip_with(
      zip_with(slice(col("ws"), lit(1), m), slice(col("ws"), lit(2), m),
        (a, b) => concat(a, lit(" "), b)),
      slice(col("ws"), lit(3), m), (ab, c) => concat(ab, lit(" "), c))
    val agg = d.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(tri).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(
        sum("count").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("count") > 1L, col("count")).otherwise(0L)).as("dup_i"))
    // docs under 3 words (or with null text) carry a 0 signal, not a
    // missing row — pipeline stages gate on the fraction downstream
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(col("dup_i").cast("double") / col("n_grams"), 6))
          .as("dup_gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer-prep vocabulary analytics: the top-V corpus words by
    * frequency with each rank's CUMULATIVE share of all token
    * instances — the curve a vocab-size decision reads (how much of the
    * corpus does a V-entry vocabulary cover?).
    *
    * Shape at 100 TB: word counting is explode → map-side-combined
    * aggregate on the word key; the top-V cut is orderBy+limit
    * (`TakeOrderedAndProject` — per-partition heaps, no global sort);
    * only the V surviving rows enter the single-partition ranking
    * window, which is VOCAB-scale, not corpus-scale. The counts
    * aggregate feeds two consumers (grand total + top-V).
    */
  def vocabCoverage(docs: DataFrame, topV: Int = 50): DataFrame = {
    val counts = Partitioning.spread(docs)
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val ord = Window.orderBy(col("cnt").desc, col("w"))
    counts.orderBy(col("cnt").desc, col("w")).limit(topV)
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum",
        sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("w").as("word"), col("cnt"),
        round(col("cum").cast("double") / col("total"), 6).as("cum_frac"))
      .orderBy(col("rank"))
  }

  /** Cross-source contamination matrix: for every pair of sources that
    * share at least one distinct word-trigram shingle, the shared count
    * and the Jaccard over the sources' distinct-shingle sets — the
    * corpus-analytics view behind "how much of source B is already in
    * source A" mixture decisions.
    *
    * Shape at 100 TB: ONE exchange over the shingle stream. The
    * per-shingle source set is collect_set'd (bounded by the SOURCE
    * domain, not documents — the map-side partial set caps state at
    * |sources| per key) and pairs expand from each sorted set as a
    * bounded codegen expression, so the old shingle-keyed self-join —
    * a second full shuffle plus a join whose probe re-read the whole
    * distinct frame (round-16 profile: the join stage alone was half
    * the query's task-time) — never happens; row-identical output
    * (pairs per shingle = C(set, 2), counted per pair, as before).
    * Per-source sizes re-read the same vocabulary-sized aggregate.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // collect_set absorbs duplicate (source, shingle) rows exactly like
    // the old distinct — one exchange instead of distinct + join
    val bySh = Partitioning.spread(docs)
      .select(col("source"),
        explode(graft.operators.Dedup.shingleArray(col("text"), n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val sizes = bySh.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_sh"))
    // all ordered pairs (i < j) of the sorted set: transform-with-index
    // over the prefix element × a slice of its suffix — pure codegen,
    // ≤ C(|sources|, 2) structs per shingle
    val pairExpr = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2),
          greatest(size(col("srcs")) - i - lit(1), lit(0))),
        y => struct(x.as("source_a"), y.as("source_b")))))
    val pairs = bySh.filter(size(col("srcs")) >= 2)
      .select(explode(pairExpr).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.toDF("source_a", "n_a"), "source_a")
      .join(sizes.toDF("source_b", "n_b"), "source_b")
      .select(col("source_a"), col("source_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double")
          / (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The canonical text normalization every dedup recipe applies before
    * any digest/shingle/minhash sees the text: Unicode NFC (the custom
    * codegen [[org.apache.spark.sql.graftx.NfcNormalize]] — Spark has
    * no built-in; DuckDB's `nfc_normalize` is the oracle mirror), then
    * lowercase, then whitespace-run collapse, then trim. Order is part
    * of the contract (compose codepoints BEFORE case-mapping) and is
    * shared with the oracle SQL.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      lower(org.apache.spark.sql.graftx.TextExpressions.nfcNormalize(text)),
      "\\s+", " "))

  /** Normalization-aware exact dedup: group by the sha-256 of
    * [[normalizeText]] and report, per normalized group, how many raw
    * byte-distinct variants it absorbed and which doc survives (min
    * doc_id — the [[Dedup]] canonical-keep rule). A group with
    * `n_raw_variants > 1` is precisely a merge that plain exact dedup
    * (raw-byte digest) MISSES — the rows this operator exists to find.
    *
    * Shape at 100 TB: normalization is per-row codegen (with a
    * zero-copy fast path for already-NFC text), then ONE map-side-
    * combined aggregation on the 32-byte digest — identical cost to
    * [[Dedup.exactSummary]]; no second shuffle, no join.
    */
  def normalizedDedup(docs: DataFrame): DataFrame =
    Partitioning.spread(docs)
      .select(col("doc_id"), sha2(col("text"), 256).as("raw_sha"),
        sha2(normalizeText(col("text")), 256).as("norm_sha"))
      .groupBy(col("norm_sha"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_sha")).as("n_raw_variants"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy(col("norm_sha"))

  /** Pointwise-mutual-information collocations: the adjacent word
    * pairs that co-occur far more than their unigram frequencies
    * predict — the phrase-mining primitive (multi-word expressions,
    * entity names) every tokenizer-vocabulary and stop-phrase pass
    * starts from.
    *
    * PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) computed as ONE
    * left-to-right double expression over exact integer counts —
    * c2·N1·N1 / N2 / c_l / c_r in that associativity — so both engines
    * produce bit-identical doubles before the 6-dp round. `minCount`
    * prunes hapax pairs BEFORE the unigram joins.
    *
    * Shape at 100 TB: two vocab-bounded aggregations (bigram and
    * unigram counts, both map-side combinable), two joins keyed on
    * single words (vocab-bounded build sides), 1-row totals broadcast;
    * the top-k is TakeOrderedAndProject. Nothing scales with corpus
    * size except the two count scans.
    */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5,
      topK: Int = 20): DataFrame = {
    val base = Partitioning.spread(docs)
      .select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigrams = base.select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val unigrams = Partitioning.spread(docs)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val totals = bigrams.agg(sum(col("c2")).as("n2"))
      .crossJoin(unigrams.agg(sum(col("c1")).as("n1")))
    bigrams.filter(col("c2") >= minCount)
      .join(unigrams.toDF("w1", "cl"), "w1")
      .join(unigrams.toDF("w2", "cr"), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c2").as("pair_count"),
        round(log(col("c2").cast("double") * col("n1") * col("n1")
          / col("n2") / col("cl") / col("cr")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-source Jensen-Shannon divergence against the rest of the
    * corpus — "which source is distributionally unusual", the
    * quantitative input to mixture re-weighting (and the drift alarm
    * when a crawl snapshot shifts).
    *
    * JSD(p‖q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2, over the
    * unigram distributions of the source vs everything else. Each
    * per-word term is computed in one fixed expression over exact
    * integer counts, quantized at 9 dp into DECIMAL, and summed
    * order-free (the embedding_drift discipline) — the final 6-dp JSD
    * is bit-deterministic. Terms with p=0 or q=0 contribute only the
    * other side's half (x·ln x → 0 as x→0 is applied exactly).
    *
    * Shape: one (source, word) count aggregation (vocab × sources
    * domain — bounded), one vocab-bounded word-total join, per-source
    * decimal fold. No shuffle scales with corpus rows.
    */
  def sourceJsDivergence(docs: DataFrame): DataFrame = {
    val sw = Partitioning.spread(docs)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds word totals, source totals, and the fold
    val wordTotals = sw.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val srcTotals = sw.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val grand = sw.agg(sum(col("c")).as("n"))
    // the DENSE sources × vocab grid: a word ABSENT from a source
    // (p=0, q>0) still contributes ½·q·ln 2 — a sparse join would
    // silently drop exactly the terms that make a source unusual.
    // Both grid sides are domain-bounded (sources, vocabulary), so
    // the cross join is sources × vocab, never corpus-sized.
    val grid = srcTotals.crossJoin(wordTotals)
    val joined = grid
      .join(sw, Seq("source", "w"), "left")
      .select(col("source"), col("w"), col("ns"), col("cw"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(grand))
      .select(col("source"), col("w"),
        (col("c") > 0L).cast("long").as("present"),
        (col("c").cast("double") / col("ns")).as("p"),
        when(col("n") > col("ns"),
          (col("cw") - col("c")).cast("double") / (col("n") - col("ns")))
          .otherwise(lit(0.0)).as("q"))
    val m = (col("p") + col("q")) / lit(2.0)
    val term =
      when(col("p") > 0.0, col("p") * log(col("p") / m)).otherwise(lit(0.0)) +
      when(col("q") > 0.0, col("q") * log(col("q") / m)).otherwise(lit(0.0))
    joined
      .select(col("source"), col("present"),
        round(term * lit(0.5), 9).cast(DecimalType(28, 9)).as("t9"))
      .groupBy(col("source"))
      .agg(round(sum(col("t9")).cast("double"), 6).as("jsd"),
        sum(col("present")).as("n_words_present"))
      .orderBy(col("source"))
  }
}
