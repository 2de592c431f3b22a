package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Improved Consistent Weighted Sampling (Ioffe 2010) — the WEIGHTED
  * generalization of the MinHash family: for weighted sets A, B (e.g.
  * tf-weighted vocabularies), each ICWS sample collides with
  * probability exactly the generalized Jaccard
  * J_w = Σ_e min(a_e, b_e) / Σ_e max(a_e, b_e), so k independent
  * samples estimate J_w unbiasedly at variance J(1−J)/k — the
  * dedup-family answer to "these two feeds share vocabulary, but do
  * they share its USAGE?" (plain set Jaccard treats a term mentioned
  * once and a thousand times identically; [[Kmv.groupedJaccard]] is
  * the unweighted sibling from the same seat).
  *
  * Sampling scheme (Ioffe's ICWS, per element e with weight w and
  * sample index i): with r, c ~ Gamma(2, 1) and β ~ U(0, 1) all drawn
  * from md5-seeded uniforms keyed on (salt, i, tag, e) — deliberately
  * NOT on the group, so the same element draws identically in every
  * group, which is what makes collisions meaningful —
  *
  *   t   = ⌊ln w / r + β⌋
  *   ln a = ln c − r·(t + 1 − β)
  *
  * and the sample is the (e, t) of the minimal a. Every transcendental
  * (each ln) is 9-dp-quantized IMMEDIATELY so the chain replays
  * bit-for-bit in any engine with md5 and IEEE doubles (the
  * bootstrap_ci / zipf_alpha discipline: +, ×, /, floor on identical
  * doubles are exactly rounded everywhere; only ln/exp differ by ulps
  * across libms). Argmin ties break on (element, t) — a total order.
  *
  * The readout reports the sketch ESTIMATE next to the EXACT weighted
  * Jaccard per group pair (the minhash_estimate_error calibration
  * pattern): exact J_w needs only the SHARED-element min mass because
  * Σ max = tot_A + tot_B − Σ_shared min — one elem-keyed equi-join,
  * never a dense grid.
  *
  * Shape at 100 TB: the corpus-sized pass is the (group, elem) weight
  * aggregate (map-side combinable); the k-expansion and its 5 md5
  * draws run over the AGGREGATED vocabulary domain, not raw rows; the
  * sketch table is ≤ maxGroups × k rows and pairs via an i-keyed
  * equi-join (per-key multiplicity = group count, gated in-plan by
  * [[Partitioning.requireBoundedDomain]]); the exact side's join
  * multiplicity per element is likewise group-bounded. Nothing
  * collects to the driver.
  */
object Icws {

  /** md5-mantissa uniform in [0, 1): first 12 hex digits of
    * md5(salt:tag:i:elem) + 0.5 over 16^12 — an exact dyadic double,
    * identical in any md5-capable engine.
    */
  private def draw(tag: String, i: Column, elem: Column, salt: String): Column =
    (conv(substring(md5(concat(lit(s"$salt:$tag:"), i.cast("string"),
      lit(":"), elem)), 1, 12), 16, 10).cast("long").cast("double")
      + lit(0.5)) / lit(math.pow(16.0, 12))

  private def r9(c: Column): Column = round(c, 9)

  /** Per-group-pair weighted-Jaccard: ICWS estimate vs exact, with the
    * absolute error — one row per unordered group pair. `rows` carries
    * (groupCol, elemCol, weightCol); duplicate (group, elem) rows sum
    * their weights; non-positive summed weights drop (ln undefined —
    * a weight of zero IS absence).
    */
  /** The summed positive (g, e, w) weight table every ICWS consumer
    * derives from — one definition so the build path and the persisted
    * layout can never disagree on the weighting scheme.
    */
  private def weightsOf(rows: DataFrame, groupCol: String, elemCol: String,
      weightCol: String): DataFrame =
    rows.groupBy(col(groupCol).as("g"), col(elemCol).as("e"))
      .agg(sum(col(weightCol)).cast("double").as("w"))
      .filter(col("w") > 0)

  /** The k-sample ICWS sketch table (g, i, se, st) over a prepared
    * weight table — the Ioffe chain from the object scaladoc, every ln
    * 9-dp-quantized immediately.
    */
  private def sketchOf(wts: DataFrame, k: Int, salt: String): DataFrame = {
    val expanded = wts
      .select(col("g"), col("e"), col("w"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
    val ur = draw("r1", col("i"), col("e"), salt) *
      draw("r2", col("i"), col("e"), salt)
    val uc = draw("c1", col("i"), col("e"), salt) *
      draw("c2", col("i"), col("e"), salt)
    val ub = draw("b", col("i"), col("e"), salt)
    // degenerate-draw clamp (round-13 advice): a uniform product within
    // ~5e-10 of 1.0 has its ln 9-dp-quantize to exactly 0, which would
    // divide t by zero (and Spark's LONG floor vs DuckDB's DOUBLE floor
    // disagree on the ±Inf that follows) — clamping to 1e-9, the
    // smallest positive 9-dp value, keeps the chain finite and IDENTICAL
    // in every replaying engine; the same greatest() guards the Gamma
    // draw feeding lnc (ln(0) is NULL in Spark but -inf elsewhere)
    val scored = expanded
      .withColumn("lr",
        greatest(r9(-log(ur)), lit(1e-9)))             // r ~ Gamma(2,1)
      .withColumn("lnc",
        r9(log(greatest(-r9(log(uc)), lit(1e-9)))))    // ln of Gamma(2,1)
      .withColumn("ub", ub)
      .withColumn("t", floor(r9(log(col("w"))) / col("lr") + col("ub")))
      .withColumn("lna",
        r9(col("lnc") - col("lr") * (col("t") + lit(1.0) - col("ub"))))
    scored.groupBy(col("g"), col("i"))
      .agg(min(struct(col("lna"), col("e"), col("t"))).as("s"))
      .select(col("g"), col("i"),
        col("s.e").as("se"), col("s.t").as("st"))
  }

  /** The pair readout over prepared (sketch, weights, gated totals)
    * frames — shared verbatim by the from-rows path and the persisted
    * probe so the two can never drift.
    */
  private def readout(sk: DataFrame, wts: DataFrame, tot: DataFrame,
      k: Int): DataFrame = {
    val est = sk.as("a").join(sk.as("b"),
        col("a.i") === col("b.i") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"))
      .agg(sum(when(col("a.se") === col("b.se") &&
        col("a.st") === col("b.st"), 1L).otherwise(0L)).as("matches"))
    // ---- exact side: Σ min over SHARED elements; Σ max falls out of
    // the totals identity (min(a,0) = 0 for one-sided elements)
    val shared = wts.as("x").join(wts.as("y"),
        col("x.e") === col("y.e") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("group_a"), col("y.g").as("group_b"))
      .agg(sum(least(col("x.w"), col("y.w"))).as("sm"))
    est
      .join(tot.select(col("g").as("group_a"), col("tot").as("ta")), "group_a")
      .join(tot.select(col("g").as("group_b"), col("tot").as("tb")), "group_b")
      .join(shared, Seq("group_a", "group_b"), "left")
      .select(col("group_a"), col("group_b"), lit(k.toLong).as("k"),
        round(col("matches").cast("double") / lit(k.toDouble), 6)
          .as("est_weighted_jaccard"),
        round(coalesce(col("sm"), lit(0.0)) /
          (col("ta") + col("tb") - coalesce(col("sm"), lit(0.0))), 6)
          .as("exact_weighted_jaccard"))
      .withColumn("abs_err", round(abs(col("est_weighted_jaccard") -
        col("exact_weighted_jaccard")), 6))
      .orderBy(col("group_a"), col("group_b"))
  }

  def weightedJaccardIcws(rows: DataFrame, groupCol: String, elemCol: String,
      weightCol: String, k: Int = 32, maxGroups: Int = 1024,
      salt: String = "icws"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxGroups >= 2, s"maxGroups must be >= 2, got $maxGroups")
    val wts = weightsOf(rows, groupCol, elemCol, weightCol)
    // in-plan group-domain gate: the i-keyed sketch join below has
    // per-key multiplicity = |groups| and the pair output is
    // |groups|² — the same bound every grouped-sketch operator wears
    val tot = Partitioning.requireBoundedDomain(
      wts.groupBy(col("g")).agg(sum(col("w")).as("tot")),
      groupCol, "weightedJaccardIcws", maxGroups)
    // ---- sketch side: k ICWS samples per (group, elem) over the
    // AGGREGATED vocabulary (5 md5 draws each, ln's 9-dp-quantized)
    readout(sketchOf(wts, k, salt), wts, tot, k)
  }

  /** EXACT weighted directional containment per unordered group pair —
    * C(A→B) = Σ_e min(a_e, b_e) / Σ_e a_e, how much of A's weighted
    * mass sits inside B. The weighted sibling of
    * [[Kmv.groupedContainment]] (set-valued, sketched) and the
    * directional complement of [[weightedJaccardIcws]]'s symmetric
    * Σmin/Σmax: a feed whose tf-weighted USAGE lies inside another's
    * is redundant even when the symmetric measure looks small — the
    * "drop this source" signal on the weighted axis.
    *
    * No sketch and no estimate: the measure is exact from one
    * (group, elem) weight aggregate plus the same elem-keyed equi-join
    * the ICWS readout's exact side pays (per-key multiplicity = group
    * count); the pair domain is the gated totals self-join (|groups|²
    * rows, bounded in-plan by [[Partitioning.requireBoundedDomain]]).
    * Weights fold as 9-dp DECIMAL(28,9) sums at EVERY aggregate
    * (order-free in any task layout — the bootstrap_ci discipline), so
    * the 6-dp readout replays bit-for-bit in any engine. Pairs sharing
    * no element report explicit 0.0 rows rather than going missing —
    * the TOTAL-verdict convention.
    *
    * WEIGHTING-SCHEME NOTE (round-14 advice): this decimal ladder
    * quantizes each input weight to 9 dp BEFORE summing, while the
    * ICWS siblings' shared [[weightsOf]] sums raw doubles — for
    * NON-INTEGER input weights the two can disagree on the weight
    * table itself below the 9th decimal (and double-sum results are
    * additionally task-layout-dependent, which is WHY this exact
    * operator pays the decimal ladder). Over integer weights — tf
    * counts, the contract shape — the schemes coincide exactly.
    */
  def weightedContainment(rows: DataFrame, groupCol: String,
      elemCol: String, weightCol: String,
      maxGroups: Int = 1024): DataFrame = {
    require(maxGroups >= 2, s"maxGroups must be >= 2, got $maxGroups")
    val wts = rows
      .groupBy(col(groupCol).as("g"), col(elemCol).as("e"))
      .agg(sum(round(col(weightCol).cast("double"), 9)
        .cast("decimal(28,9)")).as("w"))
      .filter(col("w") > 0)
    val tot = Partitioning.requireBoundedDomain(
      wts.groupBy(col("g")).agg(sum(col("w")).as("tot")),
      groupCol, "weightedContainment", maxGroups)
    val shared = wts.as("x").join(wts.as("y"),
        col("x.e") === col("y.e") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("group_a"), col("y.g").as("group_b"))
      .agg(sum(least(col("x.w"), col("y.w"))).as("sm"))
    tot.as("a").join(tot.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.tot").as("ta"), col("b.tot").as("tb"))
      .join(shared, Seq("group_a", "group_b"), "left")
      .select(col("group_a"), col("group_b"),
        round(coalesce(col("sm"), lit(0)).cast("double") /
          col("ta").cast("double"), 6).as("contain_a_in_b"),
        round(coalesce(col("sm"), lit(0)).cast("double") /
          col("tb").cast("double"), 6).as("contain_b_in_a"))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Layout root for the persisted-sketch contract query (the
    * [[graft.operators.Dedup.indexDumpPath]] convention; single-process
    * assumption — see [[Dedup.containmentIndexDumpPath]]: concurrent
    * harness mains must override the sys-prop per process).
    */
  val sketchDumpPath: String =
    sys.props.getOrElse("graft.icws.sketch.dump",
      "/tmp/graft_oracle_icws_sketch")

  private val layout = LayoutManifest("ICWS-sketch", "persistSketches")

  /** Materialize the ICWS layout under `path`: `sketches/` (g, i, se,
    * st — groups × k rows, the compact probe artifact), `totals/`
    * (g, tot) and `weights/` (g, e, w — the exact side's index, the
    * [[Dedup.persistDedupIndex]] shingle-table analogue) parquet
    * tables, plus a `manifest.json` recording k and a `salt` file —
    * BOTH are part of the LAYOUT (a probe over a different k would
    * compare nothing; an append re-sketching under a different salt
    * would draw samples that can never collide with the base sketches,
    * silently zeroing every cross-era estimate), so every read derives
    * them from the layout, never from caller arguments. Build once
    * per release, then any number of pair probes run without
    * re-aggregating the corpus or re-drawing a single md5 sample —
    * the sketch build is the only corpus-sized pass. A rebuild drops
    * committed [[appendSketches]] batches (re-derivable from the
    * corpus the rebuild scanned).
    */
  def persistSketches(rows: DataFrame, groupCol: String, elemCol: String,
      weightCol: String, path: String, k: Int = 32, maxGroups: Int = 1024,
      salt: String = "icws"): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the [[LayoutManifest]] rebuild: a rebuild dying mid-way leaves a
    // layout the probe refuses instead of NEW sketches silently joined
    // against OLD weights
    layout.rebuild(rows.sparkSession, path, "k" -> k) {
      Scoped { s =>
        val wts = s.cache(weightsOf(rows, groupCol, elemCol, weightCol))
        // the gate rides the build: a layout that would blow the pair
        // probe up refuses to materialize at all
        Partitioning.requireBoundedDomain(
          wts.groupBy(col("g")).agg(sum(col("w")).as("tot")),
          groupCol, "persistSketches", maxGroups)
          .write.mode("overwrite").parquet(s"$path/totals")
        sketchOf(wts, k, salt)
          .write.mode("overwrite").parquet(s"$path/sketches")
        wts.write.mode("overwrite").parquet(s"$path/weights")
      }
      writeSalt(rows.sparkSession.sparkContext.hadoopConfiguration, path, salt)
    }
  }

  /** The sampling salt is layout state ([[persistSketches]] scaladoc);
    * stored as its own UTF-8 file because [[LayoutManifest]]'s schema
    * is integer-only by design. Written BEFORE the manifest commit
    * marker, so a committed layout always carries it.
    */
  private def writeSalt(conf: org.apache.hadoop.conf.Configuration,
      path: String, salt: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "salt")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(salt.getBytes("UTF-8")) finally out.close()
  }

  private def readSalt(conf: org.apache.hadoop.conf.Configuration,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path, "salt")
    val fs = p.getFileSystem(conf)
    require(fs.exists(p),
      s"no ICWS salt file at $p — not a persistSketches layout")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** One layout table over base + the given batch dirs. `withSeq`
    * tags base rows seq 0 (batch tables store their own seq column) —
    * the latest-wins resolution key for the REPLACED tables (sketches,
    * totals); the additive weights table reads without it.
    */
  private def tableView(spark: org.apache.spark.sql.SparkSession,
      path: String, table: String, dirs: Seq[String],
      withSeq: Boolean): DataFrame = {
    val base = s"$path/$table"
    layout.view(path, table, dirs) { d =>
      val t = spark.read.parquet(d)
      if (withSeq && d == base) t.withColumn("seq", lit(0L)) else t
    }
  }

  /** Latest-batch-wins per group over a seq-tagged table view: the
    * group's rows from its highest committed seq (0 = base). A
    * groups-bounded aggregate + equi-join — never corpus-sized.
    */
  private def resolveLatest(df: DataFrame): DataFrame =
    df.join(df.groupBy(col("g")).agg(max(col("seq")).as("seq")),
      Seq("g", "seq")).drop("seq")

  /** [[resolveLatest]] over one replaced table, with the batch-less
    * fast path: no committed batches → the base table IS the view
    * (no seq tagging, no resolution join — the build-only probe keeps
    * its original plan).
    */
  private def resolvedView(spark: org.apache.spark.sql.SparkSession,
      path: String, table: String, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.read.parquet(s"$path/$table")
    else resolveLatest(tableView(spark, path, table, dirs, withSeq = true))

  /** The committed ADDITIVE weight view: base + batch contributions
    * re-aggregated per (g, e), positivity filter applied ONCE at the
    * view — exactly [[weightsOf]] over the union of every era's rows
    * (for the non-negative weights the tf-count contract ships; see
    * [[appendSketches]]). Batch-less fast path: the base table is
    * already per-(g, e) unique and positive, so it reads as-is.
    */
  private def weightsView(spark: org.apache.spark.sql.SparkSession,
      path: String, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.read.parquet(s"$path/weights")
    else tableView(spark, path, "weights", dirs, withSeq = false)
      .groupBy(col("g"), col("e")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)

  /** Append a weighted-rows batch to a [[persistSketches]] layout —
    * the lane that closes the persisted-index family's last lifecycle
    * asymmetry (dedup, BM25, IVF and the containment layout all take
    * committed appends; ICWS was rebuild-only). The batch's three
    * tables are one [[LayoutManifest]] append batch, visible only once
    * all three are written. k and the salt come from
    * the layout, never from the caller — an append can neither sample
    * at a different k nor draw under a different salt.
    *
    * WHY THIS IS EXACT (for non-negative weights — the tf-count
    * contract; a negative weight could cancel a (g, e) row the build's
    * positivity filter already dropped, and the layout would have
    * nothing to cancel it against):
    *  - weights are ADDITIVE: the batch stores its raw per-(g, e) sums
    *    unfiltered, and the committed view re-aggregates base + batch
    *    rows then filters once — exactly [[weightsOf]] over the merged
    *    rows.
    *  - sketches are NOT additive, but ICWS draws key on
    *    (salt, i, tag, e) and never on the group, so a TOUCHED group's
    *    sketch recomputes exactly from its merged weight rows alone —
    *    no other group's state enters. The append re-sketches only the
    *    groups the batch touches (touched-vocabulary-sized work, never
    *    corpus-sized) and the probe resolves latest-batch-wins per
    *    group; untouched groups keep their base sketches, which remain
    *    exact because their weights did not change.
    *  - totals replace like sketches: the batch stores the FULL
    *    post-append totals frame (touched groups re-summed from the
    *    merged weights, untouched groups carried from the resolved
    *    pre-view — value-identical either way, and the frame is
    *    ≤ maxGroups rows by the gate, so "full" is bounded, not
    *    corpus-sized).
    * The in-plan group-domain gate rides the totals write over the
    * FULL post-append domain: an append that would push the layout
    * past `maxGroups` refuses to commit, the same refusal the build
    * gives an oversize corpus.
    */
  def appendSketches(rows: DataFrame, groupCol: String, elemCol: String,
      weightCol: String, path: String, maxGroups: Int = 1024): Unit = {
    val spark = rows.sparkSession
    val Seq(k) = layout.fields(spark, path, "k")
    val salt = readSalt(spark.sparkContext.hadoopConfiguration, path)
    val prior = layout.committed(spark, path)
    val seq = prior.size + 1L
    // raw batch contribution: per-(g, e) sums UNFILTERED — the
    // committed view filters once after re-aggregation, so a zero
    // contribution stays a no-op instead of resurrecting a dropped row
    val batchWts = rows
      .groupBy(col(groupCol).as("g"), col(elemCol).as("e"))
      .agg(sum(col(weightCol)).cast("double").as("w"))
    layout.append(spark, path) { dir =>
      batchWts.write.parquet(s"$dir/weights")
      val written = spark.read.parquet(s"$dir/weights")
      Scoped { s =>
        // merged weights of the TOUCHED groups: committed view ∪ this
        // batch, re-aggregated — the re-sketch input
        val merged = s.cache(weightsView(spark, path, prior).unionByName(written)
          .join(written.select(col("g")).distinct(), Seq("g"), "left_semi")
          .groupBy(col("g"), col("e")).agg(sum(col("w")).as("w"))
          .filter(col("w") > 0))
        val newTot = merged.groupBy(col("g")).agg(sum(col("w")).as("tot"))
        val untouched = resolvedView(spark, path, "totals", prior)
          .join(written.select(col("g")).distinct(), Seq("g"), "left_anti")
        // the batch's totals table IS the full post-append totals frame,
        // so the domain gate rides exactly the written frame — the
        // persistSketches pattern, giving appends the build's refusal
        Partitioning.requireBoundedDomain(
          untouched.unionByName(newTot), groupCol,
          "appendSketches", maxGroups)
          .withColumn("seq", lit(seq))
          .write.parquet(s"$dir/totals")
        sketchOf(merged, k, salt).withColumn("seq", lit(seq))
          .write.parquet(s"$dir/sketches")
      }
    }
  }

  /** Compact a [[persistSketches]] layout: fold every batch committed
    * at the snapshot into the three base tables — weights by exact
    * additive re-aggregation, sketches and totals by the same
    * latest-batch-wins resolution the probe applies (so the fold
    * materializes exactly what the probe was already reading; no
    * corpus rescan, no md5 redraw anywhere). The compacted tables are
    * row-identical to a fresh rebuild over the merged rows (pinned in
    * IcwsSpec): whichever batch last touched a group sketched it over
    * that group's FULL merged weights, and no later batch changed
    * them. The [[LayoutManifest]] compaction publishes the fold; the
    * manifest (k) and salt are layout metadata and never change in it.
    */
  def compactSketches(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    layout.compact(spark, path, "weights", "totals", "sketches") {
      (snapshot, staged) =>
        weightsView(spark, path, snapshot).write.parquet(staged("weights"))
        for (t <- Seq("totals", "sketches"))
          resolveLatest(tableView(spark, path, t, snapshot, withSeq = true))
            .write.parquet(staged(t))
    }

  /** Pair probe over a [[persistSketches]] layout — row-for-row
    * identical to [[weightedJaccardIcws]] on the rows the layout was
    * built from plus every COMMITTED [[appendSketches]] batch (the
    * readout is shared verbatim; parquet round-trips doubles exactly;
    * an uncommitted append batch is invisible),
    * with NO corpus-sized work: the probe reads the committed view of
    * the three bounded tables — weights re-aggregated additively,
    * sketches and totals resolved latest-batch-wins per group — and
    * pays only the i-keyed sketch join, the elem-keyed exact join and
    * the pair readout.
    */
  def weightedJaccardIcwsPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String, maxGroups: Int = 1024): DataFrame = {
    val Seq(k) = layout.fields(spark, path, "k")
    val dirs = layout.committed(spark, path)
    // re-gate on read: the pair join is |groups|² no matter where the
    // layout came from
    val tot = Partitioning.requireBoundedDomain(
      resolvedView(spark, path, "totals", dirs),
      "g", "weightedJaccardIcwsPersisted", maxGroups)
    readout(resolvedView(spark, path, "sketches", dirs),
      weightsView(spark, path, dirs), tot, k)
  }
}
