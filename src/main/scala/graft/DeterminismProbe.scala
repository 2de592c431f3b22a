package graft
import org.apache.spark.sql.SparkSession

/** Layout-determinism probe: runs a target set of contract queries
  * under local[2], local[8] and local[32] (×3 reps each — 9 runs per
  * query) and diffs the CANONICAL RESULT ROWS, not timings. Exit code
  * 1 and a full value diff on any divergence.
  *
  * Why this exists: CORRECTNESS_r09's two red rows (`join_advisor`,
  * `join_size_estimate`) passed 4/4 judge-local re-runs at local[4] —
  * a red that cannot be reproduced at one parallelism level needs an
  * instrument that varies the one thing the driver environment
  * changes: task layout (partition count, shuffle fetch order, merge
  * order of partial aggregates). Every query probed here claims
  * bit-determinism; this probe is the claim's executable form.
  *
  * Default target set = the planning/sketch family (the operators
  * whose partial-aggregate merge order varies with layout) plus the
  * md5-randomized family; `args` may name any subset of
  * [[SparkEntry.queries]] instead (plus an optional `sf:<dir>`).
  *
  * Not part of the driver contract.
  */
object DeterminismProbe {
  val defaultTargets: Seq[String] = Seq(
    "join_advisor", "join_size_estimate", "key_skew", "heavy_hitters",
    "cms_estimate", "distinct_estimate", "audience_overlap_estimate",
    "quantile_estimate", "group_quantile_estimate", "bootstrap_ci",
    "bootstrap_diff_ci", "stats_summary", "source_jaccard_kmv",
    "dedup_idf_cosine", "dedup_idf_rank", "cross_corpus_pairs",
    // round-11 additions: the decontamination composition, both
    // entropy/fraction readouts and the broadcast-vocab gate
    "pipeline_decontaminate", "eval_contamination", "ngram_diversity",
    "dedup_token_savings", "stream_contamination_gate",
    "embedding_dispersion", "dedup_containment", "zipf_alpha",
    // round-12 additions: the release-over-release drift composition,
    // the provenance rollup and the directional sketch readout
    "contamination_drift", "contamination_by_source",
    "source_containment_kmv", "lsh_recall",
    // round-13 additions: the incremental containment gate, the
    // release-over-release savings drift and the ICWS weighted-Jaccard
    // readout (md5-seeded draws + argmin — exactly the layout-merge
    // family this probe exists for)
    "containment_incremental", "dedup_savings_drift",
    "source_weighted_jaccard_icws", "lsh_recall_curve",
    // round-14 additions: the gate's single-direction cost dial, its
    // probe over the memoized persisted layout (must stay bit-identical
    // under any layout) and the persisted ICWS probe (parquet
    // round-trip + argmin)
    "containment_incremental_batch", "containment_incremental_bloom",
    "icws_persisted", "containment_incremental_persisted",
    "source_weighted_containment",
    // round-15 additions: the containment layout's append + compaction
    // lanes (parquet round-trips + the re-sort fold must replay
    // identically under any task layout), and the ICWS layout's
    // append + compaction lane (touched-group re-sketch + the
    // latest-wins fold)
    "containment_incremental_compacted", "icws_compacted")

  /** md5 of a canonical result block — what the JSON artifact records
    * per (query, level, rep) so a sweep's "37/37 stable" claim
    * reproduces from the committed file (round-14 verdict #3: sweep
    * outputs were prose; the artifact is the bench_ab pattern applied
    * here).
    */
  private def hashOf(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.find(_.startsWith("sf:")).map(_.drop(3))
      .getOrElse("/root/testdata/sf0.01")
    val outPath = args.find(_.startsWith("out:")).map(_.drop(4))
      .getOrElse("determinism_latest.json")
    val named = args.filterNot(a =>
      a.startsWith("sf:") || a.startsWith("out:"))
    val targets =
      (if (named.nonEmpty) named.toSeq else defaultTargets)
        .filter { n =>
          val known = SparkEntry.queries.contains(n)
          if (!known) println(s"[determinism] SKIP unknown query $n")
          known
        }
    var bad = 0
    // (cores, reps): 3 parallelism levels bracket the driver's range
    val levels = Seq(2, 8, 32)
    val runs: Map[String, Seq[(String, String)]] = levels.flatMap { cores =>
      val spark = SparkEntry.localSession(cores)
      spark.sparkContext.setLogLevel("ERROR")
      val out =
        for (rep <- 1 to 3; name <- targets) yield {
          val s = Verify.canonicalRows(SparkEntry.queries(name)(spark, sfDir)).mkString("\n")
          (name, (s"local[$cores] rep$rep", s))
        }
      spark.stop()
      // a fresh session per level: SparkSession.builder reuses an
      // active session, so the stop() is what makes local[N] real
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      out
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val entries = targets.map { name =>
      val variants = runs(name).groupBy(_._2)
      if (variants.size == 1)
        println(s"OK   $name: ${runs(name).size} runs identical")
      else {
        bad += 1
        println(s"FAIL $name: ${variants.size} distinct results across " +
          s"${runs(name).size} runs")
        variants.foreach { case (v, who) =>
          println(s"  --- seen by ${who.map(_._1).mkString(", ")} ---")
          println(v.linesIterator.take(12).mkString("\n"))
        }
      }
      val perRun = runs(name)
        .map { case (lbl, s) => "\"" + lbl + "\":\"" + hashOf(s) + "\"" }
        .mkString("{", ",", "}")
      "\"" + name + "\":{\"stable\":" + (variants.size == 1) +
        ",\"distinct\":" + variants.size +
        ",\"runs\":" + runs(name).size + ",\"hashes\":" + perRun + "}"
    }
    println(s"== determinism: ${targets.size - bad}/${targets.size} stable")
    // the committed-artifact form of the line above: per-target
    // per-(level, rep) result hashes, so the claim greps from the repo
    val json = "{\"sf\":\"" + sfDir + "\",\"levels\":" +
      levels.mkString("[", ",", "]") + ",\"reps\":3,\"stable\":" +
      (targets.size - bad) + ",\"targets\":" + targets.size +
      ",\"queries\":" + entries.mkString("{", ",", "}") + "}"
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[determinism] could not write $outPath: ${e.getMessage}") }
    if (bad > 0) sys.exit(1)
  }
}
