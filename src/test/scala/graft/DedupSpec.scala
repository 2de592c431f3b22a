package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{array_contains, col}
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today", "a"),
    (2L, "the quick brown fox jumps over the lazy dog tonight", "a"), // near-dup of 1
    (3L, "completely different text with no overlap at all here", "b"),
    (4L, "the quick brown fox jumps over the lazy dog today", "b")    // exact dup of 1
  ).toDF("doc_id", "text", "source")

  test("exactSummary finds the exact duplicate") {
    val r = Dedup.exactSummary(docs).head()
    assert(r.getAs[Long]("n_docs") == 4 && r.getAs[Long]("n_distinct") == 3 &&
      r.getAs[Long]("n_dup_docs") == 1 && r.getAs[Long]("n_dup_groups") == 1)
  }

  test("ngramJaccardPairs finds near-dups") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 4L)) && exact.contains((1L, 2L)))
  }

  test("prefix-filtered Jaccard equals brute force on random corpora") {
    // the losslessness of the prefix-filter candidate scheme, pinned
    // empirically against an in-memory all-pairs computation over
    // seeded random word-soup corpora with planted near-dups
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val base = (1 to 40).map { id =>
      val n = 5 + rnd.nextInt(15)
      (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val corpus = base ++ base.take(5).map { case (id, txt) =>
      (id + 1000L, txt + " omega")
    }
    for (t <- Seq(0.4, 0.7)) {
      val got = Dedup.ngramJaccardPairs(corpus.toDF("doc_id", "text"), t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      def shingleSet(s: String): Set[String] = {
        val ws = s.trim.split("\\s+")
        (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
      }
      val sets = corpus.map { case (id, txt) => (id, shingleSet(txt)) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (a, b, j)).toSet
      assert(got == want, s"t=$t: got=${got.size} want=${want.size}")
      assert(want.nonEmpty, s"degenerate corpus at t=$t")
    }
  }

  test("threshold boundary: J exactly == t survives FP arithmetic") {
    // 0.55*100 = 55.000000000000007 in IEEE double: naive t*n bounds in
    // the prefix length and the size-ratio prune would silently drop
    // this J == t pair; the epsilon-conservative bounds must keep it
    val words = (0 until 102).map(i => s"w$i")
    val a = words.mkString(" ")            // 100 distinct shingles
    val b = words.take(57).mkString(" ")   // 55 shingles, all within A
    val pair = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(pair, 0.55).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.55,
      s"got ${got.mkString(",")}")
  }

  test("minhashLshPairs recovers exact and near duplicates") {
    val got = Dedup.minhashLshPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.exists(p => p._1 == 1 && p._2 == 4 && p._3 == 1.0))
  }

  test("simhash: exact dups share the hash; pairs found via blocking") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    val pairs = Dedup.simhashPairs(docs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("spanDedup cuts repeated blocks corpus-wide, keeping the first occurrence") {
    val d = Seq(
      (1L, "a b c d e f g h", "s"),        // blocks [a b c d][e f g h]
      (2L, "a b c d e f g h", "s"),        // exact dup → fully cut
      (3L, "a b c d x y z w", "s"),        // first block dup, second unique
      (4L, "p q r s p q r s p q", "s")     // intra-doc dup + trailing partial
    ).toDF("doc_id", "text", "source")
    val got = operators.Dedup.spanDedup(d, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((2L, 2L, "a b c d e f g h")), "first occurrence keeps everything")
    assert(got(2L) == ((2L, 0L, "")), "exact duplicate loses every block")
    assert(got(3L) == ((2L, 1L, "x y z w")), "shared prefix block cut, unique tail kept")
    // doc 4: blocks [p q r s][p q r s][p q] — the second is an intra-doc repeat
    assert(got(4L) == ((3L, 2L, "p q r s p q")), "intra-doc repeat cut, partial tail kept")
  }

  test("spanDedup total kept blocks equals distinct block count") {
    val d = Seq(
      (1L, "a b c d e f g h", "s"), (2L, "a b c d e f g h", "s"),
      (3L, "e f g h a b c d", "s"), (4L, "q r", "s")
    ).toDF("doc_id", "text", "source")
    val rows = operators.Dedup.spanDedup(d, 4).collect()
    // distinct blocks: "a b c d", "e f g h", "q r" → 3 survivors corpus-wide
    assert(rows.map(_.getLong(2)).sum == 3L)
    assert(rows.map(_.getLong(1)).sum == 7L)
  }

  test("incrementalFlags: batch checked against history only, both dup kinds flagged") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val history = Seq(
      (1L, base, "s"),
      (2L, "completely different content about database engines and joins", "s"))
      .toDF("doc_id", "text", "source")
    val incoming = Seq(
      (10L, base, "s"),                                    // exact copy of history 1
      (11L, base.replace("dog", "cat"), "s"),              // near-dup of history 1
      (12L, "fresh unseen words nothing shared with either prior document", "s"),
      (13L, base, "s"))                                    // exact copy AND dup of 10 within batch
      .toDF("doc_id", "text", "source")
    val got = Dedup.incrementalFlags(incoming, history, 0.5).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(got(10L) == ((true, true, false)), "exact copy flags both and drops")
    assert(got(11L)._2 && !got(11L)._1 && !got(11L)._3, "near-dup flags near only")
    assert(got(12L) == ((false, false, true)), "fresh doc keeps")
    // batch-internal duplication is deliberately NOT this operator's
    // concern: 13 flags against history exactly like 10 does
    assert(got(13L) == got(10L))
    assert(got.size == 4, "every incoming doc appears exactly once")
  }

  test("shingleArray emits distinct shingles, the jaccardUdf precondition") {
    // the verify UDF counts |A∩B| by probing one side's hash set with
    // the other side's elements and takes |A∪B| = |A| + |B| − |A∩B|, so
    // a repeated shingle would be counted twice and inflate the score
    val text = "a b c a b c a b c d"
    val sh = Seq((1L, text)).toDF("doc_id", "text")
      .select(Dedup.shingleArray(col("text"))).head().getSeq[String](0)
    assert(sh.size == sh.distinct.size, s"repeated shingles: $sh")
    assert(sh.toSet == Set("a b c", "b c a", "c a b", "b c d"))
  }

  test("persisted dedup index: parity, committed appends visible, uncommitted invisible") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val history = Seq((1L, base, "s"),
      (2L, "completely different content about database engines and joins", "s"))
      .toDF("doc_id", "text", "source")
    val incoming = Seq(
      (10L, base, "s"), (11L, base.replace("dog", "cat"), "s"),
      (12L, "fresh unseen words nothing shared with either prior document", "s"))
      .toDF("doc_id", "text", "source")
    val path = java.nio.file.Files.createTempDirectory("dedup_idx").toString
    Dedup.persistDedupIndex(history, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    // parity with the direct from-text path
    assert(rows(Dedup.incrementalFlagsPersisted(incoming, path, 0.5))
      == rows(Dedup.incrementalFlags(incoming, history, 0.5)))
    // append the accepted survivor; its replay is now caught
    Dedup.appendDedupIndex(
      incoming.filter(col("doc_id") === 12L), path)
    val replay = Seq((20L, "fresh unseen words nothing shared with either prior document", "s"))
      .toDF("doc_id", "text", "source")
    assert(rows(Dedup.incrementalFlagsPersisted(replay, path, 0.5))
      == Seq((20L, true, true, false)), "appended batch participates in history")
    // an uncommitted batch (tables written, no _COMMITTED marker) is
    // invisible: write one by hand and strip the marker
    Dedup.appendDedupIndex(
      Seq((99L, "torn batch content that must stay invisible to readers", "s"))
        .toDF("doc_id", "text", "source"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // strip the marker from the torn-content batch
    val tornDir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/batches"))
      .map(_.getPath)
      .find { p =>
        val d = spark.read.parquet(s"$p/shingles")
        d.filter(array_contains(col("sh"), "torn batch content")).count() > 0
      }.get
    fs.delete(new org.apache.hadoop.fs.Path(tornDir, "_COMMITTED"), false)
    val probe = Seq((30L, "torn batch content that must stay invisible to readers", "s"))
      .toDF("doc_id", "text", "source")
    assert(rows(Dedup.incrementalFlagsPersisted(probe, path, 0.5))
      == Seq((30L, false, false, true)), "uncommitted batch must be invisible")
    // a directory without a manifest is not a layout — loud error, not
    // a silent zero-near-dup probe
    val bare = java.nio.file.Files.createTempDirectory("not_an_index").toString
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalFlagsPersisted(probe, bare, 0.5)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("compactDedupIndex: flag-invariant, batches folded, uncommitted preserved") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val history = Seq((1L, base, "s")).toDF("doc_id", "text", "source")
    val path = java.nio.file.Files.createTempDirectory("dedup_compact").toString
    Dedup.persistDedupIndex(history, path)
    Dedup.appendDedupIndex(Seq(
      (2L, "completely different content about database engines and joins", "s"))
      .toDF("doc_id", "text", "source"), path)
    Dedup.appendDedupIndex(Seq(
      (3L, "fresh unseen words nothing shared with either prior document", "s"))
      .toDF("doc_id", "text", "source"), path)
    // an uncommitted batch: must survive the fold untouched, invisible
    Dedup.appendDedupIndex(Seq(
      (99L, "torn batch content that must stay invisible to readers", "s"))
      .toDF("doc_id", "text", "source"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tornDir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/batches"))
      .map(_.getPath)
      .find { p =>
        spark.read.parquet(s"$p/shingles")
          .filter(array_contains(col("sh"), "torn batch content")).count() > 0
      }.get
    fs.delete(new org.apache.hadoop.fs.Path(tornDir, "_COMMITTED"), false)
    val probe = Seq(
      (10L, base.replace("dog", "cat"), "s"),                       // near-dup of base
      (11L, "fresh unseen words nothing shared with either prior document", "s"), // exact of batch 2
      (12L, "torn batch content that must stay invisible to readers", "s"), // matches ONLY the torn batch
      (13L, "genuinely new material overlapping nothing at all anywhere", "s"))
      .toDF("doc_id", "text", "source")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    val before = rows(Dedup.incrementalFlagsPersisted(probe, path, 0.5))
    Dedup.compactDedupIndex(spark, path)
    val after = rows(Dedup.incrementalFlagsPersisted(probe, path, 0.5))
    assert(after == before, "compaction changed incremental flags")
    assert(after.find(_._1 == 12L).get == ((12L, false, false, true)),
      "the torn batch stays invisible after the fold")
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/batches"))
      .map(_.getPath.getName).toSeq
    assert(left == Seq(tornDir.getName),
      s"committed batches must fold away, got $left")
    // the folded base now holds the appended docs' shingles directly
    assert(spark.read.parquet(s"$path/shingles").count() == 3L)
    // idempotent: the only remaining batch is uncommitted → no-op
    Dedup.compactDedupIndex(spark, path)
    assert(rows(Dedup.incrementalFlagsPersisted(probe, path, 0.5)) == before)
  }

  test("keepCanonical keeps lowest doc_id per group") {
    val r = Dedup.keepCanonical(docs).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(r == Seq(("a", 2L, 2L, 0L), ("b", 2L, 1L, 1L))) // doc 4 dropped (dup of 1)
  }

  test("embeddingNearDup maps duplicates to their lowest-id keeper") {
    // ids 1 and 2 are exact duplicates (cosine 1.0, identical bucket in
    // every band); 3 points elsewhere. The verified pair (1,2) must be
    // counted ONCE despite surfacing as a candidate in all 4 bands
    // (candidate-distinct before the verify), mapping dup 2 → keeper 1.
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(-1f, 2f, -2f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(e, 0.9, dim = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == Seq((2L, 1L, 1.0, 1L)), s"got ${got.mkString(",")}")
  }

  test("embeddingNearDup / embeddingTopPairs guard degenerate params") {
    val e = Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](Dedup.embeddingNearDup(e, 0.9, bands = 0, dim = 4))
    intercept[IllegalArgumentException](Dedup.embeddingTopPairs(e, 10, blocks = 0))
  }

  test("embeddingTopPairs: the sample-scale row cap is enforced") {
    import org.apache.spark.sql.functions._
    // the Ω(n²) calibration baseline must refuse a larger-than-cap
    // corpus instead of silently scoring every pair
    val e = (1L to 20L).map(i => (i, Array(i.toFloat, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Dedup.embeddingTopPairs(e, 5, maxRows = 10L).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("sample-scale evaluator"), s"expected the cap raise: $msg")
    assert(Dedup.embeddingTopPairs(e, 5, maxRows = 20L).count() == 5L)
  }

  test("idfCosinePairs: the co-occurrence-mass gate refuses, pointing at the rank form") {
    import org.apache.spark.sql.functions._
    // two 10-copy dup groups + 10 unique docs: surviving-shingle mass
    // Σ df·(df−1)/2 = C(20,2) + 2·C(10,2) = 280 (the "aa bb cc"
    // 3-shingle is shared across both groups at df=20; unique docs
    // contribute df=1 ⇒ 0). The gate must refuse at a 100 cap without
    // the pair join ever running, and the message must route the user
    // to the candidate-bounded composition.
    val docs = ((1L to 10L).map(i => (i, "aa bb cc dd")) ++
      (11L to 20L).map(i => (i, "aa bb cc ee")) ++
      (21L to 30L).map(i => (i, s"u$i v$i w$i x$i"))).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.idfCosinePairs(docs, 5, maxPairMass = 100L).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("idfCosinePairs") && msg.contains("idfCosineRank"),
      s"expected the mass-gate raise naming the scale path: $msg")
    // under the cap the same corpus scores normally
    assert(Dedup.idfCosinePairs(docs, 5, maxPairMass = 300L).count() == 5L)
  }

  test("containmentPairs: catches small-inside-big pairs Jaccard misses, lossless vs brute force") {
    import org.apache.spark.sql.functions._
    val quote = "alpha beta gamma delta epsilon"                 // 3 shingles
    val wrapper = s"intro words here $quote closing words after" // contains all 3
    val docs = Seq(
      (1L, quote),
      (2L, wrapper),
      (3L, "totally unrelated content about rivers and stones ok"),
      (4L, "alpha beta gamma delta epsilon"),                    // exact dup of 1
      (5L, "alpha beta gamma something else entirely now"))      // partial overlap
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 0.9)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    // the quote is wholly inside the wrapper: containment 1.0 — while
    // Jaccard = 3/8 keeps the symmetric report silent at 0.9
    assert(rows.get((1L, 2L)).contains(1.0), s"$rows")
    assert(rows.get((2L, 4L)).contains(1.0), s"$rows")
    assert(rows.get((1L, 4L)).contains(1.0), s"$rows") // exact dup too
    assert(Dedup.ngramJaccardPairs(docs, 0.9).collect()
      .forall(r => (r.getLong(0), r.getLong(1)) != ((1L, 2L))),
      "Jaccard at 0.9 must NOT report the quote-in-wrapper pair")
    // losslessness: equals the brute-force definition at a lower
    // threshold where partial-overlap pairs enter
    def shingleSets = docs.collect().map { r =>
      val ws = r.getString(1).trim.split("\\s+")
      r.getLong(0) -> ws.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val ss = shingleSets
    val brute = (for {
      a <- ss.keys; b <- ss.keys if a < b
      c = (ss(a) intersect ss(b)).size
      cont = BigDecimal(c.toDouble / math.min(ss(a).size, ss(b).size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c > 0 && cont >= 0.6
    } yield (a, b) -> cont).toMap
    val engine = Dedup.containmentPairs(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(engine == brute, s"engine $engine vs brute $brute")
  }

  test("containmentPairs: the prefix-join mass gate refuses an over-mass (boilerplate) corpus") {
    import org.apache.spark.sql.functions._
    // boilerplate-flood shape: 30 identical SHORT docs — one shingle
    // each, so the rarest-first ordering cannot keep it out of the
    // prefix (the whole set IS the prefix) and that shingle's df is
    // the corpus size. Candidate join mass Σ prefix-occurrences × df
    // = 30 × 30 = 900: quadratic in the flood size, the exact corpus
    // the gate exists for. It must refuse at a 100 cap BEFORE any
    // candidate forms, and the message must name the escape hatch.
    val docs = (1L to 30L).map(i => (i, "aa bb cc")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.containmentPairs(docs, 0.9, maxJoinMass = 100L).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("containmentPairs") && msg.contains("maxJoinMass"),
      s"expected the mass-gate raise naming the escape hatch: $msg")
    // above the mass the same corpus pairs normally: every pair is an
    // exact copy (containment 1.0) → C(30, 2) rows
    assert(Dedup.containmentPairs(docs, 0.9, maxJoinMass = 10000L)
      .count() == 435L)
  }

  test("containmentGateIncremental: total batch verdicts, both directions, lossless vs brute force") {
    val quote = "alpha beta gamma delta epsilon" // 3 shingles
    val history = Seq(
      (1L, s"intro words here $quote closing words after"), // wrapper
      (2L, "totally unrelated content about rivers and stones ok"),
      (4L, quote)) // small history doc — the incoming-wrapper direction
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, quote),                             // whole inside hist 1 and 4
      (101L, "nothing in common with anything"), // no hits
      (102L, "xy"),                              // < 3 words → zero-shingle verdict
      (103L, s"$quote and some trailing padding words here too"))
      .toDF("doc_id", "text")                    // wraps hist 4 (direction 2)
    val got = Dedup.containmentGateIncremental(incoming, history, 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // EVERY incoming doc reports — 102 cannot shingle, so it carries an
    // explicit zero-shingle verdict instead of a silently missing row
    assert(got.keySet == Set(100L, 101L, 102L, 103L), s"$got")
    assert(got(100L) == ((3L, 2L, 1.0, true)), s"$got")  // inside 1 AND = 4
    assert(got(101L) == ((3L, 0L, 0.0, false)), s"$got")
    assert(got(102L) == ((0L, 0L, 0.0, false)), s"$got")
    // 103 wraps the SMALL history doc 4 whole: the history-prefix
    // direction must catch it (min side is history's)
    assert(got(103L) == ((10L, 1L, 1.0, true)), s"$got")
    // losslessness at a looser threshold where partial overlaps enter:
    // the rollup equals the brute-force cross-table definition
    def sets(rows: Array[(Long, String)]): Map[Long, Set[String]] =
      rows.map { case (id, t) =>
        id -> t.trim.split("\\s+").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
    val incS = sets(incoming.collect().map(r => (r.getLong(0), r.getString(1))))
    val hisS = sets(history.collect().map(r => (r.getLong(0), r.getString(1))))
    val brute = incS.map { case (a, sa) =>
      val conts = for {
        (_, sb) <- hisS.toSeq
        c = (sa intersect sb).size
        if sa.nonEmpty && sb.nonEmpty && c > 0
        cont = BigDecimal(c.toDouble / math.min(sa.size, sb.size))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cont >= 0.6
      } yield cont
      a -> ((sa.size.toLong, conts.size.toLong,
        if (conts.isEmpty) 0.0 else conts.max, conts.nonEmpty))
    }
    val engine = Dedup.containmentGateIncremental(incoming, history, 0.6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(engine == brute, s"engine $engine vs brute $brute")
  }

  test("containmentGateIncremental directions dial: each single-direction mode equals its size-restricted brute force") {
    val quote = "alpha beta gamma delta epsilon"
    val history = Seq(
      (1L, s"intro words here $quote closing words after"),
      (2L, "totally unrelated content about rivers and stones ok"),
      (4L, quote)).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, quote),                             // contained in hist 1, = 4
      (101L, "nothing in common with anything"),
      (102L, "xy"),
      (103L, s"$quote and some trailing padding words here too"))
      .toDF("doc_id", "text")                    // WRAPS hist 4
    def run(mode: String) =
      Dedup.containmentGateIncremental(incoming, history, 0.9,
          directions = mode)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    def sets(rows: Array[(Long, String)]): Map[Long, Set[String]] =
      rows.map { case (id, t) =>
        id -> t.trim.split("\\s+").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
    val incS = sets(incoming.collect().map(r => (r.getLong(0), r.getString(1))))
    val hisS = sets(history.collect().map(r => (r.getLong(0), r.getString(1))))
    def brute(restrict: (Int, Int) => Boolean) = incS.map { case (a, sa) =>
      val conts = for {
        (_, sb) <- hisS.toSeq
        if sa.nonEmpty && sb.nonEmpty && restrict(sa.size, sb.size)
        c = (sa intersect sb).size
        if c > 0
        cont = BigDecimal(c.toDouble / math.min(sa.size, sb.size))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cont >= 0.9
      } yield cont
      a -> ((sa.size.toLong, conts.size.toLong,
        if (conts.isEmpty) 0.0 else conts.max, conts.nonEmpty))
    }
    // "batch": incoming is the smaller-or-equal side — catches 100
    // (quoted whole) but NOT the wrapper 103
    val batch = run("batch")
    assert(batch == brute((na, nb) => na <= nb), s"batch $batch")
    assert(batch(100L)._4 && !batch(103L)._4, s"batch $batch")
    // "history": the mirror — catches the wrapper 103, not 100's
    // larger-history hit on doc 1 (though 100 = hist 4 ties, caught)
    val hist = run("history")
    assert(hist == brute((na, nb) => nb <= na), s"history $hist")
    assert(hist(103L)._4, s"history $hist")
    // the union of single-direction HITS reconstructs "both" flags
    val both = run("both")
    assert(both.keySet.forall(k =>
      both(k)._4 == (batch(k)._4 || hist(k)._4)), s"$both")
    // unknown mode refuses loudly, before any job and with nothing
    // left cached
    spark.catalog.clearCache()
    val jobs = TestSpark.jobsOf {
      val ex = intercept[IllegalArgumentException] {
        Dedup.containmentGateIncremental(incoming, history, 0.9,
          directions = "sideways")
      }
      assert(ex.getMessage.contains("directions"))
    }
    assert(jobs == 0, s"the refused call ran $jobs jobs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the refused call left frames cached")
  }

  test("containmentGateIncrementalPersisted: verdict-identical to the from-text gate; bare path refuses") {
    val quote = "alpha beta gamma delta epsilon"
    val history = Seq(
      (1L, s"intro words here $quote closing words after"),
      (2L, "totally unrelated content about rivers and stones ok"),
      (4L, quote)).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, quote),
      (101L, "nothing in common with anything"),
      (102L, "xy"),
      (103L, s"$quote and some trailing padding words here too"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("containment_index_spec").toString
    Dedup.persistContainmentIndex(history, path)
    for (mode <- Seq("both", "batch", "history")) {
      val fromText = Dedup.containmentGateIncremental(
        incoming, history, 0.6, directions = mode)
        .collect().map(_.toSeq).toSeq
      val probed = Dedup.containmentGateIncrementalPersisted(
        incoming, path, 0.6, directions = mode)
        .collect().map(_.toSeq).toSeq
      assert(probed == fromText, s"$mode: probed $probed vs $fromText")
    }
    // the manifest carries the shingle width: a probe never guesses n
    val ex = intercept[IllegalArgumentException] {
      Dedup.containmentGateIncrementalPersisted(incoming,
        java.nio.file.Files.createTempDirectory("containment_empty")
          .toString, 0.6)
    }
    assert(ex.getMessage.contains("manifest"))
  }

  test("containmentIndexCached: the memoized layout lives beside the dump path") {
    // the probe layout follows the graft.containment.index.dump root,
    // so a run that relocates the dump path relocates this layout too
    val history = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally unrelated content about rivers and stones ok"))
      .toDF("doc_id", "text")
    val path = Dedup.containmentIndexCached(history,
      corpusKey = s"spec-${java.util.UUID.randomUUID()}")
    assert(path.startsWith(Dedup.containmentIndexDumpPath + "_probe_"), path)
    val incoming = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(Dedup.containmentGateIncrementalPersisted(incoming, path, 0.9)
      .collect().map(_.toSeq).toSeq ==
      Dedup.containmentGateIncremental(incoming, history, 0.9)
        .collect().map(_.toSeq).toSeq)
  }

  test("appendContainmentIndex: probe over base+appends == from-text gate over full history; torn append invisible") {
    val quote = "alpha beta gamma delta epsilon"
    // base history, then an APPENDED batch that (a) adds a new
    // containment target (doc 5 = the quote verbatim) and (b) shifts
    // df counts for the base docs' shingles — the exactness claim is
    // that neither the stale base order nor the shifted df changes a
    // verdict vs the from-text gate over the full history
    val base = Seq(
      (1L, s"intro words here $quote closing words after"),
      (2L, "totally unrelated content about rivers and stones ok"))
      .toDF("doc_id", "text")
    val appended = Seq(
      (4L, quote),
      (5L, s"$quote repeated filler $quote plus more filler words"))
      .toDF("doc_id", "text")
    val full = base.unionByName(appended)
    val incoming = Seq(
      (100L, quote),
      (101L, "nothing in common with anything"),
      (102L, "xy"),
      (103L, s"$quote and some trailing padding words here too"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("containment_append_spec").toString
    Dedup.persistContainmentIndex(base, path)
    Dedup.appendContainmentIndex(appended, path)
    for (mode <- Seq("both", "batch", "history")) {
      val fromText = Dedup.containmentGateIncremental(
        incoming, full, 0.6, directions = mode)
        .collect().map(_.toSeq).toSeq
      val probed = Dedup.containmentGateIncrementalPersisted(
        incoming, path, 0.6, directions = mode)
        .collect().map(_.toSeq).toSeq
      assert(probed == fromText, s"$mode: probed $probed vs $fromText")
    }
    // TORN APPEND: a batch directory without its _COMMITTED marker is
    // invisible — the probe's verdicts equal the committed view's
    // (base + the first append), never a half-landed batch's
    val conf = spark.sparkContext.hadoopConfiguration
    val tornDir = s"$path/batches/batch-torn"
    graft.operators.Dedup.shingles(
        Seq((9L, s"$quote torn batch text")).toDF("doc_id", "text"))
      .select(col("doc_id").as("hist_id"), col("shingle"))
      .groupBy(col("shingle"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
      .write.parquet(s"$tornDir/df")
    // (no sorted table, no marker — the torn shape the protocol exists for)
    val afterTorn = Dedup.containmentGateIncrementalPersisted(
      incoming, path, 0.6).collect().map(_.toSeq).toSeq
    val committedOnly = Dedup.containmentGateIncremental(
      incoming, full, 0.6).collect().map(_.toSeq).toSeq
    assert(afterTorn == committedOnly, s"torn batch leaked: $afterTorn")
    // an append to a manifest-less path refuses by name — it cannot
    // guess the layout's shingle width
    val ex = intercept[IllegalArgumentException] {
      Dedup.appendContainmentIndex(appended,
        java.nio.file.Files.createTempDirectory("containment_nomanifest")
          .toString)
    }
    assert(ex.getMessage.contains("manifest"))
  }

  test("compactContainmentIndex: folded tables row-identical to a fresh rebuild; verdicts unchanged") {
    val quote = "alpha beta gamma delta epsilon"
    val base = Seq(
      (1L, s"intro words here $quote closing words after"),
      (2L, "totally unrelated content about rivers and stones ok"))
      .toDF("doc_id", "text")
    val batch1 = Seq((4L, quote)).toDF("doc_id", "text")
    val batch2 = Seq(
      (5L, s"$quote repeated filler $quote plus more filler words"),
      (6L, "fresh vocabulary nothing shared with any other document"))
      .toDF("doc_id", "text")
    val full = base.unionByName(batch1).unionByName(batch2)
    val incoming = Seq(
      (100L, quote),
      (103L, s"$quote and some trailing padding words here too"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("containment_compact_spec").toString
    Dedup.persistContainmentIndex(base, path)
    Dedup.appendContainmentIndex(batch1, path)
    Dedup.appendContainmentIndex(batch2, path)
    val before = Dedup.containmentGateIncrementalPersisted(
      incoming, path, 0.6).collect().map(_.toSeq).toSeq
    Dedup.compactContainmentIndex(spark, path)
    // batches folded away; manifest (shingle width) untouched
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchRoot = new org.apache.hadoop.fs.Path(s"$path/batches")
    assert(!fs.exists(batchRoot) || fs.listStatus(batchRoot).isEmpty)
    val after = Dedup.containmentGateIncrementalPersisted(
      incoming, path, 0.6).collect().map(_.toSeq).toSeq
    assert(after == before, s"compaction changed verdicts: $after vs $before")
    // the compacted tables are ROW-IDENTICAL to a fresh rebuild over
    // the same corpus: compaction's additive df fold equals the
    // rebuild's count, and the re-sort runs the build's own
    // (df, shingle) order — this is the "restores the rarest-first
    // heuristic corpus-wide" claim in executable form
    val rebuilt = java.nio.file.Files
      .createTempDirectory("containment_rebuilt_spec").toString
    Dedup.persistContainmentIndex(full, rebuilt)
    for (table <- Seq("df", "sorted")) {
      val a = spark.read.parquet(s"$path/$table")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      val b = spark.read.parquet(s"$rebuilt/$table")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      assert(a.toSeq == b.toSeq, s"$table diverges from a fresh rebuild")
    }
    // idempotent: compacting with no committed batches is a no-op
    Dedup.compactContainmentIndex(spark, path)
    assert(Dedup.containmentGateIncrementalPersisted(
      incoming, path, 0.6).collect().map(_.toSeq).toSeq == before)
  }

  test("lshRecallCurve: nested layouts are monotone; the bands=4 arm equals lshRecall") {
    // a mixed corpus: one exact-dup pair (collides at every layout),
    // one near-dup pair, several unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "totally different content about rivers and stones here"),
      (5L, "another unrelated document mentioning mountains and lakes"),
      (6L, "yet more text that shares nothing with the others at all"))
      .toDF("doc_id", "text")
    val curve = Dedup.lshRecallCurve(docs, 0.5).collect()
    assert(curve.length == 3)
    assert(curve.map(_.getLong(1)).toSeq == Seq(2L, 4L, 8L))     // bands
    assert(curve.map(_.getLong(2)).toSeq == Seq(8L, 4L, 2L))     // rows
    // nested halving layouts: a collision on an r-row band implies
    // collisions on both r/2-row sub-bands, so candidates (hence
    // verified pairs and hits) are monotone in bands
    val nLsh = curve.map(_.getLong(4)).toSeq
    val recall = curve.map(_.getDouble(6)).toSeq
    assert(nLsh == nLsh.sorted, s"n_lsh not monotone: $nLsh")
    assert(recall == recall.sorted, s"recall not monotone: $recall")
    // the same n_exact ground truth on every row
    assert(curve.map(_.getLong(3)).distinct.length == 1)
    // exact dups share every band key at every layout → the dup pair
    // is found even at the coarsest arm
    assert(curve.head.getLong(4) >= 1L)
    // the bands=4 arm IS the production operating point: its counts
    // must equal lshRecall's verbatim
    val point = Dedup.lshRecall(docs, 0.5).head()
    val arm4 = curve.find(_.getLong(1) == 4L).get
    assert((arm4.getLong(3), arm4.getLong(4), arm4.getLong(5)) ==
      ((point.getAs[Long]("n_exact"), point.getAs[Long]("n_lsh"),
        point.getAs[Long]("n_hit"))), s"curve $arm4 vs point $point")
  }

  test("containmentGateIncremental: the prefix-join mass gate refuses a boilerplate flood") {
    // the same flood shape as the full-corpus gate test: one-shingle
    // docs on BOTH sides, so the batch prefix × history index mass is
    // |batch| × df_hist = 30 × 30 = 900 — over a 100 cap it must
    // refuse BEFORE any candidate forms
    val incoming = (1L to 30L).map(i => (i, "aa bb cc")).toDF("doc_id", "text")
    val history = (101L to 130L).map(i => (i, "aa bb cc")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    val ex = intercept[Exception] {
      Dedup.containmentGateIncremental(incoming, history, 0.9,
        maxJoinMass = 100L).collect()
    }
    // the refusal raises inside the gate's checkpoint; its history
    // caches are released all the same
    assert(spark.sharedState.cacheManager.isEmpty,
      "the refused gate left frames cached")
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("containmentGateIncremental") &&
      msg.contains("maxJoinMass"),
      s"expected the mass-gate raise naming the escape hatch: $msg")
    // above the mass: every incoming doc is contained in all 30
    // history copies
    val ok = Dedup.containmentGateIncremental(incoming, history, 0.9,
      maxJoinMass = 10000L).collect()
    assert(ok.length == 30 &&
      ok.forall(r => r.getLong(2) == 30L && r.getDouble(3) == 1.0))
  }

  test("evalContamination: per-eval-doc overlap fraction with dirty threshold") {
    val train = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "completely different training content with many words here"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "a b c d e f g h i j"),      // identical → frac 1.0
      (101L, "z1 z2 z3 z4 z5 z6 z7 z8"),  // disjoint → frac 0.0
      (102L, "only seven words in this one here"), // <8 words → 0-gram row
      (103L, "a b c d e f g h X Y"))      // shares 1 of its 3 8-grams
      .toDF("doc_id", "text")
    val got = Dedup.evalContamination(train, eval_, n = 8, dirtyFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // EVERY eval doc reports — 102 is too short to shingle, so it
    // carries an explicit zero-gram verdict instead of a silently
    // missing row (a missing verdict would read as "clean")
    assert(got.keySet == Set(100L, 101L, 102L, 103L), s"$got")
    assert(got(100L) == ((3L, 3L, 1.0, true)))
    assert(got(101L) == ((1L, 0L, 0.0, false)))
    assert(got(102L) == ((0L, 0L, 0.0, false)))
    assert(got(103L) == ((3L, 1L, 0.333333, false)))
  }

  test("lshRecall: exact dups always collide (recall 1.0); counts reconcile with both operators") {
    // three identical docs + one unrelated: exact dups share every
    // band key, so LSH proposes all C(3,2) pairs — recall 1.0, and the
    // verified tail makes precision 1.0 by construction
    val dups = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "completely different text about rivers and stones"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(dups, 0.5).head()
    assert((r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5)) == ((0.5, 3L, 3L, 3L, 1.0, 1.0)), s"$r")
    // arithmetic reconciles with the two underlying operators on a
    // mixed corpus (partial overlaps + dups) — the evaluator may never
    // disagree with what it evaluates
    val mixed = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f X Y"), (4L, "p q r s t u v w"),
      (5L, "p q r s t u v w"), (6L, "unrelated words here now ok"))
      .toDF("doc_id", "text")
    val nExact = Dedup.ngramJaccardPairs(mixed, 0.5).count()
    val nLsh = Dedup.minhashLshPairs(mixed, 0.5).count()
    val m = Dedup.lshRecall(mixed, 0.5).head()
    assert(m.getLong(1) == nExact && m.getLong(2) == nLsh, s"$m")
    assert(m.getLong(3) <= math.min(nExact, nLsh))
    // a corpus with no qualifying pairs still reports one zero row
    // (0/0 reads as 0.0, never null/NaN)
    val none = Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text")
    val z = Dedup.lshRecall(none, 0.5).head()
    assert((z.getLong(1), z.getLong(2), z.getLong(3),
      z.getDouble(4), z.getDouble(5)) == ((0L, 0L, 0L, 0.0, 0.0)), s"$z")
  }

  test("contaminationBySource: leakage attributed to the feed it arrives from") {
    val bench = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val docs = Seq(
      // "bad" feed: two verbatim copies of the eval item → 3 shared
      // 8-grams each, both over minShared = 3
      (1L, "a b c d e f g h i j", "bad"),
      (2L, "a b c d e f g h i j", "bad"),
      // "good" feed: clean, plus one doc too short to shingle (still
      // counted in the denominator — an unmeasurable doc is not a
      // clean doc, but it cannot be flagged either)
      (3L, "totally unrelated words about rivers and stones in autumn", "good"),
      (4L, "short text", "good"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.contaminationBySource(docs, bench, n = 8, minShared = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got == Map(
      "bad" -> ((2L, 2L, 1.0, 6L)),
      "good" -> ((2L, 0L, 0.0, 0L))), s"$got")
  }

  test("contaminationDrift: per-eval-item release delta, newly_dirty on threshold crossings") {
    // old release: only doc 1; new release adds doc 2, a verbatim copy
    // of eval item 100 — 100 goes 0.0 → 1.0 (newly dirty), 101 holds
    // its long-standing partial overlap (dirty in BOTH → not newly),
    // 102 is sub-n and reports the zero-gram verdict in both columns
    val oldC = Seq((1L, "p q r s t u v w x y")).toDF("doc_id", "text")
    val newC = Seq(
      (1L, "p q r s t u v w x y"),
      (2L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "a b c d e f g h i j"),
      (101L, "p q r s t u v w x YY"),
      (102L, "too short to shingle at all"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationDrift(oldC, newC, eval_, n = 8,
      dirtyFrac = 0.5).collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)),
         (r.getDouble(4), r.getDouble(5), r.getDouble(6)),
         (r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))).toMap
    assert(got.keySet == Set(100L, 101L, 102L), s"$got")
    // 100: 3 grams, none shared with old, all 3 with new
    assert(got(100L) == (((3L, 0L, 3L), (0.0, 1.0, 1.0),
      (false, true, true))), s"$got")
    // 101: 3 grams, 2 shared in both releases (its first two 8-grams
    // avoid the YY tail) — dirty both sides, so NOT newly dirty
    assert(got(101L) == (((3L, 2L, 2L), (0.666667, 0.666667, 0.0),
      (true, true, false))), s"$got")
    // 102: zero-gram verdict rides through the drift join
    assert(got(102L) == (((0L, 0L, 0L), (0.0, 0.0, 0.0),
      (false, false, false))), s"$got")
  }

  test("dedupTokenSavings: token-denominated canonical keep, cross-source groups") {
    val docs = Seq(
      (1L, "x y z", "src_a"),
      (2L, "x y z", "src_a"),                 // dup of 1, drops in src_a
      (3L, "unique words here now", "src_a"),
      (4L, "x y z", "src_b"),                 // dup of 1 — savings land in src_b
      (5L, "other text", "src_b"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.dedupTokenSavings(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(got("src_a") == ((3L, 2L, 10L, 7L, 0.3)), s"$got")
    assert(got("src_b") == ((2L, 1L, 5L, 2L, 0.6)), s"$got")
  }

  test("dedupSavingsDrift: per-source savings delta, absent sides zero-filled") {
    val oldC = Seq(
      (1L, "src_a", "x y z"),
      (2L, "src_a", "x y z"),               // dup pair → savings 0.5
      (3L, "src_b", "unique content here")) // no dups → 0.0
      .toDF("doc_id", "source", "text")
    val newC = oldC.unionByName(Seq(
      (4L, "src_a", "x y z"),               // third copy → savings 2/3
      (5L, "src_c", "brand new feed"))      // source absent in old
      .toDF("doc_id", "source", "text"))
    val got = Dedup.dedupSavingsDrift(oldC, newC).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    assert(got.keySet == Set("src_a", "src_b", "src_c"), s"$got")
    // src_a: 2 → 3 copies of the same text; tokens 6 → 9, kept 3 both
    // sides → savings 0.5 → 0.666667, delta 0.166667
    assert(got("src_a") == ((2L, 3L, 6L, 9L, 0.5, 0.666667, 0.166667)), s"$got")
    assert(got("src_b") == ((1L, 1L, 3L, 3L, 0.0, 0.0, 0.0)), s"$got")
    // a feed that APPEARED this release: old side zero-filled
    assert(got("src_c") == ((0L, 1L, 0L, 3L, 0.0, 0.0, 0.0)), s"$got")
  }

  test("embeddingTopPairs covers mixed-sign ids (pmod block assignment)") {
    // Spark % keeps the dividend's sign: with plain % a negative id's
    // block key would never meet the non-negative side's task grid and
    // mixed-sign pairs would silently vanish
    val e = (-3L to 3L).map(i =>
      (i, Array.tabulate(4)(d => (1.0 + 0.1 * i * (d + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingTopPairs(e, 100, blocks = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length == 21 && got.toSet.size == 21 &&
      got.forall { case (a, b) => a < b })
  }

  test("embeddingTopPairs: grid equi-join covers every pair once, no BNLJ") {
    // 7 vectors over 3 blocks exercise same-block and cross-block tasks,
    // including cross-block pairs where the LOWER id sits in the HIGHER
    // block (id 3 in block 0 vs id 2 in block 2 with blocks=3)
    val e = (0L until 7L).map(i =>
      (i, Array.tabulate(4)(d => (1.0 + 0.1 * i * (d + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingTopPairs(e, 100, blocks = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // all C(7,2)=21 unordered pairs, each exactly once, ids normalized
    assert(got.length == 21 && got.toSet.size == 21 &&
      got.forall { case (a, b) => a < b })
    val plan = Dedup.embeddingTopPairs(e, 100, blocks = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan was:\n$plan")
  }

  test("dupGroups: pair chains collapse into min-labeled components") {
    // 1—2—3—4 is a path (diameter 3, needs >1 propagation round);
    // 5—6 is a separate component; 9—7 checks labels flow UP the id
    // order too (min endpoint listed second)
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (3L, 4L, 0.9),
      (5L, 6L, 0.9), (7L, 9L, 0.9)).toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 9L -> 7L))
    // vertices outside any pair don't appear; empty input → empty output
    assert(Dedup.dupGroups(pairs.limit(0)).count() == 0L)
  }

  test("contaminationFlags: benchmark members and near-copies flagged, others clear") {
    val bench = Seq((100L, "a b c d e f g h i j k l", "s"))
      .toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "a b c d e f g h i j k l", "s"),  // exact benchmark copy: 5 shared
      (2L, "a b c d e f g h i j k x", "s"),  // near-copy: 4 shared 8-grams
      (3L, "z y x w v u t s r q p o", "s"),  // unrelated: 0 shared
      (4L, "a b c d e f g tiny", "s"))       // < 8 words: no shingles at all
      .toDF("doc_id", "text", "source")
    val got = Dedup.contaminationFlags(train, bench, n = 8, minShared = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((5L, true)))
    assert(got(2L) == ((4L, true)))
    assert(got(3L) == ((0L, false)))
    assert(got(4L) == ((0L, false))) // short docs still reported, unflagged
  }

  test("dupGroups: a 30-vertex path converges under the round cap (pointer jumping)") {
    // plain one-hop propagation needs 29 rounds — over the 25-round
    // cap; the compression step must get there in O(log n). Force the
    // distributed path: the driver fast path never iterates.
    val chain = (100L until 129L).map(i => (i, i + 1, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.dupGroups(chain, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 30)
    assert(got.values.toSet == Set(100L), s"labels were ${got.values.toSet}")
  }

  test("dupGroups: driver fast path and distributed propagation agree") {
    // mixed shapes: a descending chain (deepest union-find trees), a
    // star entered min-last, an isolated pair
    val pairs = ((20L to 1L by -1L).sliding(2).map(w => (w(1), w(0), 0.9)).toSeq ++
      Seq((40L, 50L, 0.9), (41L, 50L, 0.9), (42L, 50L, 0.9), (60L, 61L, 0.9)))
      .toDF("doc_a", "doc_b", "jaccard")
    val driver = Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.dupGroups(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist)
    assert((1L to 20L).forall(driver(_) == 1L), "chain collapses to min id")
    assert(Seq(40L, 41L, 42L, 50L).map(driver).toSet == Set(40L))
  }

  test("dupGroups: a self-pair registers its vertex on both paths") {
    val pairs = Seq((7L, 7L, 1.0), (8L, 9L, 0.9)).toDF("doc_a", "doc_b", "jaccard")
    val expect = Map(7L -> 7L, 8L -> 8L, 9L -> 8L)
    assert(Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    assert(Dedup.dupGroups(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
  }

  test("semDedup: cluster-bounded groups with chain transitivity; cross-cell dups never pair") {
    def at(deg: Double) =
      Array(math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // cell 0: 0° / 5° / 10° form a transitive chain at τ = cos 7° ≈ 0.99255
    // (0°–10° alone is cos 10° ≈ 0.98481 < τ); 90° is a singleton.
    // cell 1: 0° again (identical to vec 0 but cluster-bounded away) + 1°.
    val rows = Seq(
      (0L, at(0), 0), (1L, at(5), 0), (2L, at(10), 0), (3L, at(90), 0),
      (10L, at(0), 1), (11L, at(1), 1))
    val assigned = rows.toDF("vec_id", "embedding", "cell")
    val centroids = Seq((0, Array(1.0, 0.0)), (1, Array(1.0, 0.0))).toDF("cell", "centroid")
    val tau = math.cos(math.toRadians(7))
    val got = Dedup.semDedup(operators.KMeansIndex.Index(assigned, centroids), tau)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (0L, 0, 0L, true), (1L, 0, 0L, false), (2L, 0, 0L, false), (3L, 0, 3L, true),
      (10L, 1, 10L, true), (11L, 1, 10L, false)))
  }

  test("minhashEstimateError: identical docs estimate 1.0 exactly; error = |est - exact|") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = (1 to 30).map(i => if (i % 5 == 0) s"alt$i" else s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, near), (4L, "entirely different words " * 10))
      .toDF("doc_id", "text")
    val out = Dedup.minhashEstimateError(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // identical texts: every signature row matches, exact J = 1
    assert(out((1L, 2L)) == ((1.0, 1.0, 0.0)))
    // every row self-consistent: err = |est - exact|, est quantized to sixteenths
    out.values.foreach { case (est, exact, err) =>
      assert(math.abs(err - math.abs(est - exact)) < 1e-9)
      assert(math.abs(est * 16 - math.round(est * 16)) < 1e-9)
      assert(exact >= 0.0 && exact <= 1.0)
    }
    // the unrelated doc never becomes a candidate against the dup family
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("keepBest: longest doc wins its group, min-id tie-break, singleton keeps") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (9L, 5L))
      .toDF("doc_id", "q")
    // docs 1,2,3 form one component; 9 is ungrouped
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "group_id")
    val out = graft.operators.Dedup.keepBest(docs, groups, col("q"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // quality 30 beats 10; ids 2 and 3 tie at 30 -> min id 2 keeps
    assert(out(1L) == ((2L, false)) && out(2L) == ((2L, true)) &&
      out(3L) == ((2L, false)))
    assert(out(9L) == ((9L, true)), "singleton keeps itself")
  }

  test("keepBest: NULL quality ranks last, never wins keeper selection") {
    import org.apache.spark.sql.functions._
    // struct-field ordering alone would sort the null -q FIRST and hand
    // the null-quality doc the keeper slot; the null-rank lead field
    // pins the oracle's ORDER BY quality DESC NULLS LAST semantics
    val docs = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("doc_id", "q")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "group_id")
    val out = graft.operators.Dedup.keepBest(docs, groups, col("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"quality 30 must beat both 10 and NULL: $out")
    // an all-null group still elects exactly one keeper (min doc_id)
    val allNull = Seq((5L, None: Option[Long]), (6L, None)).toDF("doc_id", "q")
    val g2 = Seq((5L, 5L), (6L, 5L)).toDF("doc_id", "group_id")
    val out2 = graft.operators.Dedup.keepBest(allNull, g2, col("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2 == Map(5L -> 5L, 6L -> 5L))
  }

  test("dupEvidence: shared shingles listed sorted, sliced at k") {
    import org.apache.spark.sql.functions._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((1L, text), (2L, text),
      (3L, "totally different words here nothing shared at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupEvidence(docs, 0.3, k = 2).collect()
    assert(out.length == 1, s"only the identical pair qualifies: ${out.toSeq}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    // both docs carry the same 6 trigram shingles, all shared
    assert(r.getLong(3) == 6L && r.getLong(4) == 6L && r.getLong(5) == 6L)
    // evidence = lexicographically first TWO shared shingles
    assert(r.getString(6) == "alpha beta gamma|beta gamma delta")
  }

  test("sortedNeighborhood: adjacent-in-sort near-dups pair; outside the window they don't") {
    import org.apache.spark.sql.functions._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),                      // sorts adjacent to 2 (same prefix)
      (2L, base + " extra"),           // near-dup of 1, Jaccard high
      (3L, "alpha zzz completely different words padding here now ok"), // same block, far in sort
      (4L, "omega psi chi phi upsilon tau sigma rho pi omicron")        // different block
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.sortedNeighborhoodPairs(docs,
      t => element_at(split(trim(t), "\\s+"), 1), t => trim(t),
      window = 2, threshold = 0.5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // window 2 compares only adjacent ranks: in block 'alpha' the sort
    // order is (1, 2, 3) — (1,2) and (2,3) are candidates, (1,3) never
    // is; widening to 3 admits it as a CANDIDATE but the Jaccard
    // verify still rejects it
    val wide = graft.operators.Dedup.sortedNeighborhoodPairs(docs,
      t => element_at(split(trim(t), "\\s+"), 1), t => trim(t),
      window = 3, threshold = 0.5).collect()
    assert(wide.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("sortedNeighborhood: recall is sort-key-governed — a dup sorted far away is missed") {
    import org.apache.spark.sql.functions._
    // same words, rotated: high Jaccard on shingles? No — trigram
    // shingles differ after rotation; use a shared-tail pair instead:
    // both end identically but START differently, so a lead-word sort
    // key separates them. THE design caveat of SNM, pinned.
    val docs = Seq(
      (1L, "aaa common tail words one two three four five six"),
      (2L, "zzz common tail words one two three four five six"),
      (3L, "mmm unrelated filler text goes here for the block")
    ).toDF("doc_id", "text")
    // one block, sort by full text: ranks are 1=aaa..., 3=mmm..., 2=zzz...
    // window 2 compares (1,3) and (3,2) — never (1,2)
    val out = graft.operators.Dedup.sortedNeighborhoodPairs(docs,
      _ => lit(1), t => trim(t), window = 2, threshold = 0.5).collect()
    assert(out.isEmpty, s"lead-word-separated dup must be missed at window 2: ${out.toSeq}")
    // window 3 reaches it
    val wide = graft.operators.Dedup.sortedNeighborhoodPairs(docs,
      _ => lit(1), t => trim(t), window = 3, threshold = 0.5).collect()
    assert(wide.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("sortedNeighborhood: equi-join plan (no BNLJ/cartesian), window rank has a partition key") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val qe = graft.operators.Dedup.sortedNeighborhoodPairs(docs,
      t => element_at(split(trim(t), "\\s+"), 1), t => trim(t),
      window = 4, threshold = 0.3).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"neighbor pairing must be an equi-join:\n$plan")
    assert(plan.contains("Window"), "per-block rank must be a window")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.sortedNeighborhoodPairs(docs,
        _ => lit(1), t => t, window = 1, threshold = 0.5)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.sortedNeighborhoodPairs(docs,
        _ => lit(1), t => t, window = 2, threshold = 0.0)
    }
  }

  test("idfCosinePairs: identical docs hit 1.0; rare shared content outranks boilerplate") {
    import spark.implicits._
    // docs 1/2 identical; 3 shares only the COMMON shingle with 1;
    // 5/6 share a RARE shingle. Jaccard would score (1,3) and (5,6)
    // alike at 1/3 — idf weighting must rank the rare-share pair higher.
    val docs = Seq(
      (1L, "a b c d"),          // shingles: "a b c"(df3), "b c d"(df2)
      (2L, "a b c d"),
      (3L, "a b c x"),          // "a b c", "b c x"(df1)
      (5L, "p q r s"),          // "p q r"(df2), "q r s"(df1)
      (6L, "p q r t")           // "p q r", "q r t"(df1)
    ).toDF("doc_id", "text")
    val got = Dedup.idfCosinePairs(docs, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0, s"identical docs must score 1.0: $got")
    assert(got.contains(1L -> 3L) && got.contains(5L -> 6L))
    assert(got((5L, 6L)) > got((1L, 3L)),
      s"rare shared shingle must outrank shared boilerplate: $got")
    // no cross pair between the disjoint families
    assert(!got.keys.exists { case (a, b) => a <= 3L && b >= 5L })
  }

  test("idfCosinePairs: the df cap drops boilerplate from dots AND norms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c z"), (4L, "a b c w")
    ).toDF("doc_id", "text")
    // "a b c" has df 4 — capped out at maxDf = 2; docs 3 and 4 then
    // have only df-1 shingles left (no pairs), docs 1/2 still pair at
    // 1.0 through "b c d" alone
    val got = Dedup.idfCosinePairs(docs, topN = 10, maxDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1L, 2L) -> 1.0), s"got $got")
  }

  test("idfCosinePairs: df = N shingles carry zero idf and cannot divide by zero") {
    import spark.implicits._
    // every doc contains "a b c": idf = ln(1) = 0 exactly — docs whose
    // ONLY surviving shingle is that one have zero norm and must be
    // EXCLUDED, not produce NaN
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c d")
    ).toDF("doc_id", "text")
    val rows = Dedup.idfCosinePairs(docs, topN = 10).collect()
    assert(rows.forall(r => !r.getDouble(2).isNaN))
    assert(rows.isEmpty,
      s"zero-norm docs must drop and doc 3 has no surviving partner: ${rows.toSeq}")
  }

  test("idfCosineRank: scores the GIVEN candidates, agrees with the pairs form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"), (4L, "q r s t")
    ).toDF("doc_id", "text")
    // candidates include a genuinely disjoint pair (1,4): it must
    // surface with cosine 0.0, not drop and not NaN
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = Dedup.idfCosineRank(docs, cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(1L -> 2L, 1L -> 3L, 1L -> 4L))
    assert(got(1L -> 2L) == 1.0 && got(1L -> 4L) == 0.0)
    val pairsForm = Dedup.idfCosinePairs(docs, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got(1L -> 3L) == pairsForm(1L -> 3L),
      "rank and pairs forms must score a shared candidate identically")
  }

  test("lshCandidates: exact duplicates are always candidates; output is canonical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z w v u"), (2L, "x y z w v u"), (3L, "completely different words here now")
    ).toDF("doc_id", "text")
    val cand = Dedup.lshCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.contains((1L, 2L)), s"identical docs must band together: ${cand.toSeq}")
    assert(cand.forall { case (a, b) => a < b }, "canonical doc_a < doc_b")
    assert(cand.distinct.length == cand.length, "distinct pairs")
  }

  test("crossCorpusPairs: cross-side near-dups only; within-side pairs never report") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (2L, base),                       // contaminates bench doc 1
      (4L, base),                       // within-corpus dup of 2 — NOT a pair here
      (6L, "totally unrelated words that match nothing else at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, base),
      (3L, "another clean benchmark item with its own content entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.crossCorpusPairs(corpus, bench, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(2L -> 1L, 4L -> 1L), s"got $got")
    assert(got.values.forall(_ == 1.0))
    intercept[IllegalArgumentException] {
      Dedup.crossCorpusPairs(corpus, bench, 0.0)
    }
  }

  test("semDedup: bit-identical to the unspread all-orders scoring, rounded-to-threshold pairs kept") {
    import org.apache.spark.sql.functions.{coalesce, round}
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(11)
    val dim = 16
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // random unit vectors in 3 cells, and 40 near-copies (cosine about
    // 0.9) each in its source's cell, so every kept pair is its own group
    val base = (0L until 120L).map(id => (id, unit(Array.fill(dim)(rnd.nextGaussian())), (id % 3).toInt))
    val copies = base.take(40).map { case (id, v, cell) =>
      (1000L + id, unit(v.map(_ + 0.12 * rnd.nextGaussian())), cell) }
    val assigned = (base ++ copies).toDF("vec_id", "embedding", "cell")
    val index = operators.KMeansIndex.Index(assigned, Seq((0, Array(1.0))).toDF("cell", "centroid"))
    // the earlier formula, written out: every same-cell pair scored by
    // cosineSimilarity and rounded, then the same component labeling
    def earlier(t: Double) = {
      val a = assigned.select(col("vec_id"), col("cell"), col("embedding"))
      val pairs = a.as("l").join(a.as("r"),
          col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("doc_a"), col("r.vec_id").as("doc_b"),
          round(VectorOps.cosineSimilarity(col("l.embedding"), col("r.embedding")), 6).as("score"))
        .filter(col("score") >= t)
        .select(col("doc_a"), col("doc_b"))
      val groups = Dedup.dupGroups(pairs).withColumnRenamed("doc_id", "vec_id")
      a.select(col("vec_id"), col("cell"))
        .join(groups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          coalesce(col("group_id"), col("vec_id")).as("group_id"))
        .withColumn("keep", col("group_id") === col("vec_id"))
        .orderBy(col("vec_id"))
    }
    // planted boundary: a copy whose raw cosine rounds UP onto the
    // threshold, so the pair sits below t unrounded and exactly at t rounded
    val scored = copies.map { case (id, v, _) =>
      val src = base(id.toInt - 1000)._2
      val dot = (0 until dim).foldLeft(0.0)((s, i) => s + src(i).toDouble * v(i).toDouble)
      def nrm(x: Array[Float]) = math.sqrt(x.foldLeft(0.0)((s, f) => s + f.toDouble * f.toDouble))
      val raw = dot / (nrm(src) * nrm(v) + 1e-12)
      (id, raw, BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._2)
    val roundedUp = scored.filter { case (_, raw, r6) => raw < r6 }
    assert(roundedUp.nonEmpty)
    val (edgeId, _, t) = roundedUp(roundedUp.size / 2)
    val got = Dedup.semDedup(index, t).collect().toSeq
    assert(got == earlier(t).collect().toSeq)
    val label = got.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(label(edgeId) == edgeId - 1000, "the pair rounded onto the threshold is kept")
    val kept = scored.count(_._3 >= t)
    assert(kept > 1 && kept < copies.size, s"threshold splits the copies: $kept kept")
    assert(got.count(r => !r.getBoolean(3)) == kept)
  }

  test("docShingles: the word-count filter keeps exactly the rows the shingle-set filter kept") {
    import org.apache.spark.sql.functions.size
    val texts = Seq("", "   ", "\t", "a", " a", "\ta", "a b", "a\tb", "a  b", "  a b",
      "a b c", "a\t\tb c", "\ta b c", "a b c ", "a b c\t", "a   b \t c d", "a b c d",
      " a b c d e", "x\ty\tz\tw\tv")
    val docs = ((texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
    for (n <- 1 to 4) {
      val earlier = operators.Partitioning.spread(docs)
        .select(col("doc_id"), Dedup.shingleArray(col("text"), n).as("sh"))
        .filter(size(col("sh")) >= 1)
      val got = Dedup.docShingles(docs, n)
      assert(got.orderBy("doc_id").collect().toSeq ==
        earlier.orderBy("doc_id").collect().toSeq, s"n = $n")
    }
  }
}
