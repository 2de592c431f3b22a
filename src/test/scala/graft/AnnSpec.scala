package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.KMeansIndex
import org.apache.spark.sql.graftx.GraftFunctions

class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("KMeans index: assignments cover all rows, k cells, centroids match dim") {
    val idx = KMeansIndex.build(emb, k = 8)
    assert(idx.assigned.count() == emb.count())
    assert(idx.centroids.count() == 8)
    assert(idx.assigned.select("cell").distinct().count() <= 8)
    val c = idx.centroids.head()
    assert(c.getSeq[Double](1).length == 64)
  }

  test("KMeans index over the training cap: sampled fit still assigns every row") {
    // 9000 rows > max(k*256, 4096) for k=2 → the fit sees only the
    // deterministic hash sample, but assignment must stay total
    val big = spark.range(9000).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        d => (pmod(col("id"), lit(97)) * d).cast("float") / 97f).as("embedding"))
    val idx = KMeansIndex.build(big, k = 2)
    assert(idx.assigned.count() == 9000)
    assert(idx.centroids.count() == 2)
    assert(idx.assigned.select("cell").distinct().count() == 2)
    // deterministic: same seed → same centroids
    val again = KMeansIndex.build(big, k = 2)
    assert(idx.centroids.collect().map(_.toString).sorted.toSeq ==
      again.centroids.collect().map(_.toString).sorted.toSeq)
  }

  test("recallCurve: monotone recall, saturation at n_probe >= k, exact cell counts") {
    val idx = KMeansIndex.build(emb, k = 8)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val rows = KMeansIndex.recallCurve(idx, queries, topK = 10,
        probes = Seq(1, 2, 4, 8, 16)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8, 16), "ordered by n_probe")
    // cells_scanned = |queries| * min(n_probe, k), exactly
    for ((p, cells, _) <- rows)
      assert(cells == 4L * math.min(p, 8), s"n_probe=$p scanned $cells cells")
    // recall never decreases as probes grow; all-cells arms ARE brute
    // force, so they sit at exactly 1.0
    val recalls = rows.map(_._3).toSeq
    assert(recalls == recalls.sorted, s"recall must be monotone: $recalls")
    assert(rows.filter(_._1 >= 8).forall(_._3 == 1.0),
      s"full-probe arms must have recall 1.0: $recalls")
    assert(recalls.head > 0.0, "even one probed cell finds some of the top-k")
  }

  test("recallCurve: the sample-scale query cap is enforced, not advisory") {
    val idx = KMeansIndex.build(emb, k = 4)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val ex = intercept[Exception] {
      KMeansIndex.recallCurve(idx, queries, topK = 5, probes = Seq(1, 4),
        maxQueries = 4L).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("sample-scale evaluator"), s"expected the cap raise: $msg")
    // at the cap it still runs
    assert(KMeansIndex.recallCurve(idx, queries, topK = 5, probes = Seq(1, 4),
      maxQueries = 8L).count() == 2L)
  }

  test("KMeans probe search: high recall vs exact top-k with modest probes") {
    val idx = KMeansIndex.build(emb, k = 8)
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val recallAll = KMeansIndex.recallAtK(idx, emb, query, topK = 10, nProbe = 8)
    assert(recallAll == 1.0) // probing every cell == exact
    val recall = KMeansIndex.recallAtK(idx, emb, query, topK = 10, nProbe = 3)
    assert(recall >= 0.5, s"recall@10 with 3/8 probes was $recall")
  }

  test("persisted cell-partitioned index: probe search is partition-pruned") {
    val idx = KMeansIndex.build(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    KMeansIndex.persist(idx, path)
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val pruned = KMeansIndex.searchPersisted(spark, path, query, topK = 10, nProbe = 3)
    // the cell filter reaches the file index as static partition pruning:
    // only the probed cells' directories are read
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected static partition pruning on cell in:\n${plan.take(1500)}")
    // identical results to the in-memory probe search on the same index
    val inMem = KMeansIndex.search(idx, query, topK = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val onDisk = pruned.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(onDisk == inMem)
  }

  test("appendPersisted: incremental ingest lands in the pruned index") {
    val idx = KMeansIndex.build(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString + "/idx"
    KMeansIndex.persist(idx, path)
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    // ingest a new vector identical to the query under a fresh id: it
    // must assign to the query's own cell and become the tied top hit
    val newVec = emb.filter($"vec_id" === 0)
      .select(lit(999999L).as("vec_id"), $"embedding", $"label")
    KMeansIndex.appendPersisted(spark, path, newVec)
    val top = KMeansIndex.searchPersisted(spark, path, query, topK = 2, nProbe = 3)
      .collect()
    assert(top.map(_.getLong(0)).toSet == Set(0L, 999999L),
      s"top-2 was ${top.mkString(",")}")
    assert(top.forall(_.getDouble(2) == 1.0))
  }

  test("searchMany: batch probe search equals per-query search on the same index") {
    val idx = KMeansIndex.build(emb, k = 8)
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val batch = KMeansIndex.searchMany(idx, queries, topK = 5, nProbe = 3)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == Set(0L, 1L, 2L, 3L))
    for (qid <- 0L until 4L) {
      val q = emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0).toArray
      val single = KMeansIndex.search(idx, q, topK = 5, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(qid) == single, s"query $qid diverged")
      // every query's own vector is in its probed cells -> top hit = itself
      assert(batch(qid).head._1 == qid)
    }
  }

  test("SQL surface: vec_dot / vec_sq_dist registered via GraftFunctions") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
      "vec_sq_dist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS sq").head()
    assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 25.0)
  }

  test("SQL surface exposes all four reference metrics (similarity.py:82-110)") {
    GraftFunctions.register(spark)
    // pinned against the engine's own column formulations / scalar port
    // on a concrete vector pair — any drift between the SQL registration
    // and the DataFrame surface fails here
    val a = Array(0.6f, 0.8f, 0.0f)
    val b = Array(0.8f, 0.0f, 0.6f)
    val row = spark.sql(
      s"""SELECT
         |  vec_cosine_sim(array(0.6F, 0.8F, 0.0F), array(0.8F, 0.0F, 0.6F)) AS cos,
         |  vec_euclidean_dist(array(0.6F, 0.8F, 0.0F), array(0.8F, 0.0F, 0.6F)) AS dist,
         |  vec_euclidean_sim(array(0.6F, 0.8F, 0.0F), array(0.8F, 0.0F, 0.6F)) AS esim,
         |  vec_phi_sim(array(0.6F, 0.8F, 0.0F), array(0.8F, 0.0F, 0.6F)) AS phi""".stripMargin).head()
    // identical left-to-right double folds to the codegen kernels —
    // expectations are BIT-exact, not approximate (0.6f→double is not
    // 0.6, so the norms are not exactly 1.0 either)
    def fold(f: Int => Double): Double = { var s = 0.0; var i = 0; while (i < 3) { s += f(i); i += 1 }; s }
    val dot = fold(i => a(i).toDouble * b(i).toDouble)
    val na = math.sqrt(fold(i => a(i).toDouble * a(i).toDouble))
    val nb = math.sqrt(fold(i => b(i).toDouble * b(i).toDouble))
    val dist = math.sqrt(fold { i =>
      val d = a(i).toDouble - b(i).toDouble; d * d
    })
    assert(row.getDouble(0) == dot / (na * nb + 1e-12), s"cos=${row.getDouble(0)}")
    assert(row.getDouble(1) == dist)
    assert(row.getDouble(2) == 1.0 / (1.0 + dist))
    assert(row.getDouble(3) == graft.functions.VectorOps.phiWeightedSimilarity(a, b))
    // arity is validated with a clear message, not an index error
    val e = intercept[Exception](spark.sql("SELECT vec_phi_sim(array(1.0F))"))
    assert(e.getMessage.contains("2 arguments"), e.getMessage)
  }

  test("SQL surface: composed metrics reject non-deterministic arguments") {
    GraftFunctions.register(spark)
    // vec_cosine_sim places its arguments at three tree positions; a
    // rand()-built array would evaluate independently at each and score
    // inconsistently — the builder rejects it at analysis time instead
    val e = intercept[Exception](spark.sql(
      "SELECT vec_cosine_sim(array(rand(), rand()), array(1.0D, 0.0D))").head())
    assert(e.getMessage.contains("non-deterministic"), e.getMessage)
    // single-occurrence kernels still accept them (each input used once)
    val d = spark.sql(
      "SELECT vec_dot(array(rand(), rand()), array(0.0D, 0.0D)) AS d").head().getDouble(0)
    assert(d == 0.0)
    // DESCRIBE FUNCTION names this registry + the composition, not the
    // borrowed kernel class
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED vec_cosine_sim")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("GraftFunctions"), desc)
    assert(!desc.contains("VecDot"), desc)
  }

  test("appendPersisted publishes atomically: uncommitted batches are invisible") {
    val idx = KMeansIndex.build(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-atom").toString + "/idx"
    KMeansIndex.persist(idx, path)
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val before = KMeansIndex.searchPersisted(spark, path, query, topK = 2, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    val newVec = emb.filter($"vec_id" === 0)
      .select(lit(999999L).as("vec_id"), $"embedding", $"label")
    KMeansIndex.appendPersisted(spark, path, newVec)
    // simulate a reader racing a half-written batch: remove the commit
    // marker — the batch's data files are all present, but without
    // _COMMITTED the committed view must not include them
    val batches = new java.io.File(s"$path/batches").listFiles().filter(_.isDirectory)
    assert(batches.length == 1)
    val marker = new java.io.File(batches.head, "_COMMITTED")
    assert(marker.exists(), "the batch commit protocol should have written _COMMITTED")
    assert(marker.delete())
    val uncommitted = KMeansIndex.searchPersisted(spark, path, query, topK = 2, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(uncommitted == before, s"uncommitted batch leaked: $uncommitted")
    // restoring the marker (the atomic publish) makes the batch visible
    assert(marker.createNewFile())
    val committed = KMeansIndex.searchPersisted(spark, path, query, topK = 2, nProbe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(committed == Set(0L, 999999L), s"committed batch missing: $committed")
  }

  test("compactPersisted: search-invariant, batches folded, uncommitted preserved") {
    val idx = KMeansIndex.build(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString + "/idx"
    KMeansIndex.persist(idx, path)
    KMeansIndex.appendPersisted(spark, path,
      emb.filter($"vec_id" === 0)
        .select(lit(999998L).as("vec_id"), $"embedding", $"label"))
    KMeansIndex.appendPersisted(spark, path,
      emb.filter($"vec_id" === 1)
        .select(lit(999999L).as("vec_id"), $"embedding", $"label"))
    // one more batch whose commit marker is missing: it must survive the
    // compaction UNTOUCHED (not folded, not deleted) — the concurrent-
    // ingest guarantee
    KMeansIndex.appendPersisted(spark, path,
      emb.filter($"vec_id" === 2)
        .select(lit(999997L).as("vec_id"), $"embedding", $"label"))
    val batches = new java.io.File(s"$path/batches").listFiles().filter(_.isDirectory)
    assert(batches.length == 3)
    // the uncommitted batch is the one holding vec_id 999997
    val uncommitted = batches.find { b =>
      spark.read.parquet(b.toString).filter($"vec_id" === 999997L).count() == 1
    }.get
    assert(new java.io.File(uncommitted, "_COMMITTED").delete())
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val before = KMeansIndex.searchPersisted(spark, path, query, topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    KMeansIndex.compactPersisted(spark, path)
    // identical results — compaction is a pure layout rewrite
    val after = KMeansIndex.searchPersisted(spark, path, query, topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(after == before, "compaction changed search results")
    // the two committed batches folded into the base; the uncommitted
    // one is still on disk, still invisible
    val left = new java.io.File(s"$path/batches").listFiles().filter(_.isDirectory)
    assert(left.map(_.getName).toSeq == Seq(uncommitted.getName),
      s"committed batches should be deleted after folding, got ${left.toSeq}")
    val base = spark.read.option("basePath", s"$path/cells").parquet(s"$path/cells")
    assert(base.filter($"vec_id".isin(999998L, 999999L)).count() == 2,
      "appended rows must live in the base after compaction")
    assert(base.filter($"vec_id" === 999997L).count() == 0,
      "uncommitted rows must NOT be folded into the base")
    // idempotence: compacting a compacted layout is a no-op (the one
    // remaining dir is uncommitted, so the snapshot is base-only)
    KMeansIndex.compactPersisted(spark, path)
    val again = KMeansIndex.searchPersisted(spark, path, query, topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(again == before)
  }

  test("persist: a torn rebuild (no manifest) makes searchPersisted refuse") {
    val idx = KMeansIndex.build(emb, k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-torn").toString + "/idx"
    KMeansIndex.persist(idx, path)
    // a rebuild that died between its table writes leaves the tables
    // of two generations and no manifest: the probe must refuse rather
    // than score new cells against old centroids
    assert(new java.io.File(path, "manifest.json").delete())
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val e = intercept[IllegalArgumentException] {
      KMeansIndex.searchPersisted(spark, path, query, topK = 2, nProbe = 8)
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("SQL surface: whole search pipeline in pure SQL over a temp view") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_sql")
    val top = spark.sql(
      """SELECT e.vec_id,
        |  vec_dot(e.embedding, q.embedding) /
        |    (sqrt(vec_dot(e.embedding, e.embedding)) * sqrt(vec_dot(q.embedding, q.embedding)) + 1e-12) AS score
        |FROM emb_sql e CROSS JOIN (SELECT embedding FROM emb_sql WHERE vec_id = 0) q
        |ORDER BY score DESC, vec_id LIMIT 3""".stripMargin).collect()
    assert(top.length == 3 && top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
  }
}
