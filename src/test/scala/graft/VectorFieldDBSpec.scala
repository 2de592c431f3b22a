package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors /root/reference/tests/test_vector_field.py: CRUD + error
  * paths, clustering + back-pointers, search contract, auto-cluster,
  * JSONL round-trip, audit hash behaviour, snapshot/stats.
  */
class VectorFieldDBSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def vec(v: Float): Array[Float] = Array.fill(8)(v)

  private def freshDb(): VectorFieldDB = new VectorFieldDB(spark, 8)

  test("constructor rejects dim < 1") {
    intercept[IllegalArgumentException](new VectorFieldDB(spark, 0))
  }

  test("add + get + count") {
    val db = freshDb()
    val id = db.addIGlyph(10, 1, vec(0.5f), label = "obs1")
    assert(db.iglyphs.count() == 1)
    val g = db.getIGlyph(id).get
    assert(g.glyph_id == 10 && g.outer_context_id == 1 && g.label == "obs1"
      && g.embedding.toSeq == vec(0.5f).toSeq)
    assert(db.getIGlyph("missing").isEmpty)
  }

  test("duplicate id rejected") {
    val db = freshDb()
    db.addIGlyph(1, 1, vec(1f), id = Some("dup"))
    intercept[IllegalArgumentException](db.addIGlyph(2, 2, vec(2f), id = Some("dup")))
  }

  test("wrong dimension rejected") {
    val db = freshDb()
    intercept[IllegalArgumentException](db.addIGlyph(1, 1, Array(1f, 2f)))
  }

  test("glyph/ctx range rejected at add") {
    val db = freshDb()
    intercept[IllegalArgumentException](db.addIGlyph(144000, 1, vec(1f)))
    intercept[IllegalArgumentException](db.addIGlyph(1, 10, vec(1f)))
  }

  test("update embedding replaces values; missing id errors") {
    val db = freshDb()
    val id = db.addIGlyph(1, 1, vec(1f))
    db.updateIGlyphEmbedding(id, vec(2f))
    assert(db.getIGlyph(id).get.embedding.toSeq == vec(2f).toSeq)
    intercept[NoSuchElementException](db.updateIGlyphEmbedding("nope", vec(1f)))
    intercept[IllegalArgumentException](db.updateIGlyphEmbedding(id, Array(1f)))
  }

  test("delete removes row and cleans pglyph member list; missing id errors") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val b = db.addIGlyph(1, 1, vec(2f))
    val pg = db.formCluster(Seq(a, b), 1, 1)
    db.deleteIGlyph(a)
    assert(db.iglyphs.count() == 1)
    assert(db.getPGlyph(pg).get.member_ids.toSeq == Seq(b))
    intercept[NoSuchElementException](db.deleteIGlyph(a))
  }

  test("formCluster: centroid mean, inertia, back-pointers") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val b = db.addIGlyph(1, 1, vec(3f))
    val pg = db.formCluster(Seq(a, b), 7, 1, clusterTag = "t")
    val p = db.getPGlyph(pg).get
    assert(p.centroid.toSeq == vec(2f).toSeq)          // mean of 1,3
    assert(math.abs(p.inertia - 16.0) < 1e-5)          // 2 * 8 * 1^2
    assert(p.member_ids.sorted.toSeq == Seq(a, b).sorted)
    assert(p.glyph_id == 7 && p.cluster_tag == "t")
    assert(db.getIGlyph(a).get.proto_id.contains(pg))
    assert(db.getIGlyph(b).get.proto_id.contains(pg))
  }

  test("formCluster: unknown ids silently dropped; all-unknown errors") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val pg = db.formCluster(Seq(a, "ghost"), 1, 1)
    assert(db.getPGlyph(pg).get.member_ids.toSeq == Seq(a))
    intercept[IllegalArgumentException](db.formCluster(Seq("ghost"), 1, 1))
  }

  test("recomputePGlyph moves centroid after member update") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val b = db.addIGlyph(1, 1, vec(3f))
    val pg = db.formCluster(Seq(a, b), 1, 1)
    db.updateIGlyphEmbedding(b, vec(5f))
    db.recomputePGlyph(pg)
    assert(db.getPGlyph(pg).get.centroid.toSeq == vec(3f).toSeq)
    intercept[NoSuchElementException](db.recomputePGlyph("nope"))
  }

  test("recomputePGlyph with every member deleted fails and changes nothing") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val b = db.addIGlyph(1, 1, vec(3f))
    val pg = db.formCluster(Seq(a, b), 1, 1)
    db.deleteIGlyph(a)
    db.deleteIGlyph(b)
    val before = db.getPGlyph(pg).get
    val hash = db.currentHash
    intercept[IllegalStateException](db.recomputePGlyph(pg))
    val after = db.getPGlyph(pg).get
    assert(after.centroid.toSeq == before.centroid.toSeq &&
      after.inertia == before.inertia && after.member_ids.isEmpty &&
      after.timestamp == before.timestamp)
    assert(db.pglyphs.count() == 1 && db.currentHash == hash)
  }

  test("formCluster: a repeated id is one member with one back-pointer") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val b = db.addIGlyph(1, 1, vec(3f))
    val pg = db.formCluster(Seq(a, a, b, a), 1, 1)
    val p = db.getPGlyph(pg).get
    assert(p.member_ids.sorted.toSeq == Seq(a, b).sorted)
    assert(p.centroid.toSeq == vec(2f).toSeq)
    import org.apache.spark.sql.functions.{col => c}
    assert(db.iglyphs.count() == 2)
    assert(db.iglyphs.filter(c("proto_id") === pg).count() == 2)
  }

  test("search: exact k results, descending, correct winner") {
    val db = freshDb()
    for (i <- 1 to 9) db.addIGlyph(i, i % 10, vec(i * 0.15f + 0.05f), label = s"g$i")
    val res = db.search(vec(0.5f), topK = 3).collect()
    assert(res.length == 3)
    val scores = res.map(_.getAs[Double]("score"))
    assert(scores.sorted.reverse.toSeq == scores.toSeq)
    // constant vectors are all cosine-identical; euclidean picks the closest
    val resE = db.search(vec(0.5f), topK = 1, metric = "euclidean").collect()
    assert(resE.head.getAs[String]("label") == "g3") // 3*0.15+0.05 = 0.5
  }

  test("search: equality filters narrow candidates") {
    val db = freshDb()
    for (i <- 1 to 9) db.addIGlyph(i, i % 3, vec(i * 0.1f))
    val byGlyph = db.search(vec(0.5f), topK = 10, glyphIdFilter = Some(4)).collect()
    assert(byGlyph.length == 1 && byGlyph.head.getAs[Int]("glyph_id") == 4)
    val byCtx = db.search(vec(0.5f), topK = 10, ctxFilter = Some(1)).collect()
    assert(byCtx.forall(_.getAs[Int]("outer_context_id") == 1) && byCtx.length == 3)
    val both = db.search(vec(0.5f), topK = 10,
      glyphIdFilter = Some(4), ctxFilter = Some(1)).collect()
    assert(both.length == 1)
  }

  test("search: wrong-dim query rejected; unknown metric rejected") {
    val db = freshDb()
    db.addIGlyph(1, 1, vec(1f))
    intercept[IllegalArgumentException](db.search(Array(1f, 2f)))
    intercept[IllegalArgumentException](db.search(vec(1f), metric = "bogus"))
  }

  test("searchPGlyphs scores centroids") {
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f))
    val b = db.addIGlyph(1, 1, vec(3f))
    db.formCluster(Seq(a, b), 1, 1, clusterTag = "c1")
    val res = db.searchPGlyphs(vec(2f), topK = 5, metric = "euclidean").collect()
    assert(res.length == 1 && math.abs(res.head.getAs[Double]("score") - 1.0) < 1e-6)
  }

  test("autoClusterPhi: one pglyph per non-empty band; empty ctx → empty") {
    val db = freshDb()
    for (i <- 0 until 9) db.addIGlyph(i, 5, vec(i * 0.15f + 0.05f))
    val pgs = db.autoClusterPhi(5, anchorGlyphId = 100)
    assert(pgs.nonEmpty && pgs.size <= 3)
    val tags = pgs.flatMap(db.getPGlyph(_)).map(_.cluster_tag)
    assert(tags.forall(_.startsWith("phi_band_")))
    // every member got exactly one band → union of members == all 9
    assert(pgs.flatMap(db.getPGlyph(_)).map(_.member_ids.length).sum == 9)
    assert(db.autoClusterPhi(7, 100).isEmpty)
  }

  test("autoClusterPhiBatch: same bands/members as the per-band loop, one audit record") {
    def populate(db: VectorFieldDB): Unit =
      for (i <- 0 until 9) db.addIGlyph(i, 5, vec(i * 0.15f + 0.05f), id = Some(s"m$i"))
    val dbLoop = freshDb(); populate(dbLoop)
    val dbBatch = freshDb(); populate(dbBatch)
    val loopPgs = dbLoop.autoClusterPhi(5, 100)
    val batchPgs = dbBatch.autoClusterPhiBatch(5, 100)
    def shape(db: VectorFieldDB, ids: Seq[String]) =
      ids.flatMap(db.getPGlyph)
        .map(p => (p.cluster_tag, p.member_ids.sorted.mkString(",")))
        .sortBy(_._1)
    assert(shape(dbBatch, batchPgs) == shape(dbLoop, loopPgs))
    // back-pointers set on every member
    import org.apache.spark.sql.functions.{col => c}
    assert(dbBatch.iglyphs.filter(c("proto_id").isNotNull).count() == 9)
    assert(dbBatch.changeHistory.filter(c("action") === "AUTO_CLUSTER_PHI").count() == 1)
  }

  test("JSONL export/import round-trip; skip-dup; overwrite") {
    import spark.implicits._
    val db = freshDb()
    val a = db.addIGlyph(1, 1, vec(1f), label = "one")
    db.addIGlyph(2, 2, vec(2f), label = "two")
    val jsonl = db.exportJsonl().collect()
    assert(jsonl.length == 2 && jsonl.forall(_.contains("iglyph_id")))

    val db2 = freshDb()
    val n = db2.importJsonl(spark.createDataset(jsonl.toSeq))
    assert(n == 2 && db2.iglyphs.count() == 2)
    // re-import skips existing ids
    assert(db2.importJsonl(spark.createDataset(jsonl.toSeq)) == 0)
    // overwrite replaces
    val mutated = jsonl.map(_.replace("\"label\":\"one\"", "\"label\":\"ONE\""))
    assert(db2.importJsonl(spark.createDataset(mutated.toSeq), overwrite = true) == 2)
    assert(db2.getIGlyph(a).get.label == "ONE")
    // wrong-dim rows silently skipped
    val bad = """{"iglyph_id":"bad","glyph_id":1,"outer_context_id":1,"embedding":[1.0,2.0]}"""
    assert(db2.importJsonl(spark.createDataset(Seq(bad))) == 0)
  }

  test("heterogeneous meta: nested values survive store, JSONL and snapshot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val db = freshDb()
    val id = db.addIGlyph(1, 1, vec(1f),
      meta = """{"k":"v","n":7,"xs":[1,2],"nested":{"a":true}}""")
    // typed access on the stored variant column
    assert(db.iglyphs.select(variant_get(col("meta"), "$.n", "int"))
      .head().getInt(0) == 7)
    assert(db.iglyphs.select(variant_get(col("meta"), "$.nested.a", "boolean"))
      .head().getBoolean(0))
    // the wire format carries meta as a nested JSON OBJECT (reference
    // export_jsonl parity), not an escaped string
    val line = db.exportJsonl().collect().head
    assert(line.contains("\"meta\":{") && line.contains("\"n\":7"))
    // import preserves heterogeneity
    val db2 = freshDb()
    assert(db2.importJsonl(spark.createDataset(Seq(line))) == 1)
    assert(db2.iglyphs.select(variant_get(col("meta"), "$.xs[1]", "int"))
      .head().getInt(0) == 2)
    // snapshot/restore round-trips the variant column through parquet
    val dir = java.nio.file.Files.createTempDirectory("graft-meta-snap").toString
    db.snapshot(dir)
    val db3 = freshDb()
    db3.restore(dir)
    assert(db3.iglyphs.select(variant_get(col("meta"), "$.n", "int"))
      .head().getInt(0) == 7)
    // typed view surfaces the document as a JSON string
    assert(db3.getIGlyph(id).get.meta.contains("\"n\":7"))
  }

  test("invalid meta JSON rejected at the mutation, store stays usable") {
    val db = freshDb()
    db.addIGlyph(1, 1, vec(1f), id = Some("ok"), meta = """{"k": [1, {"x": 2}]}""")
    // single-row path: driver-side validation throws, nothing committed
    intercept[IllegalArgumentException] {
      db.addIGlyph(1, 1, vec(2f), meta = "not json {")
    }
    intercept[IllegalArgumentException] {
      db.formCluster(Seq("ok"), anchorGlyphId = 1, ctx = 1, meta = "also not json")
    }
    // distributed batch path: bad meta string counted as a constraint
    // violation in the validation job
    import spark.implicits._
    intercept[IllegalArgumentException] {
      db.addIGlyphsDF(Seq(IGlyph("bm", 2, 1, vec(3f), meta = "{broken")).toDS().toDF())
    }
    // the store was not poisoned: every later action still works
    assert(db.iglyphs.count() == 1)
    assert(db.getIGlyph("ok").get.meta.contains("\"x\":2"))
    assert(db.verifyHash() == db.currentHash)
  }

  test("membership hash changes on mutation, stable otherwise") {
    val db = freshDb()
    val h0 = db.currentHash
    val id = db.addIGlyph(1, 1, vec(1f))
    val h1 = db.currentHash
    assert(h0 != h1 && h1.length == 64)
    db.updateIGlyphEmbedding(id, vec(2f))   // membership unchanged
    val h2 = db.currentHash
    db.deleteIGlyph(id)
    assert(db.currentHash != h2)
  }

  test("incremental hash equals full-scan recomputation after every mutation kind") {
    val db = freshDb()
    assert(db.verifyHash() == db.currentHash) // empty store
    val ids = (1 to 4).map(i => db.addIGlyph(i, i % 3, vec(i.toFloat), id = Some(s"g$i")))
    assert(db.verifyHash() == db.currentHash) // Seq add path
    import spark.implicits._
    db.addIGlyphsDF(Seq(
      IGlyph("df1", 5, 1, vec(5f)), IGlyph("df2", 6, 2, vec(6f))).toDS().toDF())
    assert(db.verifyHash() == db.currentHash) // distributed batch path
    db.formCluster(ids.take(3), anchorGlyphId = 1, ctx = 1)
    assert(db.verifyHash() == db.currentHash) // pglyph add
    db.updateIGlyphEmbedding("df1", vec(9f))
    assert(db.verifyHash() == db.currentHash) // membership unchanged
    db.deleteIGlyph("df2")
    assert(db.verifyHash() == db.currentHash) // delete = XOR self-inverse
    val line = db.exportJsonl().collect().head
    val db2 = freshDb()
    db2.importJsonl(spark.createDataset(Seq(line)))
    assert(db2.verifyHash() == db2.currentHash) // import path
  }

  test("audit log records every mutation with hash chain") {
    val db = freshDb()
    val id = db.addIGlyph(1, 1, vec(1f))
    db.updateIGlyphEmbedding(id, vec(2f))
    db.deleteIGlyph(id)
    val hist = db.changeHistory.collect()
    assert(hist.map(_.getAs[String]("action")).toSeq ==
      Seq("ADD_IGLYPH", "UPDATE_IGLYPH", "DELETE_IGLYPH"))
    // chain: each record's hash_before is the previous hash_after
    val pairs = hist.map(r => (r.getAs[String]("hash_before"), r.getAs[String]("hash_after")))
    assert(pairs.sliding(2).forall { case Array(p, n) => p._2 == n._1; case _ => true })
  }

  test("stats reports live exact counts") {
    val db = freshDb()
    for (i <- 1 to 5) db.addIGlyph(i % 2, i % 3, vec(i.toFloat))
    val st = db.stats()
    assert(st("iglyph_count") == 5L && st("glyph_ids_used") == 2L &&
      st("contexts_used") == 3L && st("dim") == 8)
    // DB version (vector_field.py:65) — distinct from the record "1.0.0"
    assert(st("version") == VectorFieldDB.Version)
    val repr = db.toString
    assert(repr.contains(s"v${VectorFieldDB.Version}") && repr.contains("iglyphs=5") &&
      repr.contains("hash=" + db.currentHash.take(8)), repr)
  }

  test("snapshot + restore round-trip") {
    val db = freshDb()
    db.addIGlyph(1, 1, vec(1f))
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    db.snapshot(dir)
    val db2 = freshDb()
    db2.restore(dir)
    assert(db2.iglyphs.count() == 1 && db2.currentHash == db.currentHash)
  }

  test("audit history beyond the staging bound survives snapshot/restore as a frame") {
    val db = freshDb()
    // enough mutations to force at least one distributed flush
    val n = VectorFieldDB.AuditFlushEvery * 2 + 3
    for (i <- 1 to n) db.addIGlyph(i % 144000, i % 10, vec(i.toFloat))
    assert(db.stats()("history_len") == n.toLong)
    assert(db.changeHistory.count() == n.toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-hist").toString
    db.snapshot(dir)
    val db2 = freshDb()
    db2.restore(dir)
    // restored history is a DataFrame of all n records with the chain
    // intact (hash_before of each record = hash_after of the previous)
    assert(db2.stats()("history_len") == n.toLong)
    import org.apache.spark.sql.functions.{col => cc}
    val chain = db2.changeHistory
      .orderBy(cc("timestamp"), cc("hash_before")).collect()
      .map(r => (r.getAs[String]("hash_before"), r.getAs[String]("hash_after")))
    assert(chain.length == n)
    assert(chain.map(_._2).toSet.size == n) // every mutation changed the hash
    assert(db2.currentHash == db.currentHash)
  }
}
