package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark.jobsOf

/** The facade's write-time materialization: a write that adds a join or
  * an aggregate to a table materializes it before returning, so later
  * reads scan the result, and every frame a write caches for itself is
  * released by the time it returns.
  */
class WriteMaterializationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(v: Float): Array[Float] = Array.fill(8)(v)

  test("after formCluster, a pglyph search and an iglyph search each run one job") {
    val db = new VectorFieldDB(spark, 8)
    val ids = (1 to 6).map(i => db.addIGlyph(i, 1, vec(i.toFloat)))
    db.formCluster(ids.take(4), anchorGlyphId = 1, ctx = 1)
    assert(jobsOf(db.searchPGlyphs(vec(2f)).collect()) == 1)
    assert(jobsOf(db.search(vec(2f), topK = 3).collect()) == 1)
  }

  test("writes leave nothing in the cache, accepted or rejected") {
    spark.catalog.clearCache()
    val cache = spark.sharedState.cacheManager
    val db = new VectorFieldDB(spark, 8)
    val batch = (0 until 9).map(i => IGlyph(s"b$i", i, 5, vec(i * 0.15f + 0.05f)))
    assert(db.addIGlyphsDF(batch.toDS().toDF()) == 9L)
    assert(cache.isEmpty, "accepted addIGlyphsDF")
    intercept[IllegalArgumentException](db.addIGlyphsDF(batch.take(2).toDS().toDF()))
    assert(cache.isEmpty, "rejected addIGlyphsDF")
    val line = """{"iglyph_id":"j1","glyph_id":1,"outer_context_id":2,""" +
      """"embedding":[1,1,1,1,1,1,1,1]}"""
    assert(db.importJsonl(spark.createDataset(Seq(line))) == 1L)
    assert(cache.isEmpty, "importJsonl")
    assert(db.autoClusterPhiBatch(5, anchorGlyphId = 100).nonEmpty)
    assert(cache.isEmpty, "autoClusterPhiBatch")
    val pgs = db.autoClusterPhi(5, anchorGlyphId = 100)
    assert(cache.isEmpty, "autoClusterPhi")
    db.recomputePGlyph(pgs.head)
    assert(cache.isEmpty, "recomputePGlyph")
    intercept[IllegalArgumentException](db.formCluster(Seq("ghost"), 1, 1))
    assert(cache.isEmpty, "rejected formCluster")
    assert(db.verifyHash() == db.currentHash)
  }
}
