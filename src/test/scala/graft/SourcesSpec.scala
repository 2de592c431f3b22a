package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Source/sink round-trips (SURVEY.md §2.9 scans/sources/sinks): the
  * engine's tables survive parquet, orc, json, and csv; schemas are
  * re-applied on schemaless formats.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val base = spark.read
    .parquet("/root/testdata/sf0.001/customer.parquet").cache()
  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-io").toString

  private def roundtrip(fmt: String): Unit = {
    val path = s"$dir/$fmt"
    base.write.format(fmt).mode("overwrite")
      .option("header", "true") // csv only; ignored elsewhere
      .save(path)
    val back = spark.read.format(fmt)
      .schema(base.schema) // csv/json lose types without it
      .option("header", "true")
      .load(path)
    assert(back.count() == base.count(), fmt)
    val a = base.orderBy("c_custkey").collect().map(_.toSeq)
    val b = back.orderBy("c_custkey").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, s"$fmt round-trip mismatch")
  }

  test("parquet round-trip")(roundtrip("parquet"))
  test("orc round-trip")(roundtrip("orc"))
  test("json round-trip")(roundtrip("json"))
  test("csv round-trip")(roundtrip("csv"))

  // the driver has regenerated events.parquet mid-round with a different
  // ts encoding once (int64-nanos in r1-r5, TIMESTAMP(MICROS)/NTZ in r6),
  // zeroing 9 queries; pin that Tables.events normalizes every observed
  // encoding to the same session-UTC timestamp micros
  test("Tables.events accepts int64-nanos, TIMESTAMP_NTZ, and TIMESTAMP ts encodings identically") {
    import spark.implicits._
    // deliberately non-µs-aligned nanos (xx999 ns) and a pre-epoch row:
    // the long branch must FLOOR to micros, not truncate toward zero
    val nanos = Seq(
      (1L, 1700000000123456999L, 10L, "click", 1.5, """{"k":1}"""),
      (2L, 1700000003999999001L, 11L, "error", 2.5, """{"k":2}"""),
      (3L, -1500L, 12L, "view", 0.5, """{"k":3}"""))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val expectedMicros = Seq(1700000000123456L, 1700000003999999L, -2L)

    def writeAndRead(variant: String, build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[Long] = {
      val d = s"$dir/events_$variant"
      build(nanos.toDF(cols: _*)).write.mode("overwrite").parquet(s"$d/events.parquet")
      val got = sources.Tables.events(spark, d)
      assert(got.schema("ts").dataType == org.apache.spark.sql.types.TimestampType, variant)
      got.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect().toSeq
    }

    val fromLong = writeAndRead("long", identity) // int64 column named ts
    // micros floor(nanos/1000), written as TIMESTAMP_NTZ → parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false), the r6 driver encoding
    val fromNtz = writeAndRead("ntz",
      _.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")).cast("timestamp_ntz")))
    // session-UTC TIMESTAMP(MICROS, isAdjustedToUTC=true)
    val fromLtz = writeAndRead("ltz",
      _.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000"))))

    assert(fromLong == expectedMicros)
    assert(fromNtz == expectedMicros)
    assert(fromLtz == expectedMicros)
  }

  test("Tables.embeddings normalizes a double-encoded embedding column to float") {
    val d = java.nio.file.Files.createTempDirectory("graft-embenc").toString
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val back = graft.sources.Tables.embeddings(spark, d)
    assert(back.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, true))
    // float -> double -> float is exact: the values round-trip
    val orig = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") === 7).head().getSeq[Float](1)
    assert(back.filter(col("vec_id") === 7).head()
      .getAs[scala.collection.Seq[Float]]("embedding") == orig)
  }

  test("Tables.table infers a file's schema once; a rewritten table infers again") {
    val d = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val src = base.limit(5)
    src.write.parquet(s"$d/t.parquet")
    val first = sources.Tables.table(spark, d, "t")
    assert(first.schema == src.schema)
    assert(TestSpark.jobsOf(sources.Tables.table(spark, d, "t")) == 0,
      "a second read of an unchanged table must not infer its schema again")
    src.withColumn("extra", lit(1)).write.mode("overwrite").parquet(s"$d/t.parquet")
    val again = sources.Tables.table(spark, d, "t")
    assert(again.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq :+ "extra")
    assert(again.collect().forall(_.getAs[Int]("extra") == 1))
  }

  test("embeddings (nested array column) round-trip via json") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = s"$dir/emb_json"
    emb.write.mode("overwrite").json(path)
    val back = spark.read.schema(emb.schema).json(path)
    assert(back.count() == emb.count())
    val origRow = emb.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val backRow = back.filter(col("vec_id") === 7).head().getSeq[Float](1)
    assert(origRow == backRow) // float values survive the text format
  }
}
