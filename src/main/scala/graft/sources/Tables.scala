package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** Central readers for the driver-provided parquet tables
  * (`/root/repo/TESTDATA.md`). One place owns the quirks: the events
  * table's TIMESTAMP(NANOS) encoding, and the derived reference
  * address-space columns for the embeddings table.
  */
object Tables {

  /** A table read with its schema given. Inferring a parquet schema
    * reads the footers in a Spark job on every read; the inferred
    * schema is kept, keyed on the path, every listed file's name,
    * length and modification time, and the session's parquet reader
    * settings, so a rewritten table or a changed reader setting infers
    * again and an unchanged table reads with no job.
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, listing(s, path), s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") })
    val schema = schemas.getOrElseUpdate(key, s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[(String, Long, Long)], Map[String, String]), StructType]

  /** (name, length, mtime) of every file under `path`, sorted; empty
    * for a missing path, whose read then fails as Spark reports it.
    */
  private def listing(s: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val files = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  /** embeddings, normalized to `array<float>` — the reference's storage
    * type (`types.py:132-136`). The driver has regenerated testdata
    * mid-round with a changed encoding once (events.ts, round 6); if
    * `embedding` ever arrives as `array<double>`, dispatch on the read
    * schema the same way rather than letting every `Array[Float]`
    * call site fail at once.
    *
    * The double→float branch VERIFIES losslessness before narrowing
    * (once per dir per JVM — memoized): if a future regen writes
    * doubles that are not exactly float-representable, Spark would
    * silently lose precision while the DuckDB oracle reads the full
    * doubles, flipping 6-dp rounding boundaries. Fail loudly instead
    * (round-7 advice).
    */
  private val floatSafeDirs = scala.collection.concurrent.TrieMap.empty[String, Unit]

  def embeddings(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    raw.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) =>
        floatSafeDirs.getOrElseUpdate(dir, {
          val lossy = raw.filter(exists(col("embedding"),
            x => x.isNotNull && x.cast("float").cast("double") =!= x)).limit(1).count()
          if (lossy > 0) throw new IllegalStateException(
            s"$dir/embeddings.parquet stores array<double> values that are " +
            "not float-representable; the float narrowing the engine applies " +
            "would silently diverge from an oracle reading the full doubles")
        })
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case _ => raw
    }
  }

  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")

  /** events has been driver-generated with two different `ts` encodings
    * across rounds: TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects without the legacy nanos-as-long flag) and plain
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    * TIMESTAMP_NTZ). Dispatch on the schema actually read so both —
    * and any future regen — yield the same session-UTC `timestamp`
    * column in microseconds.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw =
      try table(s, dir, "events")
      catch {
        // TIMESTAMP(NANOS) footer: schema inference throws "Illegal
        // Parquet type: INT64 (TIMESTAMP(NANOS,...))" unless the legacy
        // flag is on. Session-scoped by necessity: the flag has no
        // per-read option and is consulted when the scan plans AND
        // executes, so it cannot be set-and-restored around a lazy read.
        case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, dir, "events")
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long → microsecond timestamp. Floor division, not
        // `div` alone (truncation toward zero): a pre-epoch nanos value
        // like -1500 must floor to -2µs, not truncate to -1µs, or
        // boundary comparisons flip vs an oracle that floors. Integer
        // arithmetic — a double division would be inexact here (epoch
        // nanos exceed double's 2^53 range, ulp = 256 ns).
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // MICROS/isAdjustedToUTC=false → NTZ; the session timezone is
        // pinned to UTC everywhere (Bench/Verify/tests), so this cast
        // reinterprets the wall-clock as UTC with identical micros —
        // matching what DuckDB's oracle reads from the same file.
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected int64-nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** The reference's address-space derivation — THE single definition of
    * the vec_id → (glyph_id, ctx) mapping and its 144000/10 bounds
    * (`/root/reference/aeuc_vector_db/types.py:121-128`); operators that
    * need address columns apply this rather than re-deriving inline.
    */
  def withAddressSpace(df: DataFrame): DataFrame =
    df.withColumn("glyph_id", col("vec_id") % 144000L)
      .withColumn("outer_context_id", (col("vec_id") % 10L).cast("int"))

  /** Embeddings with the reference's address space derived from vec_id. */
  def embeddingsAddressed(s: SparkSession, dir: String): DataFrame =
    withAddressSpace(embeddings(s, dir))
}
