package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A result's rows in canonical form: columns sorted by name, each row
    * rendered null-safe and tab-joined, rows sorted. Doubles print via
    * toString (the exact shortest repr), so any bit flip shows.
    */
  def canonicalRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("\t"))
      .sorted
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query names to run instead of the full set
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query canonical value dump (flat file, NOT inside the
    // per-query parquet dir, so globbing readers never see it) of
    // canonicalRows, the form a hash compare consumes. A driver-side
    // hash mismatch is then diagnosable from the dumped values alone
    // (CORRECTNESS_r09's two unreproducible reds motivated this).
    // Bounded at 40 rows + a count line per query.
    val dump = new StringBuilder
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val back = spark.read.parquet(s"$outDir/$name")
        val rows = canonicalRows(back)
        dump ++= s"== $name rows=${rows.length} cols=${back.columns.sorted.mkString(",")}\n"
        rows.take(40).foreach(r => dump ++= s"$r\n")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/values_dump.txt"), dump.toString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
