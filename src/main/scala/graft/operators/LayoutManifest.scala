package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE lifecycle every persisted, appendable layout follows — the
  * dedup index, the containment index, the ICWS sketches, the BM25
  * postings and the IVF cells. A family names its tables and says how
  * to write and read them; the commit protocol lives only here:
  *
  *  - REBUILD ([[rebuild]]): delete `manifest.json` (the layout's
  *    commit marker) and every append batch (stale against the new
  *    base), write the base tables, then write the manifest LAST. A
  *    rebuild that dies between its table writes leaves no manifest,
  *    and every reader REFUSES naming it instead of joining a table of
  *    the new generation to one of the old — the torn-rebuild failure a
  *    stale-but-valid manifest would wave through.
  *  - APPEND ([[append]]): the batch's tables land in their own
  *    `batches/batch-<uuid>/` directory, and the batch-level
  *    `_COMMITTED` marker is created after ALL of them, so a reader
  *    sees a batch whole or not at all (one marker for several tables,
  *    which Spark's per-job `_SUCCESS` cannot give).
  *  - READ ([[committed]]): refuses a layout without a manifest, and
  *    lists only the batches whose marker exists.
  *  - COMPACT ([[compact]]): fold the batches committed at the snapshot
  *    into staging tables, swap each in with two renames, and delete
  *    only the snapshot's batches — a batch committed concurrently
  *    survives untouched and is folded next time.
  *
  * The manifest holds integer fields only: the parameters that are part
  * of the layout (a probe at a different shingle width or band geometry
  * would match nothing), so appends and probes read them from here,
  * never from caller arguments. This protects crash recovery only;
  * concurrent READERS must quiesce across a rebuild and across a
  * compaction's rename window (appends never need that).
  *
  * `kind` and `builder` name the family in refusals, e.g. "no
  * dedup-index manifest at … — not a persistDedupIndex layout".
  */
private[graft] final case class LayoutManifest(kind: String, builder: String) {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path, "manifest.json")
    val f = fs(spark, p)
    require(f.exists(p), s"no $kind manifest at $p — not a $builder layout")
    (f, p)
  }

  /** Rebuild the base tables: uncommit, drop the batches, run
    * `writeTables`, then commit `fields` as the new manifest.
    */
  def rebuild(spark: SparkSession, path: String, fields: (String, Int)*)(
      writeTables: => Unit): Unit = {
    val manifest = new Path(path, "manifest.json")
    val f = fs(spark, manifest)
    f.delete(manifest, false)
    f.delete(new Path(path, "batches"), true)
    writeTables
    val out = f.create(manifest, true)
    try out.write(fields.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}").getBytes("UTF-8"))
    finally out.close()
  }

  /** Land one append batch on a committed layout: `writeTables` writes
    * the batch's tables under the directory it is given; the
    * `_COMMITTED` marker follows.
    */
  def append(spark: SparkSession, path: String)(
      writeTables: String => Unit): Unit = {
    manifestOf(spark, path)
    val dir = s"$path/batches/batch-${java.util.UUID.randomUUID()}"
    writeTables(dir)
    val marker = new Path(dir, "_COMMITTED")
    fs(spark, marker).createNewFile(marker)
    ()
  }

  /** The committed batch directories of the layout at `path`, in name
    * order; in-flight or failed batches are invisible to every reader.
    */
  def committed(spark: SparkSession, path: String): Seq[String] = {
    manifestOf(spark, path)
    val root = new Path(path, "batches")
    val f = fs(spark, root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(p => f.exists(new Path(p, "_COMMITTED")))
      .map(_.toString).sorted.toSeq
  }

  /** One table over the base and the given batch directories, each
    * directory opened by `read`.
    */
  def view(path: String, table: String, batches: Seq[String])(
      read: String => DataFrame): DataFrame =
    (s"$path/$table" +: batches.map(b => s"$b/$table"))
      .map(read).reduce(_.unionByName(_))

  /** Compact: `writeStaged` folds base + the snapshot's batches of each
    * of `tables` into the staging directory it is given per table name;
    * each is then renamed into place and the snapshot's batches are
    * deleted. A no-op when nothing is committed.
    */
  def compact(spark: SparkSession, path: String, tables: String*)(
      writeStaged: (Seq[String], String => String) => Unit): Unit = {
    val snapshot = committed(spark, path)
    if (snapshot.nonEmpty) {
      val token = java.util.UUID.randomUUID().toString
      def staged(t: String) = s"$path/.${t}_compact_$token"
      writeStaged(snapshot, staged)
      val f = fs(spark, new Path(path))
      for (t <- tables) {
        val old = new Path(path, s".${t}_old_$token")
        require(f.rename(new Path(path, t), old), s"compact: $t swap-out failed")
        require(f.rename(new Path(staged(t)), new Path(path, t)),
          s"compact: $t swap-in failed")
        f.delete(old, true)
      }
      snapshot.foreach(b => f.delete(new Path(b), true))
    }
  }

  /** The requested integer fields of a committed layout's manifest, in
    * one read. A present-but-non-integer value fails naming that
    * restriction, not a bare "missing field".
    */
  def fields(spark: SparkSession, path: String, names: String*): Seq[Int] = {
    val (f, p) = manifestOf(spark, path)
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    names.map { name =>
      (s""""$name"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(text) match {
        case Some(m) => m.group(1).toInt
        case None =>
          require(!(s""""$name"\\s*:""").r.findFirstIn(text).isDefined,
            s"manifest at $p field $name is not an integer (this " +
              s"manifest format is integer-only): $text")
          throw new IllegalArgumentException(
            s"requirement failed: manifest at $p missing field $name: $text")
      }
    }
  }
}
