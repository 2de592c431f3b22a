package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** The one owner of the frames a call caches for its own use.
  *
  * `Scoped { s => … }` runs its body and unpersists every frame cached
  * through `s.cache` or `s.pin` on every exit path, a thrown refusal
  * included, so a long-lived session (`foreachBatch`, repeated calls)
  * accumulates no cached frames from calls that finished or failed.
  * The rule for an operator:
  *
  *  - a frame the call caches is cached through its scope, and an
  *    operator that caches returns `out.localCheckpoint(true)` from
  *    inside the scope, so its bounded result outlives the caches it
  *    was computed from;
  *  - an operator that returns a lazy plan caches nothing: the plan
  *    never reads a scope's cache.
  *
  * Nothing else in `src/main` calls `cache()` or `unpersist` (source
  * scans in ContractSpec hold this).
  */
final class Scoped private {
  private val owned = ArrayBuffer.empty[DataFrame]

  /** Cache `df` until the scope exits. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    owned += c
    c
  }

  /** [[cache]] plus one `count()`: the single producing pass, run before
    * concurrent consumers can each first-touch the lazy cache and
    * recompute it once per scanning stage.
    */
  def pin(df: DataFrame): DataFrame = {
    val c = cache(df)
    c.count()
    c
  }

  /** Free `df`, a frame of this scope, before exit (a loop swapping
    * one cached frame for its successor).
    */
  def release(df: DataFrame): Unit = {
    owned -= df
    df.unpersist()
  }
}

object Scoped {
  def apply[T](body: Scoped => T): T = {
    val s = new Scoped
    try body(s)
    finally s.owned.reverseIterator.foreach(_.unpersist())
  }
}
