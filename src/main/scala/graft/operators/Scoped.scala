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
  *  - a frame only the call itself reads is cached through its scope;
  *  - an eager operator returns `out.localCheckpoint(true)` from inside
  *    the scope, so its bounded result outlives the caches it was
  *    computed from;
  *  - a lazy operator whose returned plan still reads a cache caches it
  *    with a plain `.cache()`: that frame is session-lived, and the
  *    operator's scaladoc says so.
  *
  * Nothing else in `src/main` calls `unpersist` (a source scan in
  * ContractSpec holds this).
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

  /** Free `df` now: a frame of this scope before exit (a loop swapping
    * one cached frame for its successor), or a session-lived cache the
    * call turns out not to return a plan over.
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
