package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one way a table directory is replaced: write the new copy beside
  * the live one, then swap by rename-aside ([[replace]]). Every crash
  * state leaves at least one complete copy:
  *  - before the first rename: live is untouched; a partial or complete
  *    `live__next` is cleared by the next replace;
  *  - between the renames: live is ABSENT and the only complete copy is
  *    `live__old`. The next [[replace]] heals it ([[restoreFromOld]])
  *    before its `write` runs, so a fold never rebuilds from an "empty"
  *    table, and readers find it through [[readable]];
  *  - after the second rename: live is the new copy; a leftover
  *    `live__old` beside it is a crashed delete, cleared by the next
  *    replace.
  * A delete-then-rename swap has none of this: a crash between its two
  * calls leaves the table only at `__next`, which the next writer
  * treats as missing and overwrites. Hadoop rename signals failure by
  * returning false, not by throwing, so both renames are `require`d. */
object SwapDirs {

  private def sibling(live: Path, suffix: String) =
    new Path(live.toString + suffix)

  /** Replace the directory `live` with what `write` writes into the path
    * it is given, crash-safe as described on [[SwapDirs]]. `write` may
    * read `live` (a crashed prior swap is healed first; the new copy is
    * complete before live is moved). If `write` throws, its partial copy
    * is deleted and live is left as it was. */
  def replace(fs: FileSystem, live: Path)(write: Path => Unit): Unit = {
    val next = sibling(live, "__next")
    val old = sibling(live, "__old")
    restoreFromOld(fs, live)
    fs.delete(next, true)
    try write(next)
    catch {
      case scala.util.control.NonFatal(e) =>
        fs.delete(next, true)
        throw e
    }
    fs.delete(old, true)
    if (fs.exists(live))
      require(fs.rename(live, old),
        s"replace: rename $live -> $old failed; table unchanged, new copy at $next")
    require(fs.rename(next, live),
      s"replace: rename $next -> $live failed; new copy at $next, prior table (if any) at $old")
    fs.delete(old, true)
    ()
  }

  /** If `live` is missing but `live__old` exists, rename it back into
    * place. Returns whether a restore happened. No-op (false) when the
    * live dir is present — a leftover `__old` beside a complete live
    * table is a crashed delete, cleaned up by the next replace. */
  def restoreFromOld(fs: FileSystem, live: Path): Boolean = {
    val old = sibling(live, "__old")
    if (!fs.exists(live) && fs.exists(old)) {
      require(fs.rename(old, live),
        s"restore: rename $old -> $live failed; data intact at $old")
      true
    } else false
  }

  /** The directory a reader should open for `live`: `live` itself, or
    * `live__old` while a swap has live renamed aside. */
  def readable(fs: FileSystem, live: Path): Path = {
    val old = sibling(live, "__old")
    if (fs.exists(live) || !fs.exists(old)) live else old
  }
}
