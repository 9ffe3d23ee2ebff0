package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe in-place replace of one path — a file or a directory,
  * since `rename` is path-level — by a single writer:
  *
  *  1. clear and write the hidden sibling `tmp`;
  *  2. move the live `dst` aside to `bak`;
  *  3. rename `tmp` into place;
  *  4. drop `bak`.
  *
  * At every instant `dst` or `bak` holds the complete old or new
  * content. [[recover]] finishes or rolls back a replace a crash cut
  * between steps 2 and 4; [[replace]] runs it first, and so should any
  * reader that must never find `dst` missing. Every rename and delete
  * that the protocol relies on is checked and fails loudly. A cut
  * promote rolls `bak` back before it reports.
  *
  * Callers serialize replaces of one `dst` themselves and keep the
  * `tmp`/`bak` names stable across releases, so leftovers written by
  * earlier code still recover. Exclusive publishes that concurrent
  * writers race on (commit records, checkpoints) go through
  * [[LogStore.publish]] instead.
  */
object InPlace {

  def replace(fs: FileSystem, dst: Path, tmp: Path, bak: Path)(
      write: Path => Unit): Unit = {
    recover(fs, dst, bak)
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      sys.error(s"InPlace: cannot clear $tmp")
    write(tmp)
    val live = fs.exists(dst)
    if (live && !fs.rename(dst, bak))
      sys.error(s"InPlace: cannot move $dst aside to $bak")
    var promoted = false
    try promoted = fs.rename(tmp, dst)
    finally if (!promoted) recover(fs, dst, bak)
    if (!promoted) sys.error(s"InPlace: cannot rename $tmp to $dst")
    if (live) fs.delete(bak, true) // a leftover goes at the next recover
  }

  /** A backup beside a live `dst` is a finished replace's leftover and
    * is dropped; a backup alone is the last complete content and is
    * renamed back.
    */
  def recover(fs: FileSystem, dst: Path, bak: Path): Unit =
    if (fs.exists(bak)) {
      if (fs.exists(dst)) {
        if (!fs.delete(bak, true))
          sys.error(s"InPlace: cannot drop leftover $bak")
      } else if (!fs.rename(bak, dst))
        sys.error(s"InPlace: cannot restore $dst from $bak")
    }
}
