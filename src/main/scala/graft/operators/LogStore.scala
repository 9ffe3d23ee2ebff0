package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit-arbitration contract of [[VersionedStore]] — every
  * point where the store relies on the filesystem to pick ONE winner
  * among concurrent writers is isolated here, because that reliance
  * is exactly what object storage does not provide.
  *
  * Two primitives carry the whole concurrency story:
  *
  *  - [[publish]] — move a fully-staged tmp dir into its final log
  *    name with AT MOST ONE winner per destination (commit records,
  *    version races).
  *  - [[createExclusive]] — create an empty marker with at most one
  *    winner per path (fid claims, the allocation half).
  *
  * `HDFS-like` filesystems (HDFS, ABFS, GCS to a degree, local FS
  * with in-process locking) give both natively: rename is atomic and
  * fails into an existing destination, create(overwrite=false) is
  * exclusive. S3 gives NEITHER — "rename" is copy-then-delete with
  * last-writer-wins, and plain PUT overwrites silently. Running the
  * store against raw S3 paths with the default implementation would
  * let two committers both "succeed" at one version and silently
  * lose a commit; this is precisely why the public Delta design has
  * a pluggable LogStore / commit-coordinator layer for S3
  * (conditional `If-None-Match` PUT, or an external coordinator
  * table serializing version claims).
  *
  * Implementations therefore DECLARE their guarantee via
  * [[exclusive]]; [[VersionedStore]] refuses to commit through a
  * non-exclusive implementation — loud refusal at the first write,
  * never silent corruption at the ten-thousandth. An S3 deployment
  * supplies an exclusive implementation backed by conditional PUT or
  * a coordinator; the protocol above this trait (OCC rebase, fid
  * claims, checkpoint discovery) is unchanged.
  */
trait LogStore {

  /** True when [[publish]] and [[createExclusive]] guarantee at most
    * one winner per destination ACROSS PROCESSES. A `false` here is
    * an honest admission the backend cannot arbitrate (raw S3
    * rename): the store will refuse to commit through it.
    */
  def exclusive: Boolean

  /** Move the fully-staged `tmp` to `dest`. Returns `true` when this
    * writer won the destination, `false` when `dest` already exists
    * (a concurrent writer won — the caller raises its conflict and
    * retries at the next version). MUST throw for real filesystem
    * faults (permissions, outage) instead of returning `false`, so a
    * persistent failure surfaces as itself and is never retried as a
    * phantom "lost race".
    */
  def publish(f: FileSystem, tmp: Path, dest: Path): Boolean

  /** Create an empty marker file at `p`; `false` if it already
    * exists (the fid is taken — the claimer slides to the next).
    */
  def createExclusive(f: FileSystem, p: Path): Boolean
}

/** The default implementation for HDFS-semantics filesystems: atomic
  * rename-no-replace + exclusive create. On the local filesystem the
  * same calls are check-then-act across processes, but in-process
  * races are closed by [[VersionedStore]]'s claim lock and the
  * destination-exists re-check — the single-JVM `local[n]` test and
  * bench topology.
  */
object HdfsLogStore extends LogStore {
  def exclusive: Boolean = true

  def publish(f: FileSystem, tmp: Path, dest: Path): Boolean =
    if (f.exists(dest)) false
    else if (f.rename(tmp, dest)) {
      // rename-into-existing-DIRECTORY detection: if a concurrent
      // winner published dest between our exists check and our
      // rename, POSIX-y filesystems (local, HDFS) do not fail the
      // rename — they move tmp INSIDE dest as a child. The "winner"
      // illusion loses a whole commit: the nested record is
      // invisible to readers and the version count comes up short
      // (caught live by the 4-writer race spec once optimizer
      // changes tightened the timing). tmp names are UUID-unique,
      // so dest/<tmpName> can only be OUR nested dir: remove it and
      // report the loss honestly.
      val nested = new Path(dest, tmp.getName)
      if (f.exists(nested)) { f.delete(nested, true); false }
      else true
    }
    else if (f.exists(dest)) false // lost the rename race itself
    else sys.error(s"LogStore: rename to $dest failed with no " +
      "concurrent writer present — filesystem error, not a " +
      "version race")

  def createExclusive(f: FileSystem, p: Path): Boolean =
    try { f.create(p, false).close(); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      // same fault discipline as publish: only "already exists" is
      // a lost claim; a persistent filesystem fault must THROW, or
      // the claim loop would spin on it forever as phantom losses
      case e: java.io.IOException =>
        if (f.exists(p)) false else throw e
    }
}
