package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit arbiter's one primitive ([[Txn.put]] is its only caller):
  * create `target` with `bytes` iff it does not already exist, atomically
  * with respect to every other writer AND every reader.
  *
  * Two distinct atomicity obligations meet here:
  *
  *   1. WRITER vs WRITER — only one creator may win a version file. On
  *      HDFS-class stores `FileSystem.create(path, overwrite = false)` IS
  *      that primitive (a namenode-atomic O_EXCL create — the arbiter
  *      Delta's own HDFSLogStore documents). On the LOCAL filesystem
  *      `RawLocalFileSystem.create` is CHECK-THEN-ACT, so two threads
  *      racing in one JVM can both "win" — closed by a JVM-wide per-path
  *      monitor (caught by IcebergLiteSpec's racing writers, r10).
  *   2. WRITER vs READER — a version file must never be OBSERVABLE with
  *      partial content. A bare create+write+close publishes the name
  *      BEFORE the bytes: a concurrent reader lists the new version,
  *      replays it as empty/truncated JSON, and concludes the commit
  *      removed nothing — which let r15's UPDATE-vs-OPTIMIZE race pass
  *      its removed-files liveness check against a half-written
  *      compaction commit and DOUBLE the rows (caught by
  *      SqlConcurrencyProperties; the cloud contract is an atomic PUT,
  *      which never exposes partial objects). Closed by staging the
  *      bytes to a dot-prefixed temp name and PUBLISHING via rename —
  *      on every store in scope a rename is visibility-atomic, so
  *      exists(target) now implies complete content.
  */
private[sources] object AtomicCreate {

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** True iff THIS caller created `target`; false means `target` already
    * existed (a lost race). Any other failure — staging the bytes or
    * publishing them — propagates once the temp file is reclaimed: a
    * disk or permission error is not a lost race and must not be
    * retried as one. */
  def create(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean = {
    val key = fs.makeQualified(target).toString
    val m = monitors.computeIfAbsent(key, _ => new Object)
    // stage OUTSIDE the monitor (bulk of the work; dot-prefix keeps the
    // temp name invisible to Spark/Hadoop listings and version scans)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val won =
      try {
        val out = fs.create(tmp, /* overwrite = */ true)
        try out.write(bytes) finally out.close()
        m.synchronized {
          // atomic PUBLISH: the full content appears under the target
          // name in one step — a reader that can see the version can read
          // all of it. On HDFS-class stores rename additionally refuses an
          // existing destination, so a cross-process race cannot
          // overwrite a landed commit; on the LOCAL filesystem rename(2)
          // silently replaces, so cross-process writer arbitration there
          // remains check-then-act (the in-JVM monitor above covers
          // same-process writers, the only multi-writer regime in scope).
          if (fs.exists(target)) false
          else if (fs.rename(tmp, target)) true
          else if (fs.exists(target)) false // a cross-process winner
          else throw new java.io.IOException(
            s"rename $tmp -> $target failed with no winner at $target")
        }
      } catch {
        case e: java.io.IOException =>
          // a failed stage may have left a partial temp file — reclaim it
          // (readers never see it either way; dot-prefix hides it)
          try fs.delete(tmp, false)
          catch { case d: java.io.IOException => e.addSuppressed(d) }
          throw e
      }
    if (!won) fs.delete(tmp, false)
    // Only retire the monitor once the file EXISTS: removing it after a
    // failed attempt would let a third thread mint a fresh monitor while
    // another still holds the old one — reopening the exact TOCTOU this
    // helper closes. Monitors for losers/failures stay mapped (bounded:
    // one tiny Object per version-file path this JVM touches).
    if (won) monitors.remove(key, m)
    won
  }
}
