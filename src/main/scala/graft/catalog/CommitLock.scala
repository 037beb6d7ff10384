package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Concurrent-writer guard for REPLACING commits on plain (non-snapshot)
  * tables (r13 VERDICT ask #8): two simultaneous overwrites/merges into
  * one table used to race their aside renames — last rename wins and the
  * first writer's output is silently retired. A create-exclusive lock file
  * beside the table (`.commitlock-<table>`) turns the race into a loud
  * refusal.
  *
  * Stale-lock recovery: a crashed writer leaves its lock behind; a lock
  * older than `graft.commit_lock_ttl_ms` (default 10 min) is broken under
  * an exclusive BREAK MARKER (r14 ADVICE): one breaker claims
  * `.commitlock-<t>.break` create-exclusively, re-verifies the lock is
  * STILL stale while holding it, then deletes lock and marker. The
  * delete-then-create shape had a window where breaker B's delete removed
  * breaker A's freshly re-acquired lock and both entered the "exclusive"
  * section; the marker closes it because no lock is ever deleted except by
  * its owner's release or by the single marker holder after
  * re-verification. Snapshot tables don't need this: their
  * manifest claim IS the commit point (optimistic concurrency,
  * [[Snapshots.commit]]). Lock and marker are created exclusively by
  * [[Sidecar.publish]] (O_EXCL on `file://`): atomic on local/HDFS,
  * best-effort on S3-class stores, the caveat of every file-based
  * protocol.
  *
  * The lock covers only the COMMIT section (the renames), never the data
  * write — staging writes are uuid-isolated and safely concurrent, so a
  * long-running job holds the lock for milliseconds.
  */
object CommitLock {

  val TtlKey = "graft.commit_lock_ttl_ms"

  def withLock[T](fs: FileSystem, parent: Path, table: String)(body: => T): T = {
    val ttl = SparkSession.active.conf.getOption(TtlKey)
      .flatMap(_.toLongOption).getOrElse(600000L)
    val lock = new Path(parent, s".commitlock-$table")
    def tryAcquire(): Boolean =
      Sidecar.publish(fs, lock, System.currentTimeMillis().toString)
    var acquired = tryAcquire()
    if (!acquired) {
      val stale =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime > ttl
        catch { case _: Exception => true } // lock vanished: just retry
      if (stale) {
        // break under an EXCLUSIVE BREAK MARKER (r14 ADVICE): only the
        // marker holder may delete the lock, and it RE-VERIFIES staleness
        // while holding the marker — while the marker exists no other
        // writer deletes the lock, so a fresh lock observed here proves the
        // break is off. The delete-then-create (and rename-then-delete)
        // shapes both had a window where a breaker destroyed a lock that
        // another breaker had already broken and freshly re-acquired.
        val now = System.currentTimeMillis()
        val marker = new Path(parent, s".commitlock-$table.break")
        if (Sidecar.publish(fs, marker, now.toString)) {
          try {
            val stillStale =
              try now - fs.getFileStatus(lock).getModificationTime > ttl
              catch { case _: Exception => false } // vanished: nothing to break
            if (stillStale) fs.delete(lock, false)
          } finally fs.delete(marker, false)
        } else {
          // another breaker holds the marker; if ITS holder crashed, the
          // stale marker is removable so the next attempt can proceed
          val markerStale =
            try now - fs.getFileStatus(marker).getModificationTime > ttl
            catch { case _: Exception => false }
          if (markerStale) fs.delete(marker, false)
        }
        acquired = tryAcquire()
      }
    }
    if (!acquired)
      throw new IllegalStateException(
        s"concurrent replacing commit on $table in progress ($lock held; " +
          s"breaks as stale after $ttl ms — $TtlKey)")
    try body finally fs.delete(lock, false)
  }
}
