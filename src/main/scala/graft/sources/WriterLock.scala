package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Enforced single-writer lease for a store or artifact directory.
  *
  * The `_SYNCED` certify/fallback protocol (TsdbStorage, AnnIndex,
  * TextIndex) assumes ONE writer: two maintainers interleaving
  * `markStatsOutOfSync`/`markStatsInSync` transitions could re-certify a
  * half-mutated index. This lease turns that documented contract into an
  * enforced one: every maintenance/artifact writer entry acquires
  * `_LOCK` under the directory it mutates, and a second writer FAILS
  * FAST with [[ConcurrentWriterException]] instead of silently
  * interleaving. Readers never touch the lock — a query racing a
  * maintenance op keeps its existing certify-or-fallback behavior.
  *
  * Mechanics:
  *  - acquisition is `fs.create(_LOCK, overwrite = false)` — atomic on
  *    HDFS-semantics filesystems; the file body records the owner
  *    (host:pid:uuid) for diagnostics;
  *  - a daemon heartbeat refreshes the lock's mtime every `staleMs / 4`
  *    while held, so a LIVE owner is distinguishable from a crashed one
  *    by mtime age alone;
  *  - a lock whose mtime is older than `staleMs` (conf
  *    `spark.graft.lock.staleMs`, default 10 min) is STALE — the crashed
  *    owner's lease. A new writer deletes it and retries the atomic
  *    create once (losing that race to another taker is safe: exactly
  *    one create(false) wins);
  *  - re-entrant PER (OWNER TOKEN, THREAD): `maintain()` wraps compact/
  *    reindex/fsck which each acquire the same lock on the SAME thread —
  *    that chain just deepens a JVM-local counter. A DIFFERENT owner in
  *    the same JVM (a second engine instance on the same path — the
  *    exact scenario the contract exists for) is rejected without an FS
  *    round-trip; so is the SAME owner on a different thread (two
  *    threads of one engine instance calling e.g. maintain() and
  *    compact() concurrently would otherwise both "re-enter" and
  *    interleave the very marker transitions the lease serializes).
  *
  * The lease brackets the whole writer operation, enclosing every
  * marker transition, so the `_SYNCED` protocol's single-writer
  * assumption holds by construction. Crash recovery needs no new
  * machinery: the heartbeat dies with the process, the lease goes stale,
  * and the next writer takes over — the marker protocol already handles
  * the half-done mutation the crash left behind.
  */
object WriterLock {

  val FileName = "_LOCK"
  val ConfStaleMs = "spark.graft.lock.staleMs"
  val DefaultStaleMs: Long = 10L * 60 * 1000

  /** A second writer contended a held lease — the caller must NOT
    * proceed (retry later, or find and stop the other maintainer). */
  final class ConcurrentWriterException(msg: String) extends IllegalStateException(msg)

  private final class Held(val owner: String, val threadId: Long) {
    var depth = 1
    @volatile var stopped = false
    var heartbeat: Thread = _
  }
  // keyed by the lock file's canonical URI — one entry per held lease
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Held]()

  /** A process-unique owner token (host:pid:uuid). One per engine
    * instance / artifact-writer call — the reentrancy scope. */
  def newOwner(): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName catch { case _: Throwable => "?" }
    s"$host:${ProcessHandle.current().pid()}:${java.util.UUID.randomUUID()}"
  }

  private def staleMs(spark: SparkSession): Long =
    graft.core.Conf.long(spark, ConfStaleMs, DefaultStaleMs)

  /** Run `body` holding the writer lease for `dir`. Re-entrant for the
    * same `owner`; any other live holder → [[ConcurrentWriterException]].
    * The lease file is removed on exit (kept on crash — it goes stale
    * and the next writer takes over). */
  def withLock[T](spark: SparkSession, dir: String, owner: String)(body: => T): T = {
    val lockPath = new Path(dir, FileName)
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = Path.getPathWithoutSchemeAndAuthority(
      fs.makeQualified(lockPath)).toString
    val stale = staleMs(spark)

    // in-JVM decision under the map lock: re-enter or reject without FS I/O
    val tid = Thread.currentThread().getId
    val entered = held.synchronized {
      held.get(key) match {
        case null => false
        case h if h.owner == owner && h.threadId == tid => h.depth += 1; true
        case h if h.owner == owner => throw new ConcurrentWriterException(
          s"$dir is write-locked by $owner on another thread of this JVM; " +
            "concurrent maintenance from one engine instance rejected")
        case h => throw new ConcurrentWriterException(
          s"$dir is write-locked by ${h.owner} (this JVM); second writer rejected")
      }
    }
    if (!entered) {
      acquireFile(fs, lockPath, owner, stale, dir)
      val h = new Held(owner, tid)
      h.heartbeat = new Thread(() => {
        while (!h.stopped) {
          try Thread.sleep(math.max(1000L, stale / 4))
          catch { case _: InterruptedException => () }
          if (!h.stopped)
            try fs.setTimes(lockPath, System.currentTimeMillis(), -1)
            catch { case _: Throwable => () } // lost lease file: next acquire resolves it
        }
      }, s"graft-lock-heartbeat-${lockPath.getName}@${dir.takeRight(32)}")
      h.heartbeat.setDaemon(true)
      h.heartbeat.start()
      held.synchronized {
        // the map lock was dropped during the FS acquire; same-JVM racers
        // for the same key serialized on create(false), so this put only
        // races a releasing owner — putIfAbsent keeps it honest
        if (held.putIfAbsent(key, h) != null) {
          h.stopped = true; h.heartbeat.interrupt()
          try fs.delete(lockPath, false) catch { case _: Throwable => () }
          throw new ConcurrentWriterException(
            s"$dir lease raced another in-JVM writer; second writer rejected")
        }
      }
    }
    try body
    finally {
      // the monitor only guards the map: one slow/hung FS call in a
      // release must not block every acquire/release in the process
      // (including leases on unrelated directories), so the owner-check
      // + delete run OUTSIDE the synchronized block
      val releasing = held.synchronized {
        held.get(key) match {
          case h if h != null && h.owner == owner && h.threadId == tid =>
            h.depth -= 1
            if (h.depth == 0) { held.remove(key); h } else null
          case _ => null
        }
      }
      if (releasing != null) {
        releasing.stopped = true
        releasing.heartbeat.interrupt()
        // split-brain guard: if this writer stalled past staleMs (GC
        // pause, VM freeze) another writer may have taken the lease
        // over — deleting unconditionally would free THAT writer's
        // lock under it. Delete only a file still recording this
        // owner; a takeover leaves the usurper's lease intact (and
        // the stall is loudly reported — both writers ran, and the
        // marker protocol is what bounds the damage).
        try {
          if (readOwner(fs, lockPath) == owner) fs.delete(lockPath, false)
          else System.err.println(s"[graft-lock] $dir lease was taken over " +
            s"mid-operation (writer stalled past the stale window); " +
            "left the new owner's lease in place")
        } catch { case _: Throwable => () }
      }
    }
  }

  private def readOwner(fs: org.apache.hadoop.fs.FileSystem, lockPath: Path): String =
    try {
      val in = fs.open(lockPath)
      try {
        val buf = new Array[Byte](256)
        val n = math.max(0, in.read(buf))
        new String(buf, 0, n, StandardCharsets.UTF_8)
      } finally in.close()
    } catch { case _: java.io.IOException => "" }

  /** Test seam: runs after a lease is judged stale, before the
    * conditional re-stat that guards the delete — lets a spec simulate
    * the "crashed" owner's heartbeat resuming in exactly that window. */
  private[graft] var beforeStaleDelete: () => Unit = () => ()

  /** Atomic create-if-absent with one stale-takeover retry. */
  private def acquireFile(fs: org.apache.hadoop.fs.FileSystem, lockPath: Path,
                          owner: String, stale: Long, dir: String): Unit = {
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lockPath, false)
        out.write(owner.getBytes(StandardCharsets.UTF_8)); out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    val (mtime, age, holder) =
      try {
        val st = fs.getFileStatus(lockPath)
        (st.getModificationTime, System.currentTimeMillis() - st.getModificationTime,
          readOwner(fs, lockPath))
      } catch { case _: java.io.IOException => (0L, Long.MaxValue, "(gone)") } // holder released between create and stat
    if (age > stale) {
      // crashed owner: heartbeat stopped > staleMs ago — but "crashed"
      // is a judgment from one stat. A long GC pause ending RIGHT NOW
      // would resume the owner's heartbeat and refresh mtime between
      // that stat and our delete; deleting anyway would yank a live
      // writer's lease. Re-stat immediately before the delete and abort
      // the takeover if mtime moved (the owner is back — honor it). The
      // residual stat→delete window is one FS round-trip wide; the
      // marker protocol bounds whatever fits through it.
      beforeStaleDelete()
      val fresh =
        try Some(fs.getFileStatus(lockPath).getModificationTime)
        catch { case _: java.io.IOException => None } // gone: another taker — fall through to create
      if (fresh.exists(_ != mtime))
        throw new ConcurrentWriterException(
          s"$dir stale lease takeover aborted: holder $holder's heartbeat " +
            "resumed during takeover; second writer rejected")
      if (fresh.isDefined)
        try fs.delete(lockPath, false) catch { case _: Throwable => () }
      // retry the atomic create ONCE — losing to a concurrent taker is safe
      if (tryCreate()) return
      throw new ConcurrentWriterException(
        s"$dir stale lease takeover raced another writer; second writer rejected")
    }
    // live-looking lease — but release runs its owner-check + delete
    // OUTSIDE the JVM monitor (so a hung FS call can't block unrelated
    // locks), which opens a ms-wide window where the releasing owner's
    // map entry is gone yet its file still shows a fresh heartbeat. A
    // back-to-back acquire landing in that window would spuriously
    // reject a legitimate writer; absorb it with one brief retry before
    // failing — a GENUINELY held lease is still there 50 ms later.
    Thread.sleep(50)
    if (tryCreate()) return
    throw new ConcurrentWriterException(
      s"$dir is write-locked by $holder (heartbeat ${age / 1000}s ago); " +
        s"second writer rejected — stale takeover after ${stale / 1000}s")
  }
}
