package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** The atomic-creation and liveness primitives of the engine.
  *
  *  - '''create-exclusive''' ([[createExclusive]]): kernel/namenode-
  *    atomic put-if-absent of a whole file; losing the race is the ONLY
  *    swallowed error. `Snapshot`'s commit is one such put of its log
  *    entry.
  *  - '''staleness''' ([[isLive]]): a lease file is live iff its
  *    mtime is within `staleMs` of now. Liveness is something the
  *    holder must actively MAINTAIN ([[heartbeat]]) for long critical
  *    sections — an mtime that nobody refreshes is a death
  *    certificate, which is exactly what made the old ANN 30-minute
  *    rule wrong: writing into SUBdirectories never bumps the claimed
  *    root's own mtime, so a live >30-min build looked dead.
  *  - '''exit GC''' ([[gcOnExit]]): session-local scratch (an ANN
  *    loser-path index copy) registered for recursive deletion at JVM
  *    exit, with a test-visible registry so specs can assert
  *    enrollment and force the sweep without dying.
  *
  * All paths are Hadoop `Path`s: the same code serves local tmp in
  * tests and HDFS/object storage on a 1000-executor cluster — lease
  * files are tiny metadata-plane writes, never data-plane.
  */
object Lease {

  private def fsOf(conf: Configuration, p: Path) = p.getFileSystem(conf)

  private def isLocal(p: Path): Boolean =
    "file" == Option(p.toUri.getScheme).getOrElse("file")

  /** Atomically create `p` with the whole of `body`, returning whether
    * WE created it: the body goes to a unique temp file beside `p`
    * first, which is then published under `p` only if `p` does not
    * exist — a rename-without-overwrite on HDFS (namenode-atomic), a
    * hard link on the local FS (`link(2)` fails with EEXIST
    * atomically; NIO writes no `.crc` sidecar). A reader therefore sees
    * `p` whole or not at all. Only the exists-conflict means "lost the
    * race"; any other FS error propagates (swallowing it would
    * misdiagnose a permission or connectivity fault as contention and
    * spin the caller's retry loop). */
  def createExclusive(conf: Configuration, p: Path, body: String): Boolean = {
    val tmpName = s".${p.getName}.${java.util.UUID.randomUUID()}.tmp"
    if (isLocal(p)) {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(tmpName)
      java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
      try { java.nio.file.Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val fs = fsOf(conf, p)
      val tmp = new Path(p.getParent, tmpName)
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val fc = FileContext.getFileContext(p.toUri, conf)
      try {
        fc.rename(tmp, p, Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          false
      }
    }
  }

  /** The lease file's mtime, or None if it does not exist. */
  def mtimeOf(conf: Configuration, p: Path): Option[Long] =
    try Some(fsOf(conf, p).getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** A lease is live iff it exists and was refreshed within
    * `staleMs`. A missing lease is NOT live — the holder either
    * released it or never finished claiming; callers that need a
    * grace period for the claim→lease-write gap should bound it with
    * the mtime of the claimed resource itself. */
  def isLive(conf: Configuration, p: Path, staleMs: Long): Boolean =
    mtimeOf(conf, p).exists(m => System.currentTimeMillis() - m <= staleMs)

  /** Refresh a held lease (mtime bump). Heartbeats go through here. */
  def refresh(conf: Configuration, p: Path): Unit = {
    if (isLocal(p))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis()))
    else fsOf(conf, p).setTimes(p, System.currentTimeMillis(), -1)
  }

  /** A held lease kept live by a daemon thread that refreshes its
    * mtime every `intervalMs` (choose staleMs/6 or tighter — one
    * missed beat must never look like death). `close()` stops the
    * thread and releases the lease — but only if it is still OURS:
    * release steals the file to a tombstone, re-verifies the holder
    * id stamped in the body, and hands back any lease that turns out
    * to belong to a successor. An unconditional delete here would let
    * a broken-then-superseded holder kill the NEW holder's live lease
    * at close time. Refresh failures are swallowed: the
    * holder losing its lease to a breaker is the protocol working,
    * not an error to crash a build over. */
  final class Heartbeat private[Lease] (conf: Configuration, lease: Path,
                                        intervalMs: Long,
                                        holderId: String)
      extends AutoCloseable {
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) {
        try refresh(conf, lease) catch { case _: Exception => () }
        try Thread.sleep(intervalMs) catch {
          case _: InterruptedException => ()
        }
      }
    }, s"graft-lease-heartbeat-${lease.getName}")
    t.setDaemon(true)
    t.start()
    def close(): Unit = {
      running = false
      t.interrupt()
      try releaseIfHeldBy(conf, lease, holderId)
      catch { case _: Exception => () }
    }
  }

  private def holderLine(id: String) = s"graft-lease-holder=$id\n"

  private def readAll(conf: Configuration, p: Path): String =
    if (isLocal(p))
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), "UTF-8")
    else {
      val in = fsOf(conf, p).open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    }

  /** Identity-checked release: steal the lease to a tombstone (atomic
    * rename — after which nobody else can touch it), verify the holder
    * id stamped in its body is OURS, and either discard it (a real
    * release) or hand it back via a no-overwrite rename (a successor's
    * lease caught by a holder that was broken and superseded). Identity
    * is the holder id in the body, not the mtime — mtime can't identify
    * a lease whose whole point is to have its mtime refreshed. */
  private def releaseIfHeldBy(conf: Configuration, lease: Path,
                              holderId: String): Unit = {
    val fs = fsOf(conf, lease)
    // Pre-read: when the lease already belongs to a successor, return
    // WITHOUT touching the file. Stealing first (as this used to) made
    // the successor's live lease momentarily absent; a claimant winning
    // the lock in that window drove the hand-back into
    // FileAlreadyExists and the successor's lease body was discarded.
    // The steal-then-verify dance below is now reached only when the
    // initial read says the lease is ours, so the absence window covers
    // only our own lease (benign — we are releasing it anyway). A
    // successor overwriting between our read and our steal is caught a
    // second time by the post-steal stamp check.
    val preRead =
      try Some(readAll(conf, lease).startsWith(holderLine(holderId)))
      catch { case _: Exception => None } // gone or unreadable
    preRead match {
      case Some(false) => return // a successor's lease: leave it alone
      case None        => return // already broken/released
      case Some(true)  => ()     // ours by the read; steal and re-verify
    }
    val tomb = new Path(lease.getParent,
      s"${lease.getName}.release.${java.util.UUID.randomUUID()}")
    val stolen =
      if (isLocal(lease)) {
        try {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(lease.toUri.getPath),
            java.nio.file.Paths.get(tomb.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.nio.file.NoSuchFileException => false }
      } else {
        try {
          FileContext.getFileContext(lease.toUri, conf)
            .rename(lease, tomb, Options.Rename.NONE)
          true
        } catch { case _: java.io.FileNotFoundException => false }
      }
    if (!stolen) return // already broken/released; nothing to do
    val mine =
      try readAll(conf, tomb).startsWith(holderLine(holderId))
      catch { case _: Exception => false }
    if (mine) { fs.delete(tomb, false); return } // released
    // a successor's lease: give it back without clobbering any even
    // newer one (plain no-REPLACE move / Rename.NONE both refuse an
    // existing destination)
    try {
      if (isLocal(lease))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tomb.toUri.getPath),
          java.nio.file.Paths.get(lease.toUri.getPath))
      else
        FileContext.getFileContext(lease.toUri, conf)
          .rename(tomb, lease, Options.Rename.NONE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tomb, false)
    }
  }

  /** Create the lease file (overwriting any stale residue the caller
    * already adjudicated) and keep it live until `close()`. The body
    * is stamped with a unique holder id so `close()` can prove the
    * lease is still this holder's before deleting it ([[refresh]]
    * bumps only mtime, so the stamp survives every heartbeat). */
  def heartbeat(conf: Configuration, lease: Path, intervalMs: Long,
                body: String = ""): Heartbeat = {
    val holderId = java.util.UUID.randomUUID().toString
    val stamped = holderLine(holderId) + body
    if (isLocal(lease))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(lease.toUri.getPath),
        stamped.getBytes("UTF-8"))
    else {
      val out = fsOf(conf, lease).create(lease, true)
      try out.write(stamped.getBytes("UTF-8")) finally out.close()
    }
    new Heartbeat(conf, lease, intervalMs, holderId)
  }

  // ---- exit GC for session-local scratch ------------------------------

  private val exitGc =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var hookInstalled = false

  /** Registry of paths enrolled for exit GC (test-visible). */
  private[graft] def exitGcPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    exitGc.asScala.toSet
  }

  /** Recursively delete every enrolled path NOW (what the shutdown
    * hook runs; exposed so specs can assert the sweep without killing
    * the JVM). */
  private[graft] def runExitGcNow(): Unit = {
    import scala.jdk.CollectionConverters._
    exitGc.asScala.toSeq.foreach { dir =>
      try {
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
      } catch { case _: Exception => () } // best-effort, like any exit hook
      exitGc.remove(dir)
    }
  }

  /** Enroll a session-LOCAL scratch directory for recursive deletion
    * at JVM exit — the ANN loser-path index copy is the canonical
    * client: correct bytes, but private to this session and worthless
    * after it, so leaving it is a disk leak per losing process. Local
    * filesystem only (exit hooks must not depend on a live cluster
    * connection). */
  def gcOnExit(dir: java.nio.file.Path): Unit = {
    exitGc.add(dir.toAbsolutePath.toString)
    if (!hookInstalled) synchronized {
      if (!hookInstalled) {
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => runExitGcNow(), "graft-lease-exit-gc"))
        hookInstalled = true
      }
    }
  }
}
