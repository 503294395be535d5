package graft

import graft.util.Lease
import java.nio.file.{Files, Paths}

/** The lease primitives' contract:
  *   - create-exclusive elects exactly one winner under contention, and
  *     the winner's body is whole the moment the file exists;
  *   - a heartbeat keeps a lease live past any stale window and
  *     releases (deletes) it on close, never a successor's lease.
  */
class LeaseSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmpLock(): (java.nio.file.Path, org.apache.hadoop.fs.Path) = {
    val dir = Files.createTempDirectory("graft_leasespec_")
    val nio = dir.resolve("_lock")
    (nio, new org.apache.hadoop.fs.Path("file://" + nio.toAbsolutePath))
  }

  test("create-exclusive elects exactly one winner across 16 racing threads") {
    val (_, lock) = tmpLock()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 16).map { i =>
      new Thread(() =>
        if (Lease.createExclusive(conf, lock, s"t$i\n")) wins.incrementAndGet())
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1)
  }

  test("create-exclusive publishes the whole body or nothing, and leaves no temp file") {
    val (nio, lock) = tmpLock()
    // a long body: a create-then-write would expose a short read here
    val bodies = (1 to 8).map(i => s"t$i\n" + "x" * 200000)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var writing = true
    val reader = new Thread(() => while (writing) {
      try seen.add(new String(Files.readAllBytes(nio), "UTF-8"))
      catch { case _: java.nio.file.NoSuchFileException => () }
    })
    reader.start()
    val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = bodies.map(b =>
      new Thread(() => if (Lease.createExclusive(conf, lock, b)) wins.add(b)))
    threads.foreach(_.start()); threads.foreach(_.join())
    writing = false
    reader.join()
    assert(wins.size == 1)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.forall(_ == wins.peek()), "a reader saw a partial body")
    assert(new String(Files.readAllBytes(nio), "UTF-8") == wins.peek())
    assert(Files.list(nio.getParent).count() == 1L, "a temp file was left")
  }

  test("heartbeat keeps a lease live past the stale window; close releases it") {
    val (nio, lock) = tmpLock()
    val hb = Lease.heartbeat(conf, lock, intervalMs = 100)
    try {
      Thread.sleep(1500)
      assert(Lease.isLive(conf, lock, staleMs = 700),
        "a 100 ms heartbeat must keep a 700 ms-stale lease live at t=1.5 s")
    } finally hb.close()
    assert(!Files.exists(nio), "close must release (delete) the lease")
  }

  test("a broken-then-superseded holder's close leaves the successor's lease intact") {
    val (nio, lock) = tmpLock()
    // holder A claims and heartbeats slowly enough for us to simulate a break
    val a = Lease.heartbeat(conf, lock, intervalMs = 60000)
    try {
      // a breaker adjudicates A dead (in reality: A's JVM paused past the
      // stale window) and steals the lease; successor B claims it
      Files.delete(nio)
      val b = Lease.heartbeat(conf, lock, intervalMs = 60000)
      try {
        val bBody = new String(Files.readAllBytes(nio), "UTF-8")
        // A comes back and closes — the unconditional-delete bug would kill
        // B's live lease here, opening B's build to a spurious reclaim
        a.close()
        assert(Files.exists(nio),
          "a superseded holder's close must not delete the successor's lease")
        assert(new String(Files.readAllBytes(nio), "UTF-8") == bBody,
          "the successor's lease body must be untouched by the laggard close")
      } finally b.close()
      assert(!Files.exists(nio), "the successor's own close still releases")
    } finally a.close() // idempotent: nothing of A's remains to release
  }
}
