package graft

/** One competing builder PROCESS for [[AnnLeaseSoak]] — a real
  * separate JVM claiming the SHARED staged-ANN index root, because
  * the lease protocol's whole point is cross-PROCESS liveness: an
  * in-suite thread shares the claimant's clock, scheduler, and
  * shutdown hooks and therefore cannot witness a dead-JVM lease going
  * stale or a live one surviving a reclaim attempt.
  *
  * Args: fixtureDir staleMs buildSleepMs. Claims the fixture's exact
  * index root, heartbeats `_lease` through an injected
  * `GRAFT_ANN_BUILD_SLEEP_MS`-long pause (the "slow builder" — a real
  * 100 TB encode job runs hours), then builds and publishes. Prints
  * `[annsoak] published root=<path>` on success. */
object AnnLeaseSoakBuilder {
  def main(args: Array[String]): Unit = {
    val Array(fixtureDir, staleMs, _) = args.take(3)
    val spark = graft.util.LocalSession(4)
    spark.conf.set("graft.ann.leaseStaleMs", staleMs)
    val idx = graft.operators.Similarity.stagedIvfIndex(spark, fixtureDir)
    require(idx.assign.count() > 0)
    println(s"[annsoak] published root=" +
      graft.operators.Similarity.indexRootFor(spark, fixtureDir))
    spark.stop()
  }
}

/** Two-PROCESS staged-ANN-index lifecycle soak (VERDICT r10 #3): the
  * SlowBuilder scenario the r10 verdict demanded, plus the dead-
  * builder reclaim its fix must not break.
  *
  *  - `slow` — JVM A claims the root and stalls INSIDE the build for
  *    4× the stale window while heartbeating; this process then
  *    attempts the same index and must take the loser-local path —
  *    never reclaiming A's root (the r10 defect: a >30-min LIVE build
  *    deleted out from under the claimant because subdirectory writes
  *    don't bump the root's mtime) — and A must go on to publish.
  *  - `dead` — JVM A claims and stalls, is SIGKILLed mid-build; once
  *    its lease goes stale this process must reclaim the root and
  *    publish the index there.
  *
  * Run: sbt "Test/runMain graft.AnnLeaseSoak [slow|dead|all]"
  * Results land in BENCH_NOTES by hand, like the other soaks. */
object AnnLeaseSoak {
  private val StaleMs = 2000L

  private def launch(fixture: String, sleepMs: Long): (Process, java.io.File) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val out = java.io.File.createTempFile("graft_annsoak_builder_", ".log")
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.AnnLeaseSoakBuilder", fixture, StaleMs.toString,
      sleepMs.toString)
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(out)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.environment().put("GRAFT_ANN_BUILD_SLEEP_MS", sleepMs.toString)
    (pb.start(), out)
  }

  private def awaitClaim(root: java.nio.file.Path, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!java.nio.file.Files.exists(root.resolve("_lease")) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    require(java.nio.file.Files.exists(root.resolve("_lease")),
      s"builder never claimed $root within ${timeoutMs} ms")
  }

  def main(args: Array[String]): Unit = {
    val scenario = args.lift(0).getOrElse("all")
    val spark = graft.util.LocalSession(8)
    val run = Seq("slow", "dead")
      .filter(s => scenario == "all" || scenario == s)
    require(run.nonEmpty, s"unknown scenario $scenario")

    run.foreach { sc =>
      // a FRESH fixture per scenario: its fingerprint owns a fresh root
      val dir = java.nio.file.Files.createTempDirectory(s"graft_annsoak_$sc")
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val sess = spark.newSession()
      sess.conf.set("graft.ann.leaseStaleMs", StaleMs.toString)
      val root = graft.operators.Similarity.indexRootFor(sess, dir.toString)
      sc match {
        case "slow" =>
          val (p, log) = launch(dir.toString, sleepMs = 4 * StaleMs)
          awaitClaim(root, 60000)
          Thread.sleep(StaleMs + 500) // the builder is now "slow": lease
          // is older than the window would allow WITHOUT heartbeats
          val t0 = System.nanoTime()
          val idx = graft.operators.Similarity.stagedIvfIndex(sess, dir.toString)
          val n = idx.assign.count()
          require(n > 0, "loser path must yield a usable index")
          require(java.nio.file.Files.exists(root) &&
            !java.nio.file.Files.exists(root.resolve("_COMPLETE")),
            "LIVE slow builder's root reclaimed or prematurely published")
          require(p.waitFor() == 0, s"builder failed; log=$log")
          require(java.nio.file.Files.exists(root.resolve("_COMPLETE")),
            "slow builder must eventually publish at the shared root")
          println(f"[annsoak] slow OK: loser built locally in " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s while builder " +
            f"held the lease ${4 * StaleMs} ms > stale ${StaleMs} ms; " +
            s"n=$n")
        case "dead" =>
          val (p, _) = launch(dir.toString, sleepMs = 120000)
          awaitClaim(root, 60000)
          p.destroyForcibly() // SIGKILL mid-build: no release, no GC
          require(!p.isAlive || p.waitFor() != 0)
          Thread.sleep(StaleMs + 1000) // let the orphan lease go stale
          val sess2 = spark.newSession()
          sess2.conf.set("graft.ann.leaseStaleMs", StaleMs.toString)
          val idx = graft.operators.Similarity.stagedIvfIndex(sess2, dir.toString)
          require(idx.assign.count() > 0)
          require(java.nio.file.Files.exists(root.resolve("_COMPLETE")),
            "dead builder's root must be reclaimed and published HERE")
          println(s"[annsoak] dead OK: stale lease reclaimed, " +
            s"index published at the shared root")
      }
      // scrub: the published root and fixture are per-scenario garbage
      import scala.jdk.CollectionConverters._
      Seq(root, dir).filter(java.nio.file.Files.exists(_)).foreach { d =>
        java.nio.file.Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    println(s"[annsoak] ALL OK (${run.mkString(",")})")
    spark.stop()
  }
}
