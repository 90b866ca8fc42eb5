package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The MULTI-WRITER commit fence (verdict-r17 Next #1): two DRIVERS —
  * separate JVMs with separate [[ManifestFileSink.commitLock]] maps —
  * racing the same table must never both publish the same commit seq.
  * The JVM monitor can't fence that; [[ManifestFileSink.claimSeq]]'s
  * filesystem CAS (atomic CREATE_NEW of `_commits/<seq>`) can.
  *
  * A second JVM is simulated with a CHILD-FIRST classloader: every
  * `graft.*` class is re-defined from the same class files, so the
  * second `ManifestFileSink$` instance has its OWN static state — its
  * own commit-lock map, exactly like a separate driver process — while
  * Spark/Scala classes stay shared (they carry no graft commit state).
  * The filesystem underneath is the genuinely shared medium, as it
  * would be for two drivers on one table. */
class ConcurrentCommitSpec extends AnyFunSuite {

  private val schema = StructType.fromDDL("id BIGINT")

  /** Child-first loader over the compiled graft classes: a fresh
    * static world per instance. */
  private class IsolatedGraft extends ClassLoader(getClass.getClassLoader) {
    private val root = Paths.get(
      classOf[ManifestFileSink].getProtectionDomain.getCodeSource.getLocation.toURI)
    override def loadClass(name: String, resolve: Boolean): Class[_] = synchronized {
      val seen = findLoadedClass(name)
      if (seen != null) return seen
      if (name.startsWith("graft.")) {
        val f = root.resolve(name.replace('.', '/') + ".class")
        if (Files.isRegularFile(f)) {
          val bytes = Files.readAllBytes(f)
          val c = defineClass(name, bytes, 0, bytes.length)
          if (resolve) resolveClass(c)
          return c
        }
      }
      super.loadClass(name, resolve)
    }
  }

  /** A handle on one "driver": its own ManifestFileSink$ statics. */
  private class Driver(loader: ClassLoader) {
    private val cls = loader.loadClass("graft.sources.ManifestFileSink$")
    val module: AnyRef = cls.getField("MODULE$").get(null)
    private val publishM = cls.getMethods.find(m =>
      m.getName == "publish" && m.getParameterCount == 5).get
    def publish(path: String): Unit = {
      publishM.invoke(module, path,
        s"manifest-${java.util.UUID.randomUUID().toString}", schema,
        Array.empty[org.apache.spark.sql.connector.write.WriterCommitMessage],
        None)
      ()
    }
  }

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_ccommit_")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def publishedSeqs(dir: String): Seq[Long] =
    ManifestFileSink.manifests(dir).map(ManifestFileSink.readManifest(_).meta.seq)

  test("two isolated driver worlds really have independent statics") {
    val mine = ManifestFileSink.getClass
    val other = new IsolatedGraft().loadClass("graft.sources.ManifestFileSink$")
    assert(other ne mine, "the child-first loader must re-define graft classes")
    assert(other.getClassLoader ne mine.getClassLoader)
  }

  test("two drivers × racing threads: one linear seq history, no duplicates") {
    val dir = freshDir()
    val drivers = Seq(new Driver(getClass.getClassLoader),
      new Driver(new IsolatedGraft))
    val threadsPerDriver = 4
    val commitsPerThread = 10
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(drivers.size * threadsPerDriver)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    for (d <- drivers; _ <- 1 to threadsPerDriver) pool.execute { () =>
      start.await()
      (1 to commitsPerThread).foreach { _ =>
        try d.publish(dir)
        catch { case t: Throwable => failures.add(t) }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"commit failures: ${failures.asScala.take(3)}")
    val total = drivers.size * threadsPerDriver * commitsPerThread
    val seqs = publishedSeqs(dir)
    assert(seqs.size === total)
    assert(seqs.distinct.size === total,
      s"duplicate seqs minted across drivers: ${
        seqs.groupBy(identity).collect { case (s, g) if g.size > 1 => s }.toSeq.sorted}")
    // No crashes here, so the history is dense as well as linear.
    assert(seqs.sorted === (1L to total.toLong),
      "the published history must be one linear seq line")
    // Publication order is exactly seq order — no name-tiebreak rows.
    val ordered = ManifestFileSink.Snapshot.headers(dir).published.map(_.meta.seq)
    assert(ordered === ordered.sorted && ordered.distinct.size === ordered.size)
  }

  test("a crashed claimant leaves a permanent gap, never a duplicate") {
    val dir = freshDir()
    val d = new Driver(getClass.getClassLoader)
    d.publish(dir) // seq 1
    // Simulate a writer that claimed seq 2 and died before publishing.
    Files.createDirectories(Paths.get(dir, "_commits"))
    Files.createFile(Paths.get(dir, "_commits", f"${2L}%020d"))
    d.publish(dir) // must skip the orphaned claim
    assert(publishedSeqs(dir).sorted === Seq(1L, 3L))
  }

  test("claim-dir growth is bounded over a 10k-commit history with periodic compact (verdict-r18 #6)") {
    // claimSeq LISTS `_commits` on every allocation, so an unbounded
    // claim dir would make allocation cost grow with total history —
    // the GC is wired into compact/vacuum, but the LOOP (allocate …
    // compact … allocate) is what production runs. Pin it: 10k commits
    // with a compact every 500 keep the dir at or below one compaction
    // period, and allocation latency in the last period matches the
    // first (no O(history) creep).
    val dir = freshDir()
    val d = new Driver(getClass.getClassLoader)
    val period = 500
    val total = 10000
    def claimCount: Long = {
      val l = Files.list(Paths.get(dir, "_commits"))
      try l.count() finally l.close()
    }
    var maxClaims = 0L
    var firstPeriodNs = 0L
    var lastPeriodNs = 0L
    (1 to total).foreach { i =>
      val t0 = System.nanoTime()
      d.publish(dir)
      val dt = System.nanoTime() - t0
      if (i <= period) firstPeriodNs += dt
      if (i > total - period) lastPeriodNs += dt
      if (i % period == 0) {
        // Peak = just before the GC: one period of live claims.
        maxClaims = math.max(maxClaims, claimCount)
        ManifestFileSink.compact(dir)
      }
    }
    ManifestFileSink.compact(dir)
    // Bounded: never more than one period of live claims + the
    // compaction's own (the fold claims a seq too; +8 slack for the
    // occasional pre-GC listing).
    assert(maxClaims <= period + 8,
      s"claim dir grew to $maxClaims across a $period-commit period")
    assert(claimCount <= 1, s"post-compact claims must be ~empty, found $claimCount")
    // No O(history) creep: the 20th period allocates within 4× the
    // 1st (generous — the bound is a shape claim, not a microbenchmark).
    assert(lastPeriodNs < 4L * firstPeriodNs,
      f"allocation slowed: first period ${firstPeriodNs / 1e6}%.0f ms, " +
        f"last ${lastPeriodNs / 1e6}%.0f ms")
    println(f"[claims-growth] 10k commits, compact every $period: " +
      f"maxClaims=$maxClaims, firstPeriod=${firstPeriodNs / 1e6}%.0f ms, " +
      f"lastPeriod=${lastPeriodNs / 1e6}%.0f ms")
  }

  test("finality ceiling: a live in-flight claim holds stableManifest back; a dead one releases it") {
    // advice-r18 low: claimSeq fences seq uniqueness, not publication-
    // order stability — a writer that claims seq s and stalls publishes
    // AFTER a faster claimant of s+1, retroactively inserting under any
    // boundary a reader sealed in between. stableManifest is the
    // finality handle: it never passes a live unconsumed claim.
    val dir = freshDir()
    val d = new Driver(getClass.getClassLoader)
    (1 to 3).foreach(_ => d.publish(dir))
    Files.createDirectories(Paths.get(dir, "_commits"))
    Files.createFile(Paths.get(dir, "_commits", f"${4L}%020d")) // stalled writer
    d.publish(dir) // faster claimant takes 5
    assert(publishedSeqs(dir).sorted === Seq(1L, 2L, 3L, 5L))
    val bySeq = ManifestFileSink.manifests(dir)
      .map(f => ManifestFileSink.readManifest(f).meta.seq -> f.getName).toMap
    // Raw latest sits ABOVE the in-flight claim; the stable handle does
    // not — a consumer pinning it cannot have seq 4 retro-fill into its
    // baseline.
    assert(ManifestFileSink.latestManifest(dir) === Some(bySeq(5L)))
    assert(ManifestFileSink.stableManifest(dir) === Some(bySeq(3L)))
    // Past the claim TTL the claimant is presumed dead and the ceiling
    // reopens (backdate the marker an hour — well past the default TTL).
    Files.setLastModifiedTime(Paths.get(dir, "_commits", f"${4L}%020d"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L))
    assert(ManifestFileSink.stableManifest(dir) === Some(bySeq(5L)))
  }

  test("prune keeps a live unconsumed claim as evidence, GCs it once presumed dead") {
    val dir = freshDir()
    val d = new Driver(getClass.getClassLoader)
    (1 to 2).foreach(_ => d.publish(dir))
    Files.createDirectories(Paths.get(dir, "_commits"))
    val stalled = Paths.get(dir, "_commits", f"${3L}%020d")
    Files.createFile(stalled)
    d.publish(dir) // seq 4
    // Direct prune (no compact — a fold's [fseq, lseq] range would
    // absorb the gap, compaction's documented quiescence edge): the
    // retired claims 1/2 go, the live in-flight claim 3 stays, and so
    // does the highest claim 4 (the floor of every later claim).
    assert(ManifestFileSink.pruneClaims(ManifestFileSink.Snapshot.headers(dir)) === 2)
    assert(Files.exists(stalled),
      "a young unconsumed claim is in-flight evidence, not debris")
    assert(Files.exists(Paths.get(dir, "_commits", f"${4L}%020d")))
    // Backdate past the TTL: the claimant is presumed dead, the marker
    // is debris.
    Files.setLastModifiedTime(stalled,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600000L))
    assert(ManifestFileSink.pruneClaims(ManifestFileSink.Snapshot.headers(dir)) === 1)
    assert(!Files.exists(stalled))
  }

  test("claim markers are maintenance debris: compact prunes the retired ones") {
    val dir = freshDir()
    val d = new Driver(getClass.getClassLoader)
    (1 to 3).foreach(_ => d.publish(dir))
    val claims = Paths.get(dir, "_commits")
    assert(Files.list(claims).count() === 3)
    assert(ManifestFileSink.compact(dir) === 3) // folds 3 manifests, claims seq 4
    // Claims 1–4 are all ≤ the published max (4) now: prune leaves only
    // the highest, which every later claim must stay above.
    assert(ManifestFileSink.compact(dir) === 0) // second pass runs pruneClaims again
    val left = {
      val l = Files.list(claims)
      try l.iterator().asScala.map(_.getFileName.toString.toLong).toSeq
      finally l.close()
    }
    assert(left === Seq(4L), s"retired claims must be pruned, found $left")
  }

  test("a claimer listing from before another driver's publish and vacuum never re-mints a seq") {
    // A commit claims its seq over the listing it started with. If
    // another driver publishes seq 3 and vacuums in between, the stale
    // listing's floor is 3 again; only the surviving highest claim keeps
    // the allocation above it.
    val dir = freshDir()
    val d = new Driver(getClass.getClassLoader)
    (1 to 2).foreach(_ => d.publish(dir))
    val stale = ManifestFileSink.Snapshot.headers(dir)
    assert(stale.nextSeq === 3L)
    new Driver(new IsolatedGraft).publish(dir) // seq 3
    ManifestFileSink.vacuum(dir)
    val s = ManifestFileSink.claimSeq(stale)
    assert(!publishedSeqs(dir).contains(s), s"seq $s claimed twice")
    assert(s === 4L)
  }
}
