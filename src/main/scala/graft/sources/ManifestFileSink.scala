package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import ManifestFileSink.{CommittedFile, CommittedFiles}

/** DataSource V2 WRITE path with an explicit commit protocol — the shape a
  * bespoke destination (the reference is one) must implement to get
  * exactly-once batch writes out of Spark's task model:
  *
  *   - each task attempt writes its own uniquely-named file under `data/`
  *     and reports it in a [[WriterCommitMessage]] on task commit;
  *   - the DRIVER's `BatchWrite.commit` makes the job visible atomically
  *     by writing a manifest that lists exactly the committed files —
  *     readers resolve visibility through manifests ONLY, so files from
  *     failed/speculative/orphaned attempts are never observed even
  *     though they physically exist;
  *   - task `abort` deletes the attempt's file; job `abort` deletes every
  *     file named in the received commit messages.
  *
  * This mirrors the FileOutputCommitter/Iceberg-manifest idea in the
  * smallest form that still demonstrates every hook. The row format is a
  * deliberately simple TSV over long/int/double/boolean/string (nulls as
  * `\N`; tabs/newlines in strings unsupported) — the protocol, not the
  * encoding, is the point. Appends accumulate: each job adds one
  * manifest; a read is the union of all manifests — or, with
  * `option("asOfManifest", <name>)`, of the snapshot sealed when that
  * manifest's job committed (time travel: the read is repeatable no
  * matter how many appends land afterwards).
  *
  * The STREAMING half ([[ManifestStreamingWrite]]) reuses the same task
  * mechanics but names the manifest by epochId, so a replayed micro-batch
  * finds its manifest already published and discards its duplicate files —
  * sink-side idempotency that upgrades the engine's at-least-once replay
  * to exactly-once. */
class ManifestFileSink extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  /** Reads resolve the schema from the newest visible manifest (or the
    * `asOfManifest` snapshot when time-traveling); an empty target has no
    * schema (writes never consult it — ACCEPT_ANY_SCHEMA). With
    * `changeFeedWeights`, a `_change_weight INT` column is appended: the
    * feed is then a Z-SET of row deltas (+1 insert, −1 retraction). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = ManifestFileSink.storedSchema(
      options.get("path"), Option(options.get("asOfManifest")))
      .getOrElse(new StructType())
    if (options.getBoolean("changeFeedWeights", false))
      base.add(ManifestFileSink.WeightCol, IntegerType, nullable = false)
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestTable(properties.get("path"), schema)
}

object ManifestFileSink {

  /** Per-table commit lock — the FAST PATH of the commit protocol: it
    * serializes same-JVM writers so they never contend on the
    * cross-process claim below, and it still fences the read-modify-write
    * sections (a compact's listing vs a concurrent publish) within one
    * driver. Everything that allocates a seq additionally claims it
    * through [[claimSeq]]'s filesystem CAS, so the lock is a latency
    * optimization, not the correctness boundary. */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(path: String): Object =
    commitLocks.computeIfAbsent(new File(path).getAbsolutePath, _ => new Object)

  /** Cross-process commit fence (verdict-r17 Next #1 — the
    * Delta/Iceberg optimistic-concurrency core, on the filesystem
    * primitive both fall back to without a lock service): every commit
    * seq is CLAIMED before use by atomically creating
    * `_commits/<zero-padded-seq>` with CREATE_NEW semantics. Two
    * DRIVERS (separate JVMs, separate [[commitLock]] maps) racing the
    * same table can no longer both publish the same seq: the second
    * claimant of a seq gets `FileAlreadyExistsException` and retries
    * one higher, so the published history is one linear seq order with
    * no name-tiebreak duplicates (ConcurrentCommitSpec proves it from
    * two isolated classloaders). A claim whose writer crashed before
    * publishing is a permanent GAP in the seq line — harmless, seqs
    * are ordered, not dense — and claims at or below the published max
    * are garbage-collected by [[compact]]/[[vacuum]], except the highest
    * claim, which is never pruned. A claimer takes its floor from the
    * listing its commit started with, which can predate another
    * driver's publish of seq s; the surviving highest claim (≥ s) keeps
    * `maxClaimed + 1` above every seq ever claimed, so a pruned claim can
    * never be re-minted.
    *
    * What this fences and what it doesn't: seq UNIQUENESS (and with it
    * deterministic publication order) is now cross-process safe for
    * every commit path. Two residual multi-writer caveats are
    * documented rather than fenced, both inherent to optimistic
    * concurrency without a reader-visible commit pointer: (a) a writer
    * that claims seq s and stalls before its atomic rename publishes
    * AFTER a faster claimant of s+1 — readers that listed in between
    * see the gap fill in retroactively (Delta on S3 had the same
    * anomaly before putIfAbsent; the window here is claim→rename,
    * microseconds); (b) read-modify-write maintenance (a DV computed
    * against a snapshot another process purged mid-flight) needs
    * content validation, which [[wapPublish]] performs for staged
    * deletion vectors and [[optimizePinned]] for rewrites. */
  private val ClaimDir = "_commits"

  private[sources] def claimSeq(log: Snapshot): Long = {
    val dir = Paths.get(log.path, ClaimDir)
    Files.createDirectories(dir)
    def maxClaimed: Long = {
      val l = Files.list(dir)
      try {
        var m = 0L
        l.forEach { p =>
          try { m = math.max(m, p.getFileName.toString.toLong) }
          catch { case _: NumberFormatException => }
        }
        m
      } finally l.close()
    }
    var s = math.max(log.nextSeq, maxClaimed + 1L)
    while (true) {
      try { Files.createFile(dir.resolve(f"$s%020d")); return s }
      catch { case _: java.nio.file.FileAlreadyExistsException => s += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  /** How long an unconsumed claim marker stays EVIDENCE of an in-flight
    * commit before it is presumed crashed (advice-r18 low — the
    * claim→rename visibility window): [[stableSeqCeiling]] treats a
    * younger unconsumed claim as a pending commit and holds the finality
    * ceiling below it; past the TTL the claimant is presumed dead and
    * the claim becomes GC-able debris. The commit path's claim→rename
    * window is microseconds, so the generous default only matters for
    * genuinely crashed claimants. Same TTL-trust discipline as the
    * maintenance lease: a claimant that stalls LONGER and then publishes
    * retro-fills past an already-finalized ceiling — documented
    * residual, priced in SCALE.md. Env/property-tunable for operators;
    * specs age claims by backdating marker mtimes. */
  private def claimTtlMs: Long =
    sys.props.get("graft.claim.ttl.ms").orElse(sys.env.get("GRAFT_CLAIM_TTL_MS"))
      .map(_.toLong).getOrElse(900000L)

  /** Is a claimed seq CONSUMED — a manifest at that seq exists (main or
    * staged: a staged manifest re-seqs at publish, so its claim value
    * can never retro-publish), or the seq sits inside a compaction's
    * folded [fseq, lseq] range (its commit published and was folded
    * away). A consumed seq can never appear retroactively on the main
    * line; an unconsumed claim is either an in-flight commit or a
    * crashed claimant.
    *
    * The folded-range test over-approximates: a GAP inside a folded
    * range (a claim that never published before the fold) reads as
    * consumed, so a writer still stalled in its claim→rename window
    * when a compact folds PAST its claim loses its pending-commit
    * evidence. That is compaction's standing quiescence edge (the
    * straddling-fold rule already fails live change-feed consumers
    * loudly; `compact(path, aboveSeq)` folds around live writers the
    * same way it folds around live consumers) — and the window is the
    * microsecond claim→rename rename, not the verb's span. */
  private def seqConsumed(log: Snapshot): Long => Boolean = {
    val metas = log.all.map(_.meta)
    val direct = metas.map(_.seq).toSet
    val ranges = metas.flatMap(m => m.foldedMinSeq.zip(m.foldedMaxSeq))
    v => direct.contains(v) ||
      ranges.exists { case (lo, hi) => v >= lo && v <= hi }
  }

  /** Claim values not [[seqConsumed]] and with age within
    * [[claimTtlMs]] — the in-flight commits a finality reader must
    * treat as pending. */
  private def pendingClaims(log: Snapshot): Seq[Long] = {
    val dir = Paths.get(log.path, ClaimDir)
    if (!Files.isDirectory(dir)) return Nil
    val consumed = seqConsumed(log)
    val now = System.currentTimeMillis()
    val ttl = claimTtlMs
    val out = Seq.newBuilder[Long]
    val l = Files.list(dir)
    try l.forEach { p =>
      try {
        val v = p.getFileName.toString.toLong
        if (!consumed(v) &&
            now - Files.getLastModifiedTime(p).toMillis <= ttl)
          out += v
      } catch { case _: Exception => } // non-numeric or vanished: skip
    } finally l.close()
    out.result()
  }

  /** The highest seq whose PREFIX of the timeline is FINAL — no live
    * unconsumed claim sits at or below it, so no commit can ever appear
    * retroactively under that line (up to the [[claimTtlMs]] residual).
    * [[claimSeq]] fences seq uniqueness but not publication-order
    * stability: a writer that claims seq s and stalls before its atomic
    * rename publishes AFTER a faster claimant of s+1, retroactively
    * inserting into the snapshot timeline. A reader that must never
    * re-interpret history — a change-feed consumer recording a resume
    * point, a time-travel pin that has to stay bit-stable — caps its
    * boundary here instead of at the raw max. Long.MaxValue when
    * nothing is pending (no constraint). */
  private[sources] def stableSeqCeiling(log: Snapshot): Long =
    pendingClaims(log).minOption.fold(Long.MaxValue)(_ - 1L)

  /** The newest published manifest at or below [[stableSeqCeiling]] —
    * what an incremental consumer should record as its `sinceManifest`
    * resume point (and pin as `asOfManifest` for the cycle) instead of
    * [[latestManifest]]: a resume point taken past an in-flight claim
    * would put the late commit's files into the consumer's BASELINE
    * instead of its next diff — a silently missed commit. The streaming
    * commit feed applies the same cap to its offsets. */
  def stableManifest(path: String): Option[String] = {
    val log = Snapshot.headers(path)
    val ceil = stableSeqCeiling(log)
    log.published.filter(_.meta.seq <= ceil).lastOption.map(_.name)
  }

  /** Live pending claims (the finality gap's explanation) — surfaced by
    * the `stable_manifest` catalog procedure. */
  private[sources] def pendingClaimCount(path: String): Int =
    pendingClaims(Snapshot.headers(path)).size

  /** GC claim markers that are DEBRIS: [[seqConsumed]] claims (their
    * commit published — possibly since folded — or staged, so no
    * retro-publish is possible there) immediately; UNCONSUMED claims ≤
    * the published max only after [[claimTtlMs]] — while young they are
    * the only evidence [[stableSeqCeiling]] has of an in-flight commit,
    * and deleting them mid-flight would let a finality reader seal a
    * boundary the stalled writer then publishes under (the advice-r18
    * anomaly). The highest claim is always kept: it is [[claimSeq]]'s
    * floor for a claimer whose listing predates the newest publish. */
  private[sources] def pruneClaims(log: Snapshot): Int = {
    val dir = Paths.get(log.path, ClaimDir)
    if (!Files.isDirectory(dir)) return 0
    val fence = log.all.map(_.meta.seq).maxOption.getOrElse(return 0)
    val consumed = seqConsumed(log)
    val now = System.currentTimeMillis()
    val ttl = claimTtlMs
    val l = Files.list(dir)
    val claims = try l.iterator.asScala.flatMap { p =>
      p.getFileName.toString.toLongOption.map(p -> _)
    }.toList finally l.close()
    val top = claims.map(_._2).maxOption.getOrElse(return 0)
    claims.count { case (p, v) =>
      val dead = v < top && v <= fence && (consumed(v) || {
        val age = try now - Files.getLastModifiedTime(p).toMillis
          catch { case _: Exception => 0L } // vanished: nothing to do
        age > ttl
      })
      dead && Files.deleteIfExists(p)
    }
  }

  private[sources] def manifests(path: String): Seq[File] = {
    val d = new File(path)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().filter(_.getName.startsWith("manifest-")).sortBy(_.getName).toSeq
  }

  /** Manifest file layout (v2):
    *   line 0: `#graft\tseq=<n>\tfolded=<name,name,...>`   (metadata header)
    *   line 1: schema DDL
    *   line 2+: `<file>\t<rows>[\t<zonemap>]` entries and `~dv` deletion
    *            vectors ([[DvMarker]])
    * `seq` is the monotonic commit counter — publication order is defined
    * by it, never by file mtime (coarse-mtime filesystems order same-tick
    * commits arbitrarily). `folded` names the manifests a [[compact]]
    * absorbed: it is how a replayed epoch recognises its commit as already
    * published after its epoch-named manifest was compacted away, and how
    * a time-travel read of a retired snapshot fails explicitly instead of
    * answering empty. One name is ~50 bytes of metadata; the list grows
    * with total folded commits, which a 100 TB table bounds by running
    * compaction on compounding intervals (each compact folds the previous
    * combined manifest, so the list is the commit history, not a blowup).
    * Every manifest is read through [[readManifest]] and parsed once into a
    * [[Manifest]]; an operation sees the table through one [[Snapshot]]. */
  private[sources] final case class ManifestMeta(
      seq: Long, folded: Seq[String],
      foldedMinSeq: Option[Long] = None, foldedMaxSeq: Option[Long] = None,
      staged: Option[String] = None)

  /** Parse a manifest's header line. A file without the `#graft` header
    * is not a manifest this format can order, so it fails, naming the file. */
  private def parseMeta(f: File, h: String): ManifestMeta = {
    if (!h.startsWith("#graft"))
      throw new IllegalStateException(s"not a graft manifest (no #graft header): $f")
    val kv = h.split("\t").drop(1).map { p =>
      val i = p.indexOf('='); p.substring(0, i) -> p.substring(i + 1)
    }.toMap
    ManifestMeta(kv("seq").toLong,
      kv.get("folded").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil),
      foldedMinSeq = kv.get("fseq").map(_.toLong),
      foldedMaxSeq = kv.get("lseq").map(_.toLong),
      staged = kv.get("staged").filter(_.nonEmpty))
  }

  /** Manifest files opened for reading. Every read goes through
    * [[readManifest]], so this counts the metadata plane's file opens;
    * test-visible, like [[driverMatchFileReads]], so specs can bound what
    * one operation costs. */
  private[sources] val manifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readLines(f: File): IndexedSeq[String] = {
    manifestReads.incrementAndGet()
    val lines = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toIndexedSeq
    require(lines.nonEmpty, s"empty manifest: $f")
    lines
  }

  /** The one manifest reader: one open, reading the whole file (`full`)
    * or only its header line. A header-only [[Manifest]] reads its body on
    * first use — one more open, at most once. */
  private[sources] def readManifest(f: File, full: Boolean = true): Manifest =
    if (full) {
      val lines = readLines(f)
      new Manifest(f, parseMeta(f, lines.head), Some(lines))
    } else {
      manifestReads.incrementAndGet()
      val r = Files.newBufferedReader(f.toPath, StandardCharsets.UTF_8)
      val h = try r.readLine() finally r.close()
      require(h != null, s"empty manifest: $f")
      new Manifest(f, parseMeta(f, h), None)
    }

  private def renderHeader(m: ManifestMeta): String =
    s"#graft\tseq=${m.seq}\tfolded=${m.folded.mkString(",")}" +
      m.foldedMinSeq.fold("")(s => s"\tfseq=$s") +
      m.foldedMaxSeq.fold("")(s => s"\tlseq=$s") +
      m.staged.fold("")(id => s"\tstaged=$id")

  /** One data-file entry of a manifest. `statsText` is the v3 zone-map
    * field, empty for v2 entries written before zone maps existed (those
    * files are never pruned: no stats means no claim). */
  private[sources] final case class Entry(file: String, rows: Long, statsText: String) {
    lazy val stats: Option[Map[Int, ColStats]] =
      if (statsText.isEmpty) None else Some(decodeStats(statsText))
  }

  /** A task's committed data file, as its writer reports it at task commit
    * (`stats`: the encoded zone map, empty when the file claims none).
    * [[line]] is the one renderer of a manifest entry; [[Manifest.entries]]
    * parses it back. */
  private[sources] final case class CommittedFile(
      file: String, rows: Long, stats: String = "") extends WriterCommitMessage {
    def line: String = if (stats.isEmpty) s"$file\t$rows" else s"$file\t$rows\t$stats"
  }

  /** Task commit of a PARTITIONED batch write: one entry per partition value
    * the task saw ([[ManifestPartitionedDataWriter]]). */
  private[sources] final case class CommittedFiles(files: Seq[CommittedFile])
    extends WriterCommitMessage

  /** One manifest, parsed once: header, DDL, data entries (zone maps
    * decoded on first use) and deletion vectors (runs decoded). */
  private[sources] final class Manifest(
      val file: File, val meta: ManifestMeta, read: Option[IndexedSeq[String]]) {
    def name: String = file.getName
    private lazy val lines: IndexedSeq[String] = read.getOrElse(readLines(file))
    /** Schema DDL: the line under the header. */
    lazy val ddl: String = lines(1)
    /** Entry and deletion-vector lines, as written. */
    lazy val body: IndexedSeq[String] = lines.drop(2)
    lazy val entries: IndexedSeq[Entry] =
      body.filterNot(_.startsWith(DvPrefix)).map { line =>
        val parts = line.split("\t")
        Entry(parts(0), parts(1).toLong, if (parts.length > 2) parts(2) else "")
      }
    /** (data file, positions) — the only decoder of the `<runs>` field. */
    lazy val dvs: IndexedSeq[(String, Array[Long])] =
      body.filter(_.startsWith(DvPrefix)).map { line =>
        val parts = line.split("\t")
        (parts(1), if (parts.length > 3) decodeRuns(parts(3)) else Array.empty[Long])
      }
    def hasDeleteVectors: Boolean = body.exists(_.startsWith(DvPrefix))
  }

  /** A manifest table's state, resolved ONCE per operation: one directory
    * listing and one [[readManifest]] per manifest — whole files for
    * `Snapshot(path)`, headers only for `Snapshot.headers(path)` (bodies
    * then load on first use, still at most once each) — from which every
    * view the operation needs derives: the main line, the fold ledger,
    * WAP stages, and the manifests, schema, entries and deletion vectors
    * visible at `asOf`. A scan, a commit or a maintenance verb therefore
    * never pairs one listing's files with another listing's vectors.
    *
    * Never cached across operations: a name can come back with different
    * content — streaming epochs reuse `manifest-e<epoch>` names, a WAP
    * discard followed by a restart republishes the same name, a table can
    * be recreated at the same path — so every query (each scan builder),
    * commit and maintenance verb resolves its own. */
  private[sources] final class Snapshot(
      val path: String, val all: Seq[Manifest], val asOf: Option[String]) {

    /** The same listing at another snapshot (bodies already read are shared). */
    def at(v: Option[String]): Snapshot = if (v == asOf) this else new Snapshot(path, all, v)

    /** Every manifest name ever folded away by a [[compact]] — the
      * "already published, then compacted" set [[publish]] must honour. */
    lazy val folded: Set[String] = all.flatMap(_.meta.folded).toSet

    /** Manifests in PUBLICATION order — the embedded commit sequence, with
      * a name tiebreak only for malformed hand-written duplicates (two
      * honest writers cannot produce a same-seq pair: every allocation
      * passes [[claimSeq]]'s cross-process CAS). This order is also the
      * time-travel timeline.
      *
      * A live manifest whose NAME appears in another live manifest's
      * `folded` header is SUPERSEDED — a [[compact]]/[[applyDeletes]] that
      * crashed after publishing its combined manifest but before deleting
      * its inputs leaves both on disk. For [[compact]] the double listing
      * was harmless (same entry lines, deduped by name); [[applyDeletes]]
      * rewrites files under NEW names, where a by-name dedup cannot catch
      * the duplicate rows — so the supersede rule is structural: a folded
      * name never contributes entries again, whether or not its file still
      * exists. STAGED manifests (write-audit-publish, `staged=<id>` header)
      * are invisible to the main line — and to every maintenance pass
      * built on it — until [[wapPublish]] cherry-picks them in. */
    lazy val published: Seq[Manifest] =
      all.filterNot(m => folded.contains(m.name) || m.meta.staged.isDefined)
        .sortBy(m => (m.meta.seq, m.name))

    /** Staged (unpublished) manifests of one WAP id, in commit order. */
    def staged(id: String): Seq[Manifest] =
      all.filter(_.meta.staged.contains(id)).sortBy(m => (m.meta.seq, m.name))

    def stagedIds: Seq[String] = all.flatMap(_.meta.staged).distinct.sorted

    /** Next commit sequence: one past the max seq on disk. This is only
      * the PUBLISHED floor — allocation goes through [[claimSeq]], which
      * raises it past any outstanding cross-process claims and CASes the
      * result. */
    def nextSeq: Long = all.map(_.meta.seq).maxOption.getOrElse(0L) + 1L

    /** The manifest set visible at `asOf`: every manifest published at or
      * before `asOf` (a manifest file name), in publication order — each
      * job's commit is one manifest, so "as of manifest M" is exactly the
      * table state the moment M's job committed. A name retired by
      * [[compact]] raises — the snapshot was expired, and an explicit error
      * beats silently answering empty; a name that NEVER published resolves
      * to the empty snapshot. */
    lazy val manifests: Seq[Manifest] = asOf match {
      case None => published
      // The WAP AUDIT view (`VERSION AS OF 'wap:<id>'`): the current
      // main line PLUS the id's staged commits — what the table will be
      // if the stage is published. Every read path funnels through this
      // one resolution, so schema, files, and deletion vectors all see
      // the staged state consistently. A typo'd id fails loudly.
      case Some(v) if v.startsWith("wap:") =>
        val id = v.substring(4)
        val st = staged(id)
        if (st.isEmpty) throw new IllegalArgumentException(
          s"no staged commits under WAP id '$id'; staged ids: ${stagedIds.mkString(", ")}")
        published ++ st
      case Some(name) =>
        val i = published.indexWhere(_.name == name)
        if (i < 0 && folded.contains(name))
          throw new IllegalArgumentException(
            s"snapshot $name was retired by compaction (expire-snapshots): " +
              "pre-compaction snapshots are not time-travelable")
        published.take(i + 1)
    }

    /** DDL and (all-nullable) schema of the newest visible manifest. */
    def ddl: Option[String] = manifests.lastOption.map(_.ddl)
    lazy val schema: Option[StructType] = ddl.map(d => asNullable(StructType.fromDDL(d)))

    /** The union of all visible deletion vectors, per file — what a
      * merge-on-read scan of this snapshot subtracts. */
    lazy val dvs: Map[String, Array[Long]] = unionPositions(manifests.flatMap(_.dvs))

    /** (file, rows, entry, DDL of the listing manifest) of every visible
      * file. The entry's zone map is decoded only when `.stats` is read: a
      * bare count or an unfiltered scan never decodes one. Distinct by
      * file name, first listing kept: task files are immutable once
      * committed, so a file listed twice (e.g. by a [[compact]] that
      * crashed between publishing the combined manifest and deleting its
      * inputs) is the same data — deduping here makes that crash window
      * harmless instead of a double-read. */
    lazy val visible: Seq[(String, Long, Entry, String)] =
      manifests.flatMap(m => m.entries.map(e => (e.file, e.rows, e, m.ddl)))
        .distinctBy(_._1)

    /** Latest stats listing per visible file, sorted by file name — the
      * ONE duplicate-entry policy the manifest-metadata views share
      * (advice-r13: [[partitionRowCounts]] kept the FIRST listing while the
      * `files` procedure kept the LAST; task files are immutable so
      * divergence needs a re-listed entry, but two views of one snapshot
      * must never be able to disagree). "Latest" = last in manifest order —
      * the most recent manifest to claim the file owns its stats. */
    lazy val latestEntries: Seq[(String, Long, Entry, String)] =
      manifests.flatMap(m => m.entries.map(e => (e.file, e.rows, e, m.ddl)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.last)

    /** DDL each data file was committed under, across the whole main line
      * — the weighted change feed needs it to parse rows of OLD files
      * referenced by a window's deletion vectors. */
    lazy val fileDdls: Map[String, String] =
      published.flatMap(m => m.entries.map(_.file -> m.ddl)).toMap
  }

  private[sources] object Snapshot {
    /** Every manifest read whole: for operations that need entries. */
    def apply(path: String, asOf: Option[String] = None): Snapshot =
      new Snapshot(path, manifests(path).map(readManifest(_)), asOf)

    /** Headers only; a body is read when first asked for. */
    def headers(path: String, asOf: Option[String] = None): Snapshot =
      new Snapshot(path, manifests(path).map(readManifest(_, full = false)), asOf)
  }

  /** The newest published manifest name. For an incremental consumer's
    * `asOfManifest` pin / `sinceManifest` resume point prefer
    * [[stableManifest]] — this raw latest can sit ABOVE an in-flight
    * claim, and a commit that lands under it retroactively would fall
    * into the consumer's baseline instead of its next diff. */
  def latestManifest(path: String): Option[String] =
    Snapshot.headers(path).published.lastOption.map(_.name)

  /** Number of PUBLISHED manifests on the main line — the segment count
    * an index-maintenance caller checks before deciding a compaction is
    * worth a rewrite (1 = already one segment, nothing to fold). */
  def publishedManifestCount(path: String): Int = Snapshot.headers(path).published.size

  /** LOGICAL-state fingerprint of a manifest table: a fold over the
    * PUBLISHED manifest chain (names + seqs, commit order). None when
    * `path` is not a manifest table (no `manifest-*` children) — the
    * caller falls back to its physical listing.
    *
    * Why this exists (verdict-r15 #3): staleness fences hashed every
    * table by directory mtimes, but a manifest table's visible state is
    * defined by its published chain ONLY — staging under a `wap-id` and
    * then discarding restores the chain exactly while bumping the
    * `data/` directory's mtime, so a REFUSED ingest read as corpus
    * drift and every subsequent serve refused a logically-unchanged
    * index until a full rebuild. Hashing the chain makes the fence
    * invariant under stage+discard (and under readers, vacuum of
    * unreferenced files, etc.) while still moving on every real commit:
    * any append/delete/merge/publish adds a manifest, and a compact
    * rewrites the chain. Staged manifests are EXCLUDED (they are
    * invisible to readers until published — a fence must not see them
    * either); seq rides beside the name so a discard-recreate under a
    * recycled name cannot alias. */
  def publishedChainFingerprint(path: String): Option[Long] = {
    val log = Snapshot.headers(path)
    if (log.all.isEmpty) None
    else Some(log.all.filter(_.meta.staged.isEmpty)
      .sortBy(m => (m.meta.seq, m.name))
      .foldLeft(1L) { (h, m) =>
        (h * 1000003L + m.name.hashCode.toLong) * 1000003L + m.meta.seq
      })
  }

  /** All-nullable view of a schema: the TSV encoding can carry `\N` in any
    * column (and schema evolution backfills NULL for added columns), so
    * nullable-ness recorded at write time is not a read-side guarantee —
    * declaring it would make codegen read 0.0 where the data says NULL. */
  private[sources] def asNullable(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** Schema as of a snapshot (default: the most recently published), read
    * from the manifest headers plus the newest visible manifest's DDL. */
  private[sources] def storedSchema(
      path: String, asOf: Option[String] = None): Option[StructType] =
    Snapshot.headers(path, asOf).schema

  // ----------------------------------------------- deletion vectors (v4)

  /** Row-level deletes, merge-on-read. A DELETE commit publishes a normal
    * manifest whose entry lines are DELETION VECTORS instead of data
    * files: `~dv\t<file>\t<count>\t<runs>` — the ROW POSITIONS (0-based
    * line index, the sink's natural row id: task files are immutable)
    * deleted from an already-committed file, `<count>` of them, written
    * as comma-separated ascending INCLUSIVE RUNS: `0-39999` retracts a
    * whole 40,000-row file, `3,7-9` is positions 3, 7, 8 and 9. A bare
    * position is a one-element run, so the older plain comma list
    * (`3,7,8,9`) is the same grammar and parses unchanged. Readers subtract
    * the union of visible vectors while scanning (merge-on-read); the
    * data files are never touched, so the delete commit is O(matching
    * rows) metadata and time travel to a pre-delete snapshot still sees
    * the rows. [[applyDeletes]] is the copy-on-write half: it folds the
    * vectors into rewritten files when the operator chooses to pay the
    * rewrite. Each DELETE commit carries only the positions it newly
    * deleted (a delta, like every other manifest); the read-side union
    * makes overlapping deltas idempotent. The `~` marker cannot collide
    * with data-file names (task files are `part-*`/`purge-*`). */
  private[sources] val DvMarker = "~dv"
  private val DvPrefix = DvMarker + "\t"

  /** Appended delta-weight column of the weighted change feed. */
  private[sources] val WeightCol = "_change_weight"

  /** Metadata columns (SupportsMetadataColumns): the source file name and
    * the 0-based row position within it — together the sink's natural ROW
    * ID (task files are immutable), which is exactly what delta-based
    * UPDATE/MERGE retract through deletion vectors. Reserved names. */
  private[sources] val FileCol = "_file"
  private[sources] val PosCol = "_pos"

  /** Sorted distinct positions as inclusive runs: `0-3,7,9-10`. */
  private[sources] def encodeRuns(ps: Array[Long]): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < ps.length) {
      var j = i
      while (j + 1 < ps.length && ps(j + 1) == ps(j) + 1) j += 1
      if (sb.length > 0) sb.append(',')
      sb.append(ps(i))
      if (j > i) sb.append('-').append(ps(j))
      i = j + 1
    }
    sb.toString
  }

  /** Inverse of [[encodeRuns]]. The runs are parsed first and the
    * positions then filled into one exactly-sized array: a full-file
    * retraction such as `0-39999` allocates its 40,000 positions once,
    * with no growth copies. */
  private[sources] def decodeRuns(s: String): Array[Long] = {
    val firsts = new scala.collection.mutable.ArrayBuilder.ofLong
    val lasts = new scala.collection.mutable.ArrayBuilder.ofLong
    var n = 0L
    var i = 0
    while (i < s.length) {
      var end = s.indexOf(',', i)
      if (end < 0) end = s.length
      val dash = s.indexOf('-', i)
      if (dash >= 0 && dash < end) {
        val first = s.substring(i, dash).toLong
        val last = s.substring(dash + 1, end).toLong
        if (last >= first) { firsts += first; lasts += last; n += last - first + 1 }
      } else if (end > i) {
        val p = s.substring(i, end).toLong
        firsts += p; lasts += p; n += 1
      }
      i = end + 1
    }
    val fs = firsts.result()
    val ls = lasts.result()
    val out = new Array[Long](Math.toIntExact(n))
    var k = 0
    var r = 0
    while (r < fs.length) {
      var p = fs(r)
      while (p <= ls(r)) { out(k) = p; k += 1; p += 1 }
      r += 1
    }
    out
  }

  /** Sort and dedupe in place; returns the distinct prefix. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** Per-file union of position deltas: sorted, distinct, unboxed. A
    * file with one delta that is already strictly ascending (every vector
    * [[encodeRuns]] wrote) keeps that array as is, uncopied: callers only
    * read the union. */
  private[sources] def unionPositions(
      dvs: Iterable[(String, Array[Long])]): Map[String, Array[Long]] =
    dvs.groupMap(_._1)(_._2).map {
      case (f, ps) if ps.sizeIs == 1 && strictlyAscending(ps.head) => f -> ps.head
      case (f, ps) => f -> sortedDistinct(Array.concat(ps.toSeq: _*))
    }

  private def strictlyAscending(a: Array[Long]): Boolean = {
    var i = 1
    while (i < a.length && a(i - 1) < a(i)) i += 1
    i >= a.length
  }

  /** Positions of `[0, rows)` not in the sorted distinct `deleted`: what
    * retracting every live row of a file writes. */
  private[sources] def livePositions(rows: Long, deleted: Array[Long]): Array[Long] = {
    val out = new Array[Long]((rows - deleted.length).toInt)
    var n = 0
    var di = 0
    var p = 0L
    while (p < rows) {
      if (di < deleted.length && deleted(di) == p) di += 1
      else { out(n) = p; n += 1 }
      p += 1
    }
    out
  }

  /** Exact three-valued evaluation of a DSv2 [[org.apache.spark.sql.sources.Filter]]
    * against one row: Some(true)/Some(false)/None(=SQL NULL). DELETE keeps
    * a row unless the predicate is definitively TRUE — the ANSI rule, so
    * `score > 2.0` never deletes a NULL score and `NOT(x = 1)` never
    * deletes a NULL x. Unsupported filter shapes throw (a delete must
    * never silently mis-scope). */
  private[sources] def evalFilter(
      f: org.apache.spark.sql.sources.Filter,
      row: InternalRow,
      schema: StructType): Option[Boolean] = {
    import org.apache.spark.sql.sources._
    def value(c: String): Any = {
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"unknown column $c in ${schema.fieldNames.mkString(",")}")
      if (row.isNullAt(i)) null
      else schema.fields(i).dataType match {
        case LongType    => row.getLong(i)
        case IntegerType => row.getInt(i)
        case DoubleType  => row.getDouble(i)
        case BooleanType => row.getBoolean(i)
        case StringType  => row.getUTF8String(i).toString
        case dt => throw new IllegalArgumentException(s"unsupported type $dt")
      }
    }
    // Compare column value to a filter literal in the column's own type
    // space; None when the column is NULL. NaN follows SPARK's total
    // order (NaN greatest, NaN = NaN true — java.lang.Double.compare),
    // so a SQL DELETE removes exactly the rows the same predicate
    // SELECTs — the predicate now arrives from Spark's own DML rewrite.
    def cmp(c: String, v: Any): Option[Int] = value(c) match {
      case null => None
      case x: Long => compareLongLiteral(x, v)
      case x: Int => compareLongLiteral(x.toLong, v)
      case x: Double =>
        // Normalize signed zero first: Spark's comparisons use primitive
        // equality where -0.0 = 0.0, but Double.compare orders them.
        val d = v.asInstanceOf[Number].doubleValue()
        Some(java.lang.Double.compare(
          if (x == 0.0) 0.0 else x, if (d == 0.0) 0.0 else d))
      case x: String => Some(x.compareTo(String.valueOf(v)))
      case x: Boolean => Some(java.lang.Boolean.compare(x, v.asInstanceOf[Boolean]))
      case other => throw new IllegalArgumentException(s"uncomparable $other")
    }
    def str(c: String): Option[String] = value(c) match {
      case null => None
      case s: String => Some(s)
      case other => throw new IllegalArgumentException(s"non-string $c = $other")
    }
    f match {
      case EqualTo(c, v)            => cmp(c, v).map(_ == 0)
      case EqualNullSafe(c, v)      =>
        Some(if (v == null) value(c) == null else cmp(c, v).contains(0))
      case GreaterThan(c, v)        => cmp(c, v).map(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).map(_ >= 0)
      case LessThan(c, v)           => cmp(c, v).map(_ < 0)
      case LessThanOrEqual(c, v)    => cmp(c, v).map(_ <= 0)
      case In(c, vs) =>
        if (value(c) == null) None
        else if (vs.exists(v => cmp(c, v).contains(0))) Some(true)
        else if (vs.exists(_ == null)) None // x IN (..., NULL): no match ⇒ NULL
        else Some(false)
      case IsNull(c)    => Some(value(c) == null)
      case IsNotNull(c) => Some(value(c) != null)
      case And(l, r) => (evalFilter(l, row, schema), evalFilter(r, row, schema)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(l, r) => (evalFilter(l, row, schema), evalFilter(r, row, schema)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case Not(x) => evalFilter(x, row, schema).map(!_)
      case StringStartsWith(c, p) => str(c).map(_.startsWith(p))
      case StringEndsWith(c, p)   => str(c).map(_.endsWith(p))
      case StringContains(c, p)   => str(c).map(_.contains(p))
      case AlwaysTrue()  => Some(true)
      case AlwaysFalse() => Some(false)
      case other => throw new IllegalArgumentException(
        s"DELETE predicate shape not supported: $other")
    }
  }

  /** Compare a long/int column value to a filter literal EXACTLY. A
    * fractional double literal never truncates: `n < 2.5` sees 2.5 sit
    * strictly between 2 and 3 (decimal-space compare), where a
    * `longValue()` cast would silently turn it into `n < 2` and mis-scope
    * a DELETE. A NaN literal follows Spark's total order (greater than
    * every long); a non-numeric literal throws (a delete must never
    * silently mis-scope). */
  private[sources] def compareLongLiteral(x: Long, v: Any): Option[Int] = v match {
    case d: java.lang.Double =>
      if (d.isNaN) Some(-1)
      else Some(java.math.BigDecimal.valueOf(x).compareTo(new java.math.BigDecimal(d.doubleValue())))
    case f: java.lang.Float =>
      if (f.isNaN) Some(-1)
      else Some(java.math.BigDecimal.valueOf(x).compareTo(new java.math.BigDecimal(f.doubleValue())))
    case b: java.math.BigDecimal => Some(java.math.BigDecimal.valueOf(x).compareTo(b))
    case b: scala.math.BigDecimal => Some(scala.math.BigDecimal(x).compare(b))
    case n: Number => Some(java.lang.Long.compare(x, n.longValue()))
    case other => throw new IllegalArgumentException(s"uncomparable literal $other")
  }

  /** Exact three-valued evaluation of a pushed filter against a file's
    * PROVEN partition values (identity-partitioned files: min == max, no
    * nulls ⇒ the value holds for EVERY row). Some(false) = prune the
    * file; Some(true) = every row satisfies the filter (the zone maps
    * need not re-check it); None = not decidable from partition values
    * alone — fall through to conservative zone-map evaluation. Strictly
    * sharper than range checks for set predicates: In/Not compare the
    * VALUE, not the [min,max] band. Kleene combinators keep And/Or/Not
    * sound under partial knowledge. */
  private[sources] def partitionFilterDecide(
      filter: org.apache.spark.sql.sources.Filter,
      values: Map[String, Any]): Option[Boolean] = {
    import org.apache.spark.sql.sources._
    def cmp(c: String, lit: Any): Option[Int] = values.get(c).flatMap {
      case x: Long => lit match {
        case n: Number => compareLongLiteral(x, n)
        case _ => None
      }
      case x: Int => lit match {
        case n: Number => compareLongLiteral(x.toLong, n)
        case _ => None
      }
      case x: UTF8String => lit match {
        case s2: String => Some(x.compareTo(UTF8String.fromString(s2)))
        case u: UTF8String => Some(x.compareTo(u))
        case _ => None
      }
      case _ => None
    }
    filter match {
      case EqualTo(c, v)            => cmp(c, v).map(_ == 0)
      case EqualNullSafe(c, null) if values.contains(c) => Some(false)
      case EqualNullSafe(c, v)      => cmp(c, v).map(_ == 0)
      case GreaterThan(c, v)        => cmp(c, v).map(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).map(_ >= 0)
      case LessThan(c, v)           => cmp(c, v).map(_ < 0)
      case LessThanOrEqual(c, v)    => cmp(c, v).map(_ <= 0)
      case In(c, vs) =>
        val ds = vs.toSeq.map(v => cmp(c, v))
        if (ds.exists(_.contains(0))) Some(true)
        else if (ds.forall(d => d.isDefined)) Some(false)
        else None
      case IsNull(c) if values.contains(c)    => Some(false) // proven non-null
      case IsNotNull(c) if values.contains(c) => Some(true)
      case Not(f0) => partitionFilterDecide(f0, values).map(!_)
      case And(l, r) =>
        (partitionFilterDecide(l, values), partitionFilterDecide(r, values)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true))            => Some(true)
          case _                                   => None
        }
      case Or(l, r) =>
        (partitionFilterDecide(l, values), partitionFilterDecide(r, values)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false))        => Some(false)
          case _                                 => None
        }
      case _ => None
    }
  }

  /** Bucket-field file pruning: hash equality is NECESSARY for value
    * equality, so a pushed equality REFUTES a file whose attested bucket
    * id differs from the literal's bucket — and that is the only
    * decision available (a matching bucket proves nothing; ranges hash
    * nowhere). Kleene: Some(false) = prune, None = fall through to zone
    * maps; never Some(true). `buckets` maps column → (declared n,
    * attested id); `types` maps column → declared type. */
  private[sources] def bucketFilterRefute(
      filter: org.apache.spark.sql.sources.Filter,
      buckets: Map[String, (Int, Int)],
      types: Map[String, DataType]): Option[Boolean] = {
    import org.apache.spark.sql.sources._
    def litBucket(c: String, lit: Any): Option[Int] =
      buckets.get(c).flatMap { case (n, _) =>
        types.get(c).flatMap { dt =>
          val canon: Option[Any] = (dt, lit) match {
            case (LongType, x: Number)    => Some(x.longValue())
            case (IntegerType, x: Number) => Some(x.intValue())
            case (StringType, s: String)  => Some(UTF8String.fromString(s))
            case (StringType, u: UTF8String) => Some(u)
            case _ => None
          }
          canon.map(v => bucketIdOf(dt, v, n))
        }
      }
    def refuted(c: String, lit: Any): Option[Boolean] =
      litBucket(c, lit).flatMap(b =>
        if (b != buckets(c)._2) Some(false) else None)
    filter match {
      case EqualTo(c, v)       => refuted(c, v)
      case EqualNullSafe(c, v) if v != null => refuted(c, v)
      // An attested bucket file holds no nulls of the field (null keys
      // are never attested), so IS NULL is refutable outright.
      case IsNull(c) if buckets.contains(c) => Some(false)
      case In(c, vs) if vs.nonEmpty =>
        val ds = vs.toSeq.map(v => refuted(c, v))
        if (ds.forall(_.contains(false))) Some(false) else None
      case And(l, r) =>
        (bucketFilterRefute(l, buckets, types),
          bucketFilterRefute(r, buckets, types)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case _ => None
        }
      case Or(l, r) =>
        (bucketFilterRefute(l, buckets, types),
          bucketFilterRefute(r, buckets, types)) match {
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case _ => None
    }
  }

  /** Data files opened by the mutation MATCH path while no task is
    * running — i.e. on the driver. The match scan is a Spark job (a task
    * per candidate file), so this stays 0: only candidate METADATA
    * (manifest entries, zone maps, deletion vectors) is handled
    * driver-side, and only the matched position summaries come back.
    * Test-visible so specs can assert the contract. */
  private[sources] val driverMatchFileReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The session that runs mutation match jobs. Mutations are table
    * operations; a live session is a precondition (the same one that
    * wrote the table). */
  private def activeSession: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "mutation match scan requires a SparkSession (deleteWhere/mergeUpsert/" +
          "replaceWhere run the match as a Spark job)"))

  private def matchSlices(n: Int): Int =
    math.max(1, math.min(n, activeSession.sparkContext.defaultParallelism))

  /** Candidate files for a mutation match scan — METADATA ONLY (no data
    * file is opened): the live snapshot's entries, zone-map-pruned by
    * `prune` (a file whose min/max refute it is never scanned),
    * evolution-validated, each paired with the DDL it was written under
    * and its already-deleted positions. Callers hold the commit lock. */
  private def matchCandidates(
      snap: Snapshot,
      prune: Option[org.apache.spark.sql.sources.Filter],
      schema: StructType): Seq[MatchCandidate] = {
    // One parse and one evolution check per distinct DDL, not per file.
    val ddlCache = scala.collection.mutable.Map.empty[String, StructType]
    snap.visible.flatMap { case (file, rows, e, ddl) =>
        val deleted = snap.dvs.getOrElse(file, Array.empty[Long])
        // A fully-retracted file has no live rows to match — skip it
        // BEFORE evolution validation, so a post-RTAS mutation doesn't
        // trip over the replaced generation's incompatible legacy DDL.
        if (deleted.length >= rows) None
        else {
          val fileSchema = ddlCache.getOrElseUpdate(ddl, {
            val fs = asNullable(StructType.fromDDL(ddl))
            validateEvolution(schema, fs, s"data file $file")
            fs
          })
          if (prune.exists(f => e.stats.exists(s => !mayMatch(f, s, fileSchema)))) None
          else Some(MatchCandidate(file, ddl, deleted, rows))
        }
      }
  }

  /** Does `f` hold for every row without reading one? True for
    * `AlwaysTrue` and any `And`/`Or` tree of them — the shape a DSv2
    * truncate folds to (`And(AlwaysTrue, AlwaysTrue)`), which is why the
    * test is structural rather than `== AlwaysTrue()`. */
  private[sources] def isAlwaysTrue(f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources.{AlwaysTrue, And, Or}
    f match {
      case AlwaysTrue() => true
      case And(l, r)    => isAlwaysTrue(l) && isAlwaysTrue(r)
      case Or(l, r)     => isAlwaysTrue(l) && isAlwaysTrue(r)
      case _            => false
    }
  }

  /** LIVE row positions matching `filter` per data file — the shared match
    * under [[deleteWhere]], [[replaceWhere]], INSERT OVERWRITE/TRUNCATE
    * ([[commitOverwrite]]) and RTAS ([[commitReplaceTable]]). An
    * always-true filter ([[isAlwaysTrue]]) is answered from METADATA
    * alone: each candidate's live positions are `[0, rows)` minus the
    * positions it already has deleted, so a full overwrite opens no old
    * data file and runs no job — the Delta-log "remove the whole file"
    * move. Any other filter takes the Delta/Iceberg match-scan shape: the
    * DRIVER handles metadata only (zone-map pruning of the candidate
    * list), a SPARK JOB scans the admitted files (one task per file,
    * predicate evaluated executor-side, evolution-reconciled, dead
    * positions skipped), and only the per-file matched position summaries
    * return — O(matched) driver traffic instead of O(table bytes). Both
    * paths share [[matchCandidates]]' evolution validation and its skip
    * of fully retracted files. Callers hold the commit lock. */
  private def matchPositions(
      snap: Snapshot,
      filter: org.apache.spark.sql.sources.Filter,
      schema: StructType): Seq[(String, Array[Long])] = {
    val cands = matchCandidates(snap, Some(filter), schema)
    if (cands.isEmpty) return Nil
    if (isAlwaysTrue(filter))
      return cands.map(c => c.file -> livePositions(c.rows, c.deleted)).sortBy(_._1)
    val abs = new File(snap.path).getAbsolutePath
    activeSession.sparkContext.parallelize(cands, matchSlices(cands.size))
      .flatMap(c => MatchScan.filterPositions(abs, c, schema, filter))
      .collect().toSeq.sortBy(_._1)
  }

  /** LIVE row positions whose `key` appears in the just-written (still
    * invisible) task files — [[mergeUpsert]]'s matched-key retraction as a
    * distributed SEMI-JOIN: one job reads the new files' keys, another
    * scans the zone-map-pruned candidates emitting (key, (file, pos)),
    * the join + per-file fold happen executor-side, and only the per-file
    * position summaries collect. No source key ever rides the driver, so
    * a 10⁷-key merge batch costs the driver nothing but the summaries.
    * Deriving keys from the COMMITTED task files (not by re-running the
    * source plan) also makes the retraction set exact for
    * non-deterministic sources — the keys retracted are exactly the keys
    * of the rows that were written. Candidate pruning uses the source
    * key's min/max accumulated by the writers' own zone-map stats. */
  private def matchPositionsByKey(
      spark: org.apache.spark.sql.SparkSession,
      snap: Snapshot,
      newFiles: Seq[String],
      key: String,
      schema: StructType,
      prune: Option[org.apache.spark.sql.sources.Filter]): Seq[(String, Array[Long])] = {
    val cands = matchCandidates(snap, prune, schema)
    if (cands.isEmpty) return Nil
    val sc = spark.sparkContext
    val abs = new File(snap.path).getAbsolutePath
    val srcKeys = sc.parallelize(newFiles, matchSlices(newFiles.size))
      .flatMap(f => MatchScan.fileKeys(abs, f, schema, key))
      .distinct()
      .map(k => (k, ()))
    sc.parallelize(cands, matchSlices(cands.size))
      .flatMap(c => MatchScan.liveKeyPositions(abs, c, schema, key))
      .join(srcKeys)
      .map { case (_, ((file, pos), _)) => (file, pos) }
      .groupByKey()
      .map { case (f, ps) => (f, ps.toArray.sorted) }
      .collect().toSeq.sortBy(_._1)
  }

  /** Publish one manifest carrying `dataLines` (already-rendered entry
    * lines) and deletion vectors (per file: sorted distinct positions,
    * written as runs), its seq claimed over `log` — the commit's one
    * listing. Callers hold the commit lock. */
  private def publishCommit(
      log: Snapshot,
      schemaText: String,
      dataLines: Seq[String],
      dvs: Seq[(String, Array[Long])],
      staged: Option[String] = None): Unit =
    writeManifest(log.path, ManifestMeta(claimSeq(log), Nil, staged = staged),
      schemaText +: (dataLines ++ dvs.map { case (f, ps) =>
        s"$DvMarker\t$f\t${ps.length}\t${encodeRuns(ps)}"
      }))

  /** Write a new uniquely-named manifest — header, then `rest` (DDL and
    * body) — via temp file and atomic rename: a reader never observes a
    * half-written manifest. */
  private def writeManifest(path: String, meta: ManifestMeta, rest: Seq[String]): Unit = {
    val name = s"manifest-${java.util.UUID.randomUUID().toString}"
    val tmp = Paths.get(path, s".$name.tmp")
    Files.write(tmp, (renderHeader(meta) +: rest).asJava,
      StandardCharsets.UTF_8, StandardOpenOption.CREATE_NEW)
    Files.move(tmp, Paths.get(path, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Header of a manifest that supersedes `ms` through the `folded` ledger
    * (transitively: the inputs' own folded names carry over), recording
    * the oldest and newest commits it absorbs — the streaming change feed
    * compares them against a consumer's resume offset: a fold entirely
    * at-or-behind the offset re-lists only consumed rows (skippable), one
    * entirely ahead lists only pending rows (readable), one straddling the
    * offset is unrecoverable. `seq` is the header's own seq; None takes
    * the newest absorbed seq (the fold keeps the range's position). */
  private def foldMeta(seq: Option[Long], ms: Seq[Manifest]): ManifestMeta = {
    val metas = ms.map(_.meta)
    val hi = (metas.map(_.seq) ++ metas.flatMap(_.foldedMaxSeq)).max
    ManifestMeta(seq.getOrElse(hi), ms.flatMap(m => m.name +: m.meta.folded).distinct,
      foldedMinSeq = Some((metas.map(_.seq) ++ metas.flatMap(_.foldedMinSeq)).min),
      foldedMaxSeq = Some(hi))
  }

  /** DELETE FROM table WHERE filter — merge-on-read. Scans only the files
    * the predicate can possibly touch (the same zone-map [[mayMatch]]
    * pruning the read path uses: a file whose min/max refute the filter is
    * never opened), streams each admitted file once, and publishes ONE
    * manifest of deletion vectors for the newly matched positions.
    * Already-deleted positions are skipped, so re-running the same delete
    * is a no-op (returns 0, publishes nothing). Returns the number of rows
    * newly deleted. The match scan is a SPARK JOB — one task per admitted
    * file, predicate evaluated executor-side, only position summaries
    * collected ([[matchPositions]]) — so the candidate byte volume never
    * funnels through the driver; a DELETE without WHERE (always true)
    * needs no scan at all and retracts from metadata. */
  def deleteWhere(
      path: String,
      filter: org.apache.spark.sql.sources.Filter): Long =
    deleteMatching(path, filter, staged = None)

  private def deleteMatching(
      path: String,
      filter: org.apache.spark.sql.sources.Filter,
      staged: Option[String]): Long = commitLock(path).synchronized {
    val snap = Snapshot(path)
    val schemaText = snap.ddl.getOrElse(return 0L)
    val newDvs = matchPositions(snap, filter, asNullable(StructType.fromDDL(schemaText)))
    if (newDvs.isEmpty) return 0L
    publishCommit(snap, schemaText, Nil, newDvs, staged)
    newDvs.map(_._2.length.toLong).sum
  }

  /** [[deleteWhere]] STAGED as a WAP commit: the deletion-vector
    * manifest carries `staged=<wapId>` — invisible to main-line
    * readers, visible through `VERSION AS OF 'wap:<id>'`, and published
    * or discarded with the rest of the transaction, which is what makes
    * a MULTI-TABLE retraction (corpus delete + each index table's
    * retraction) one atomic decision. UNLIKE a staged append, a staged
    * deletion vector names `(file, position)` pairs of the snapshot it
    * was computed against, so the publish-commutes-with-anything
    * argument in [[wapPublish]]'s doc does NOT extend to it: the CALLER
    * must keep the table quiescent between stage and publish (no
    * compact/purge/second delete) — the maintenance transactions hold
    * their base's monitor for the whole window, which is exactly that
    * guarantee. Returns the number of rows newly staged for deletion
    * (positions already deleted on the main line are skipped, so a
    * replayed delete stages nothing and the transaction can no-op). */
  def deleteWhereStaged(
      path: String,
      filter: org.apache.spark.sql.sources.Filter,
      wapId: String): Long =
    deleteMatching(path, filter, staged = Some(wapId))

  /** MERGE (upsert) by key, in ONE atomic commit: rows of `source` REPLACE
    * current table rows sharing their key, and new-key rows append — the
    * published manifest carries both the deletion vectors (retracting every
    * matched live row) and the new data files, so a reader sees the whole
    * upsert or none of it, and time travel to the pre-merge snapshot sees
    * the old rows. Returns (rowsRetracted, rowsInserted).
    *
    * Mechanics: source rows are written DISTRIBUTED (one task file per
    * partition, the sink's normal write mechanics, zone-map stats
    * included) while still invisible; the matched-row retraction is a
    * distributed SEMI-JOIN ([[matchPositionsByKey]]) between the keys read
    * back from those committed task files and the zone-map-pruned live
    * candidates — the source plan is never re-executed (a
    * non-deterministic source retracts exactly the keys it wrote) and no
    * key set rides the driver; candidate pruning uses the key min/max the
    * writers' own stats accumulated. One manifest commits both halves
    * under the commit lock, which also re-checks the snapshot DDL: files
    * were written under the schema read BEFORE the lock, so a concurrent
    * schema-evolving commit in the window makes the merge REFUSE (the
    * task files stay invisible; re-run) instead of publishing old-layout
    * files under new DDL. A crash before publish leaves only invisible
    * task files (readers resolve through manifests). Duplicate keys
    * WITHIN the source append as-is — dedup belongs to the caller; replay
    * idempotency belongs to the epoch-named streaming path. Downstream,
    * the weighted change feed emits the merge exactly as its z-set: −1
    * old images, +1 new rows, one commit window. */
  def mergeUpsert(
      path: String,
      source: org.apache.spark.sql.DataFrame,
      key: String): (Long, Long) = {
    val stored = storedSchema(path, None)
    val schema = stored.getOrElse(asNullable(source.schema))
    require(schema.fieldNames.sorted.sameElements(source.schema.fieldNames.sorted),
      s"merge source columns ${source.schema.fieldNames.mkString(",")} must match " +
        s"table columns ${schema.fieldNames.mkString(",")}")
    schema.fields.foreach { f =>
      val sf = source.schema.fields(source.schema.fieldIndex(f.name))
      require(sf.dataType == f.dataType,
        s"merge source column ${f.name} is ${sf.dataType.simpleString}, table has ${f.dataType.simpleString}")
    }
    require(schema.fieldNames.contains(key), s"unknown merge key $key")
    // Write the source rows distributed, still invisible (no manifest yet).
    val ordered = source.select(schema.fieldNames.map(source.col).toIndexedSeq: _*)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val messages: Array[WriterCommitMessage] =
      ordered.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          // Attempt-unique name (the task-file discipline): a retried
          // attempt can never clobber another attempt's file.
          val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
          val w = ManifestFileSink.taskWriter(path, schema, f"part-m$runId-$pid%05d-$attempt")
          it.foreach(w.write)
          Iterator(w.commit())
        }
      }.collect()
    val flat = flattenCommits(messages).toArray[WriterCommitMessage]
    val inserted = flat.collect { case CommittedFile(_, n, _) => n }.sum
    val dataLines = entryLines(flat)
    val newFiles = flat.collect { case CommittedFile(f, n, _) if n > 0 => f }.toSeq
    val prune = keyRangePrune(flat, key, schema)
    // Matched-key retraction + atomic publish, serialized with other commits.
    commitLock(path).synchronized {
      val snap = Snapshot(path)
      val schemaText = snap.ddl.getOrElse(asNullable(schema).toDDL)
      ensureSchemaUnchanged(path, "merge", schema, schemaText, snap.ddl.nonEmpty)
      val dvLines: Seq[(String, Array[Long])] =
        if (snap.ddl.isEmpty || newFiles.isEmpty) Nil
        else matchPositionsByKey(source.sparkSession, snap, newFiles, key, schema, prune)
      publishCommit(snap, schemaText, dataLines, dvLines)
      (dvLines.map(_._2.length.toLong).sum, inserted)
    }
  }

  /** The schema fence under [[mergeUpsert]]/[[replaceWhere]]: data files
    * were written (outside the lock) under `written`; publishing them
    * under a DIFFERENT snapshot DDL would register old-layout files that
    * readers then misalign. Refuse and let the caller re-run — the task
    * files stay invisible, exactly like [[optimizePinned]]'s
    * advanced-past-pin refusal. */
  private def ensureSchemaUnchanged(
      path: String, op: String, written: StructType,
      schemaText: String, tableExists: Boolean): Unit =
    if (tableExists && asNullable(StructType.fromDDL(schemaText)) != asNullable(written))
      throw new IllegalStateException(
        s"table $path schema evolved during $op: files were written under " +
          s"[${written.toDDL}] but the latest snapshot is [$schemaText]; " +
          s"$op discarded (task files stay invisible) — re-run against the new schema")

  /** Zone-map prune filter for the merge retraction scan: the source key's
    * global [min, max] folded from the commit messages' own writer stats —
    * a candidate file whose key range misses the band is never scanned.
    * None (no pruning) when any non-empty task file lacks key stats
    * (poisoned NaN column, long string bounds, pre-stats file). */
  private def keyRangePrune(
      messages: Array[WriterCommitMessage], key: String,
      schema: StructType): Option[org.apache.spark.sql.sources.Filter] = {
    val idx = schema.fieldIndex(key)
    val dt = schema.fields(idx).dataType
    val perFile = messages.collect { case CommittedFile(_, n, st) if n > 0 =>
      if (st.isEmpty) return None
      decodeStats(st).get(idx) match {
        case Some(s) if s.min.nonEmpty =>
          (Bound.decode(s.min, dt).getOrElse(return None),
            Bound.decode(s.max, dt).getOrElse(return None))
        case Some(s) if s.hasNull => null // all-null keys: no live match possible
        case _ => return None
      }
    }.filter(_ != null)
    if (perFile.isEmpty) return None
    val lo = perFile.map(_._1).reduce((a, b) => if (Bound.compare(a, b, dt) <= 0) a else b)
    val hi = perFile.map(_._2).reduce((a, b) => if (Bound.compare(a, b, dt) >= 0) a else b)
    // The Filter carries a String literal, not the decoded UTF8String.
    def literal(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case other => other
    }
    Some(org.apache.spark.sql.sources.And(
      org.apache.spark.sql.sources.GreaterThanOrEqual(key, literal(lo)),
      org.apache.spark.sql.sources.LessThanOrEqual(key, literal(hi))))
  }

  /** INSERT OVERWRITE WHERE (Delta's `replaceWhere`) — the atomic backfill
    * primitive: every live row matching `filter` is retracted and
    * `source`'s rows inserted, in ONE commit. The canonical use is
    * partition recompute ("replace March", "replace source=web"): the
    * filter scopes the retraction, so concurrent snapshots never observe
    * half a backfill, and time travel keeps the pre-backfill state. The
    * caller owns the contract that `source` rows actually satisfy
    * `filter` — this is not validated (Delta validates lazily too; rows
    * outside the scope would simply coexist with the originals).
    * Returns (rowsRetracted, rowsInserted). */
  def replaceWhere(
      path: String,
      filter: org.apache.spark.sql.sources.Filter,
      source: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val stored = storedSchema(path, None)
    val schema = stored.getOrElse(asNullable(source.schema))
    require(schema.fieldNames.sorted.sameElements(source.schema.fieldNames.sorted),
      s"replaceWhere source columns ${source.schema.fieldNames.mkString(",")} must " +
        s"match table columns ${schema.fieldNames.mkString(",")}")
    val ordered = source.select(schema.fieldNames.map(source.col).toIndexedSeq: _*)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val messages: Array[WriterCommitMessage] =
      ordered.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
          val w = ManifestFileSink.taskWriter(path, schema, f"part-r$runId-$pid%05d-$attempt")
          it.foreach(w.write)
          Iterator(w.commit())
        }
      }.collect()
    val flat = flattenCommits(messages).toArray[WriterCommitMessage]
    val inserted = flat.collect { case CommittedFile(_, n, _) => n }.sum
    val dataLines = entryLines(flat)
    commitLock(path).synchronized {
      val snap = Snapshot(path)
      val schemaText = snap.ddl.getOrElse(asNullable(schema).toDDL)
      ensureSchemaUnchanged(path, "replaceWhere", schema, schemaText, snap.ddl.nonEmpty)
      val dvLines =
        if (snap.ddl.isEmpty) Nil else matchPositions(snap, filter, schema)
      publishCommit(snap, schemaText, dataLines, dvLines)
      (dvLines.map(_._2.length.toLong).sum, inserted)
    }
  }

  /** OPTIMIZE: rewrite the table's LIVE rows as `numFiles` range-clustered
    * files on `clusterBy` — the small-file + stale-zone-map repair job.
    * Many small commits leave many small files whose per-file min/max
    * bands overlap (skipping decays); the clustered rewrite restores both
    * dimensions at once: fewer files, disjoint cluster-key ranges, FRESH
    * zone maps accumulated by the writers (including any deletes folded
    * in — vectors vanish). Distributed: `repartitionByRange` sorts and
    * splits on executors; the driver publishes one superseding manifest
    * through the same `folded` ledger as [[compact]]/[[applyDeletes]]
    * (crash-safe: rewritten files never double-read their originals, old
    * snapshots are retired — expire-snapshots). Returns the number of
    * files the rewrite produced. */
  def optimize(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      clusterBy: String,
      numFiles: Int = 8): Int =
    // Pin the snapshot the rewrite reads: the distributed job runs outside
    // the commit lock, so the fold below must cover EXACTLY these commits.
    latestManifest(path).fold(0)(pin =>
      optimizePinned(spark, path, clusterBy, numFiles, pin))

  /** Z-ORDER rewrite — the multi-dimensional sibling of [[optimize]]:
    * range clustering on ONE column gives that column tight per-file
    * zone maps and leaves every other filter column scattered; Z-order
    * interleaves the BITS of each column's quantile-bucket rank, so
    * files occupy small hyper-rectangles of the key space and zone maps
    * prune on EVERY clustered column (the Delta/Iceberg OPTIMIZE ZORDER
    * move). Per column, the rank buckets come from the deterministic
    * bottom-k boundary sample ([[graft.functions.BottomKSample]] — a
    * pure function of the data, 2^bits boundaries broadcast, bucket id
    * by map-side comparisons), so the layout is reproducible; the
    * interleave is unrolled shift/or arithmetic (codegen'd); ONE range
    * shuffle on the z-value + an in-partition sort land the rows.
    * ZOrderSpec proves the claim: after z-ordering on (a, b), point
    * filters on a AND on b BOTH prune files; range clustering on a
    * alone prunes only a. */
  def optimizeZOrder(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cols: Seq[String],
      numFiles: Int = 8,
      bits: Int = 8): Int = {
    require(cols.size >= 2 && cols.size <= 3, "Z-order takes 2 or 3 columns")
    require(bits >= 2 && bits <= 16, "bits per dimension in [2, 16]")
    latestManifest(path).fold(0)(pin =>
      optimizePinned(spark, path, cols.head, numFiles, pin,
        cluster = Some(df => zCluster(df, cols, bits, numFiles))))
  }

  /** LAYOUT MIGRATION: re-declare the partition spec and rewrite every
    * live row under it in one maintenance pass — the lifecycle door a
    * declared layout needs (a bare `setPartitionColumns` re-declare
    * leaves the old files unprovable: correct, but SPJ degrades until
    * something rewrites them). The new spec is declared FIRST so the
    * rewrite's [[taskWriter]] demuxes and attests under it; a crash
    * between declare and commit leaves the table correct-but-degraded
    * and the call is idempotent (retry rewrites the same snapshot).
    * Rows cluster by the new layout's key columns before the demux, so
    * the file count tracks the key-tuple count (identity) or the task ×
    * bucket grid (bucket fields — the demux backstop splits). Returns
    * the rewritten file count; same quiescence contract as
    * [[optimize]]. */
  def repartitionTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      specs: Seq[String],
      numFiles: Int = 8): Int = {
    require(specs.nonEmpty, "repartitionTable needs at least one partition field")
    val fields = specs.map(parsePartField)
    latestManifest(path) match {
      case None =>
        setPartitionColumns(path, specs); 0
      case Some(pin) =>
        setPartitionColumns(path, specs)
        optimizePinned(spark, path, fields.head.col, numFiles, pin,
          cluster = Some { df =>
            import org.apache.spark.sql.functions.{hash, lit, pmod}
            // Cluster by the LAYOUT key (bucket id for bucket fields —
            // pmod(hash, n) IS bucketIdOf, both are Spark's Murmur3 seed
            // 42 — raw value for identity), so one task owns each key
            // tuple and the demux yields ONE file per group; then sort
            // within tasks on the source columns so every rewritten file
            // re-earns its sort attestation — migration RESTORES the
            // zero-sort SPJ property instead of silently degrading it.
            val clusterKeys = fields.map {
              case ManifestFileSink.BucketPart(n, c) => pmod(hash(df.col(c)), lit(n))
              case f => df.col(f.col)
            }
            val srcCols = (fields.map(_.col) ++ sortColumns(path)).distinct
              .filter(df.schema.fieldNames.contains).map(df.col)
            df.repartition(numFiles, clusterKeys: _*)
              .sortWithinPartitions(srcCols: _*)
          })
    }
  }

  /** Cluster `df` by the interleaved z-value of per-column
    * quantile-bucket ranks; returns the original columns in order (the
    * rewrite writer renders rows positionally). */
  private def zCluster(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String], bits: Int,
      numFiles: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val buckets = 1 << bits
    val outCols = df.schema.fieldNames.toSeq
    val withBounds = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val lead = col(c).cast("double")
      val sk = df.agg(org.apache.spark.sql.functions
        .call_function("graft_bottomk", lead, lit(4096)).as("__smp"))
      val bounds = sk.select(
        when(size(col("__smp")) === 0, array().cast("array<double>"))
          .otherwise(array_distinct(transform(
            sequence(lit(1), lit(buckets - 1)),
            j => element_at(col("__smp"),
              greatest(lit(1), (j * size(col("__smp")) / buckets).cast("int"))))))
          .as(s"__bnds_$i"))
      d.crossJoin(broadcast(bounds))
    }
    // Rank of column i = count of its boundaries below the value
    // (boundary collisions just leave rank values unused); bit j of rank
    // i interleaves to z-bit j*ncols + i.
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      coalesce(size(filter(col(s"__bnds_$i"),
        b => b < col(c).cast("double"))), lit(0))
    }
    val z = (0 until bits).flatMap { j =>
      ranks.zipWithIndex.map { case (r, i) =>
        shiftleft(shiftright(r, j).bitwiseAND(lit(1)).cast("long"),
          j * cols.size + i)
      }
    }.reduce(_.bitwiseOR(_))
    withBounds.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .select(outCols.map(col): _*)
  }

  /** MAINTENANCE REWRITE of a whole table through `transform` — the
    * non-row-preserving sibling of [[repartitionTable]], for folds that
    * must NET rows, not just relocate them (e.g. summing a partials
    * table's per-segment rows into one row per key at compaction,
    * verdict-r17 Next #4). Same crash-safety as compact/optimize: the
    * pinned snapshot is read, the transformed rows write under new
    * names, and ONE combined manifest supersedes the whole prior chain
    * via the folded ledger — publish is the atomic point, a concurrent
    * commit past the pin refuses the rewrite, superseded files wait for
    * vacuum. `transform` must preserve the table's schema (names,
    * types, order); `clusterCols`, when given, demux the output so each
    * key tuple owns one file. Returns the rewritten entry count. */
  def rewriteTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      clusterCols: Seq[String] = Nil,
      numFiles: Int = 8): Int =
    latestManifest(path) match {
      case None => 0
      case Some(pin) =>
        optimizePinned(spark, path, clusterCols.headOption.getOrElse(""),
          numFiles, pin, cluster = Some { df =>
            val t = transform(df)
            if (clusterCols.isEmpty) t.coalesce(numFiles)
            else t.repartition(numFiles, clusterCols.map(t.col): _*)
              .sortWithinPartitions(clusterCols.map(t.col): _*)
          })
    }

  private[sources] def optimizePinned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      clusterBy: String,
      numFiles: Int,
      pin: String,
      cluster: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] = None): Int = {
    val fmtName = classOf[ManifestFileSink].getName
    val current = spark.read.format(fmtName).option("path", path)
      .option("asOfManifest", pin).load()
    val schema = asNullable(current.schema)
    if (schema.isEmpty) return 0
    val clustered = cluster.fold(
      current.repartitionByRange(numFiles, current.col(clusterBy)))(f =>
      f(current))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val messages: Array[WriterCommitMessage] =
      clustered.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
          val w = ManifestFileSink.taskWriter(path, schema, f"part-o$runId-$pid%05d-$attempt")
          it.foreach(w.write)
          Iterator(w.commit())
        }
      }.collect()
    val dataLines = entryLines(messages)
    commitLock(path).synchronized {
      // The rewrite read the pinned snapshot; a commit that landed since
      // would be silently swallowed by the fold (an append's rows dropped,
      // a delete resurrected). Refuse and let the caller retry — the
      // maintenance job owns quiescence, the same contract as compacting
      // around live streams. The rewrite's task files stay orphaned and
      // invisible (readers resolve through manifests).
      val log = Snapshot.headers(path)
      val ms = log.published
      if (ms.lastOption.exists(_.name != pin))
        throw new IllegalStateException(
          s"table $path advanced past snapshot $pin during optimize: " +
            "rewrite discarded; quiesce writers (or retry) and run again")
      writeManifest(path, foldMeta(Some(claimSeq(log)), ms), schema.toDDL +: dataLines)
      ms.foreach(m => Files.deleteIfExists(m.file.toPath))
      // Superseded data files stay on disk for [[vacuum]] to reclaim
      // after retention: an in-flight scan planned against the prior
      // snapshot holds their names and must finish reading them — the
      // Delta/Iceberg reason physical deletion is deferred.
      dataLines.length
    }
  }

  // ------------------------------------ write-audit-publish (staged commits)

  /** PUBLISH a WAP stage (the Iceberg `wap.id` → cherrypick flow): every
    * staged manifest of `id` is rewritten onto the main line with a
    * fresh commit seq and the staged marker removed, in stage order.
    * Sound regardless of how far main has advanced since staging: only
    * the APPEND write path can stage (the write builder refuses the
    * option elsewhere), so a staged commit is pure new files — no
    * deletion vectors, no overwrites — and cherry-picking appends
    * commutes with every intervening commit (schema drift reconciles by
    * the normal evolution rules). Idempotent across crash windows: each
    * published manifest records its staged source in the `folded`
    * ledger, so a retry that finds the source already folded just
    * removes the leftover instead of double-publishing its entries.
    * Returns the number of commits published. */
  def wapPublish(path: String, id: String): Int = commitLock(path).synchronized {
    val log = Snapshot.headers(path)
    val st = log.staged(id)
    if (st.isEmpty) throw new IllegalArgumentException(
      s"no staged commits under WAP id '$id'; staged ids: ${log.stagedIds.mkString(", ")}")
    st.foreach { m =>
      if (!log.folded.contains(m.name)) {
        // Staged DELETION VECTORS name (file, position) pairs of the
        // snapshot they were computed against — unlike staged appends
        // they do NOT commute with intervening commits (advice-r17).
        // Validate at publish time that every target file is still
        // live: a compact/purge that superseded a target between stage
        // and publish would make the vector silently mask the wrong
        // rows (or none), so refuse loudly instead — the caller's
        // quiescence contract was broken and the transaction must
        // abort, not corrupt. Checked against a fresh listing, so a
        // compact/purge by another driver since this call began is seen.
        val targets = m.dvs.map(_._1)
        if (targets.nonEmpty) {
          val live = Snapshot(path).published.flatMap(_.entries.map(_.file)).toSet
          val dead = targets.filterNot(live.contains)
          if (dead.nonEmpty) throw new IllegalStateException(
            s"staged deletion vectors of WAP id '$id' on $path target " +
              s"${dead.size} file(s) no longer live (superseded by a " +
              s"compact/purge between stage and publish): ${dead.take(3).mkString(", ")}")
        }
        writeManifest(path, ManifestMeta(claimSeq(log), Seq(m.name)), m.ddl +: m.body)
      }
      Files.deleteIfExists(m.file.toPath)
    }
    st.size
  }

  /** ROLL-FORWARD recovery for MULTI-TABLE WAP transactions that died
    * mid-publish. Contract: the transaction stages and publishes its
    * tables in the SAME order, head table first. A wap id still staged
    * on a LATER table while the head table holds no stage for it can
    * only mean the publish loop started (the head's stage was consumed
    * by [[wapPublish]]) and crashed — the commit decision was already
    * taken and per-table publishes are irreversible, so the correct
    * recovery is to FINISH the publish, never to discard the surviving
    * half (which would tear the transaction's atomicity the other way).
    * Publishes each such id's surviving stages in table order and
    * returns the completed ids; the CALLER re-derives any post-publish
    * state (norms refolds, fence advances). Ids still staged on the
    * head table are untouched: that is a mid-STAGE crash, and the
    * per-epoch discard-then-retry path owns it. */
  def wapRollForward(tables: Seq[String]): Seq[String] = {
    val staged = tables.map(p => p -> Snapshot.headers(p).stagedIds.toSet)
    val headIds = staged.head._2
    val torn = staged.tail.flatMap(_._2).distinct
      .filterNot(headIds.contains).sorted
    for (id <- torn; (p, ids) <- staged; if ids.contains(id))
      wapPublish(p, id)
    torn
  }

  /** DISCARD a WAP stage: delete its staged manifests and any data file
    * they alone reference (a file also named by another manifest —
    * impossible for append task files, but checked — is spared). The
    * audit said no; nothing of the stage survives. */
  def wapDiscard(path: String, id: String): Int = commitLock(path).synchronized {
    val log = Snapshot(path)
    val st = log.staged(id)
    if (st.isEmpty) throw new IllegalArgumentException(
      s"no staged commits under WAP id '$id'; staged ids: ${log.stagedIds.mkString(", ")}")
    val stNames = st.map(_.name).toSet
    val others = log.all.filterNot(m => stNames.contains(m.name))
      .flatMap(_.entries).map(_.file).toSet
    st.flatMap(_.entries).map(_.file).distinct
      .filterNot(others.contains)
      .foreach(f => Files.deleteIfExists(Paths.get(path, "data", f)))
    st.foreach(m => Files.deleteIfExists(m.file.toPath))
    st.size
  }

  /** Any staged commits under `id`? The abort/recovery paths branch on
    * this without paying [[wapDiscard]]'s exception on a clean table. */
  def hasStage(path: String, id: String): Boolean =
    Snapshot.headers(path).staged(id).nonEmpty

  /** ABORT a multi-table WAP transaction (advice-r17 medium + low —
    * the one correct way to unwind, shared by every maintenance verb):
    *
    *   - if the HEAD table's stage was already consumed while a later
    *     table still holds one, the publish loop started — the commit
    *     decision was taken and per-table publishes are irreversible,
    *     so FINISH the publish ([[wapRollForward]]'s own contract:
    *     never discard the surviving half). The caller still sees its
    *     original failure; the roll-forward (here or in the next
    *     recovery pass) owns completion.
    *   - otherwise discard in REVERSE table order: an abort interrupted
    *     mid-loop then always leaves the head still staged, which reads
    *     as a mid-STAGE crash (discard-then-retry territory) — never as
    *     the head-consumed signature [[wapRollForward]] would wrongly
    *     publish (the audit-FAILED-transaction corruption advice-r17
    *     names).
    *
    * Per-table failures are swallowed: abort runs on the failure path
    * and must make progress past a table whose stage is already gone. */
  def wapAbort(tables: Seq[String], id: String): Unit = {
    val headConsumed = !hasStage(tables.head, id) &&
      tables.tail.exists(hasStage(_, id))
    if (headConsumed)
      try { wapRollForward(tables); () } catch { case _: Throwable => () }
    else tables.reverse.foreach { p =>
      try { if (hasStage(p, id)) wapDiscard(p, id); () }
      catch { case _: Throwable => () }
    }
  }

  /** VACUUM: delete data files no manifest references — the leftovers of
    * aborted jobs, refused optimizes, and crash windows (all INVISIBLE to
    * readers, which resolve through manifests only; this reclaims their
    * bytes). The reference set is every entry of every manifest ON DISK —
    * including superseded ones (a crashed compact's inputs still name
    * live files). `olderThanMs` is the retention fence: a file younger
    * than it is spared because it may belong to a RUNNING job whose
    * commit message hasn't published yet — the same reason Delta's vacuum
    * defaults to 7 days. Returns the number of files deleted. */
  def vacuum(path: String, olderThanMs: Long = 7L * 24 * 3600 * 1000): Int =
    commitLock(path).synchronized {
      val log = Snapshot(path)
      pruneClaims(log) // retired seq-claim markers ride along
      val dataDir = new File(path, "data")
      if (!dataDir.isDirectory) return 0
      val referenced = log.all.flatMap(_.entries).map(_.file).toSet
      val cutoff = System.currentTimeMillis() - olderThanMs
      val orphans = dataDir.listFiles().filter(f =>
        f.isFile && !referenced.contains(f.getName) && f.lastModified() < cutoff)
      orphans.foreach(f => Files.deleteIfExists(f.toPath))
      orphans.length
    }

  /** Copy-on-write purge: fold every visible deletion vector into its data
    * file — each touched file is streamed once into a `purge-*`
    * replacement with the dead rows dropped, a fully-deleted file is
    * dropped outright, and ONE combined manifest (data entries only, no
    * vectors) supersedes the whole history via the same `folded` ledger
    * [[compact]] uses. Zone-map stats carry over unchanged: bounds can
    * only widen relative to the surviving rows, which is conservative —
    * skipping stays sound, it just prunes a little less until the file is
    * next rewritten. Crash-safe like compact: the combined manifest
    * publishes atomically FIRST; if the input deletes never happen, the
    * supersede rule in [[Snapshot.published]] hides them (rewritten files
    * must never double-read against their originals); orphaned originals
    * are invisible because reads resolve through manifests only. Returns
    * the number of files rewritten or dropped (0 = no vectors visible).
    * The purge retires all prior snapshots (expire-snapshots), exactly as
    * compact does. */
  def applyDeletes(path: String): Int = commitLock(path).synchronized {
    val snap = Snapshot(path)
    val ms = snap.manifests
    val dvs = snap.dvs
    if (dvs.isEmpty) return 0
    val schemas = ms.map(_.ddl).distinct
    if (schemas.size > 1)
      throw new IllegalStateException(
        s"refusing to purge $path: ${schemas.size} distinct schemas across " +
          "manifests; older entries would reparse under the newest DDL — " +
          "run migrateSchema(path) first")
    val entryLines = ms.flatMap(_.body)
      .filterNot(_.startsWith(DvPrefix)).distinct
      .distinctBy(_.split("\t")(0))
    val replaced = scala.collection.mutable.ArrayBuffer.empty[String]
    val outLines = entryLines.flatMap { line =>
      val parts = line.split("\t")
      val (file, rows) = (parts(0), parts(1).toLong)
      dvs.get(file) match {
        case None => Some(line)
        case Some(del) =>
          replaced += file
          if (del.length >= rows) None // fully deleted: no replacement
          else {
            val newName = s"purge-${java.util.UUID.randomUUID().toString}"
            val in = Files.newBufferedReader(
              Paths.get(path, "data", file), StandardCharsets.UTF_8)
            val out = Files.newBufferedWriter(
              Paths.get(path, "data", newName), StandardCharsets.UTF_8,
              StandardOpenOption.CREATE_NEW)
            var kept = 0L
            try {
              var idx = 0L
              var di = 0
              var l = in.readLine()
              while (l != null) {
                if (di < del.length && del(di) == idx) di += 1
                else { out.write(l); out.write("\n"); kept += 1 }
                idx += 1
                l = in.readLine()
              }
            } finally { in.close(); out.close() }
            Some((Seq(newName, kept.toString) ++ parts.drop(2)).mkString("\t"))
          }
      }
    }
    writeManifest(path, foldMeta(Some(claimSeq(snap)), ms), schemas.head +: outLines)
    ms.foreach(m => Files.deleteIfExists(m.file.toPath))
    // Replaced originals stay for [[vacuum]] (in-flight scans may still
    // hold their names); they are unreferenced by any manifest now.
    replaced.size
  }

  // ------------------------------------------------------------ zone maps

  /** Per-column file statistics for data skipping: min/max over the
    * column's NON-null values (as the same text the TSV data encoding
    * uses — parse back under the column's type for exact comparison) plus
    * a null-presence bit. `min`/`max` empty ⇔ the column had no non-null
    * values in the file (then an equality/range predicate can never match
    * it, but IS NULL can) — UNLESS `rangeless` is set, which means "this
    * entry makes no range claim at all" (it exists only to carry a Bloom
    * filter for a column whose bounds were too long to record).
    *
    * `bloom` is an optional per-file BLOOM FILTER over the column's
    * non-null values ([[BloomBits]] bits, [[BloomK]] double-hashed probes)
    * — the point-lookup index zone maps cannot provide: a high-cardinality
    * key scattered across the keyspace makes every file's [min,max] admit
    * every probe, while its Bloom refutes all but the true file(s) plus an
    * ~(k·n/m)^k false-positive sliver. Used for EqualTo/In only (including
    * the runtime join-key IN filters), never ranges; absence = no claim. */
  private[sources] final case class ColStats(
      min: String, max: String, hasNull: Boolean,
      bloom: Option[Array[Long]] = None, rangeless: Boolean = false)

  /** Encoding: `idx=min,max,nullBit[,bloomB64]` joined by `|`. Numeric
    * bounds are plain text; STRING bounds are percent-escaped (the
    * structural chars `%|,=\t\n\r` become %XX) so any recorded value
    * survives the line format. String stats are recorded only when both
    * bounds are ≤ 24 bytes and the min is non-empty — long bounds would
    * bloat the manifest for text columns that never prune, and an
    * empty-string min is indistinguishable from the "no non-null values"
    * sentinel (no claim is always safe). Booleans carry no stats (ranges
    * prune nothing useful). A rangeless entry renders its bounds as the
    * bare marker `%` — unambiguous because a REAL `%` always escapes to
    * `%25`. The Bloom bitset rides as URL-safe unpadded base64 (alphabet
    * disjoint from every structural char). Entries decoded from pre-Bloom
    * manifests simply have no 4th part — `bloom = None`, no claim. */
  private[sources] def encodeStats(stats: Map[Int, ColStats]): String =
    stats.toSeq.sortBy(_._1).map { case (i, s) =>
      val mn = if (s.rangeless) "%" else escapeStat(s.min)
      val mx = if (s.rangeless) "%" else escapeStat(s.max)
      val base = s"$i=$mn,$mx,${if (s.hasNull) 1 else 0}"
      s.bloom.fold(base)(b => base + "," + encodeBloom(b))
    }.mkString("|")

  private[sources] def decodeStats(s: String): Map[Int, ColStats] =
    s.split("\\|").iterator.map { part =>
      val eq = part.indexOf('=')
      val ps = part.substring(eq + 1).split(",", -1)
      val rangeless = ps(0) == "%"
      part.substring(0, eq).toInt -> ColStats(
        if (rangeless) "" else unescapeStat(ps(0)),
        if (rangeless) "" else unescapeStat(ps(1)),
        ps(2) == "1",
        if (ps.length > 3 && ps(3).nonEmpty) Some(decodeBloom(ps(3))) else None,
        rangeless)
    }.toMap

  /** The one reader of zone-map bounds: a bound's text as a typed
    * Catalyst value under its column's type, and the order such values
    * compare in — Long/Int as integers, Double by `Double.compare`,
    * String as UTF8String bytes (the order the writers accumulated the
    * bounds in and Spark compares strings in; UTF-16 order disagrees on
    * supplementary characters). Text that does not parse under the type,
    * or a type without ordered bounds, decodes to None: no claim, exactly
    * as if the bound were missing. */
  private[sources] object Bound {
    def orderable(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | DoubleType | StringType => true
      case _ => false
    }

    def decode(text: String, dt: DataType): Option[Any] = dt match {
      case LongType    => text.toLongOption
      case IntegerType => text.toIntOption
      case DoubleType  => text.toDoubleOption
      case StringType  => Some(UTF8String.fromString(text))
      case _           => None
    }

    /** Only for two values [[decode]]d under the same `dt`. */
    def compare(a: Any, b: Any, dt: DataType): Int = dt match {
      case LongType    => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case IntegerType => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case DoubleType  => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case _           => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    }
  }

  // ---------------------------------------------------- bloom file index

  /** Bloom geometry: 1024 bits / 4 probes per column per file. At the
    * sink's file sizes (10^4–10^5 rows, but n DISTINCT keys per file is
    * what matters and clustered tables keep it far lower) this is a
    * metadata cost of 171 base64 chars per indexed column per file —
    * against which a single refuted file saves a full file scan. The
    * geometry is a write-time choice embedded in each bitset's length, so
    * tables can mix sizes across commits; [[bloomIndices]] derives the
    * mask from the decoded array length. */
  private[sources] val BloomBits = 1024
  private[sources] val BloomK = 4

  /** Columns of a table designated for Bloom indexing — persisted in a
    * `_bloom` control file (comma-joined names) so the path API, the SQL
    * catalog, and every maintenance writer agree without threading
    * options. Missing file = no indexing (the default: blooms cost
    * manifest bytes and only help point lookups on high-cardinality
    * columns, which is a call the table owner makes, as with
    * Delta's per-column bloom properties). */
  def setBloomIndex(path: String, cols: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, "._bloom.tmp")
    Files.write(tmp, java.util.Collections.singletonList(cols.mkString(",")),
      StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(path, "_bloom"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def bloomColumns(path: String): Set[String] = {
    val f = Paths.get(path, "_bloom")
    if (!Files.exists(f)) Set.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  // --------------------------------------------- declared sort (_sort)

  /** Declare the table's WITHIN-FILE sort order (an ORDERED list — the
    * Iceberg `write.sort-order` idea): writes request a task-local sort
    * on (partition source columns ++ these), every demuxed file verifies
    * and attests the full list, and the scan's `SupportsReportOrdering`
    * then covers the secondary columns too — a window PARTITION BY the
    * partition key ORDER BY a sort column runs with NO exchange and NO
    * sort on a fresh layout. Declared via this path API or
    * `TBLPROPERTIES ('sort.columns' = 'ts')`. */
  def setSortColumns(path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.distinct.size == cols.size,
      s"sort columns must be non-empty and distinct: $cols")
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, "._sort.tmp")
    Files.write(tmp, java.util.Collections.singletonList(cols.mkString(",")),
      StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(path, "_sort"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def sortColumns(path: String): Seq[String] = {
    val f = Paths.get(path, "_sort")
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
  }

  /** Schema indexes the writer verifies monotonicity on: partition
    * source columns first (the SPJ join keys), then the declared sort
    * columns — restricted to columns present in the write schema and to
    * the verifiable types. */
  private[sources] def writeSortIdx(path: String, schema: StructType): Seq[Int] =
    (partitionFields(path).map(_.col) ++ sortColumns(path)).distinct
      .flatMap(c => Some(schema.fieldNames.indexOf(c)).filter(_ >= 0))
      .filter(i => schema.fields(i).dataType match {
        case LongType | IntegerType | StringType => true
        case _ => false
      })

  // --------------------------------------------- CHECK constraints (_check)

  /** A write-time CHECK constraint, resolved and bound on the DRIVER at
    * write planning: `violation` is the schema-bound Catalyst predicate
    * that is TRUE exactly when a row fails the constraint
    * (`check <=> false` — SQL CHECK semantics pass on NULL/UNKNOWN).
    * Executors compile it once per task ([[CheckEval]]) and evaluate it
    * per row inside the existing write loop — codegen'd, no extra pass,
    * no shuffle, and a violating row fails the TASK, so the atomic
    * manifest commit never publishes a partial batch. */
  private[sources] case class CheckSpec(name: String, sql: String,
      violation: org.apache.spark.sql.catalyst.expressions.Expression)

  /** Declare the table's CHECK constraints (name → SQL predicate) —
    * the Delta `ALTER TABLE … ADD CONSTRAINT` idea, stored like every
    * other table-level declaration as a control file. */
  def setCheckConstraints(path: String, cs: Seq[(String, String)]): Unit = {
    require(cs.forall { case (n, s) =>
      n.nonEmpty && !n.exists(c => c == '\t' || c == '\n') && s.nonEmpty &&
        !s.exists(_ == '\n') },
      s"constraint names must be tab/newline-free, predicates newline-free: $cs")
    require(cs.map(_._1).distinct.size == cs.size, s"duplicate constraint name: $cs")
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, "._check.tmp")
    Files.write(tmp, cs.map { case (n, s) => s"$n\t$s" }.asJava, StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(path, "_check"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def checkConstraints(path: String): Seq[(String, String)] = {
    val f = Paths.get(path, "_check")
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.contains('\t'))
      .map { l => val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1)) }
  }

  /** Resolve one CHECK predicate against a WRITE schema and return the
    * bound violation expression. Columns the TABLE knows but this write
    * omits (by-name evolution append) substitute as typed NULL — that IS
    * the stored value, and SQL CHECK passes on UNKNOWN, so an evolved
    * append is neither refused nor mis-enforced. Refuses non-boolean,
    * non-deterministic, subquery-bearing, or unresolvable predicates. */
  private[sources] def resolveCheck(
      tableSchema: Option[StructType],
      writeSchema: StructType,
      name: String,
      sqlText: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
    val spark = org.apache.spark.sql.SparkSession.active
    val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
    val subst = parsed.transform {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if ua.nameParts.length == 1 &&
            !writeSchema.fieldNames.exists(_.equalsIgnoreCase(ua.nameParts.head)) =>
        tableSchema.flatMap(_.fields.find(_.name.equalsIgnoreCase(ua.nameParts.head)))
          .map(f => Literal(null, f.dataType))
          .getOrElse(ua)
    }
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(writeSchema)
    val analyzed = spark.sessionState.analyzer.execute(LFilter(subst, LocalRelation(attrs)))
    val cond = analyzed match {
      case LFilter(c, _) if c.resolved => c
      case _ => throw new IllegalArgumentException(
        s"CHECK constraint '$name' does not resolve against the write schema " +
          s"${writeSchema.fieldNames.mkString("(", ", ", ")")}: $sqlText")
    }
    require(cond.dataType == BooleanType,
      s"CHECK constraint '$name' must be BOOLEAN, got ${cond.dataType.simpleString}: $sqlText")
    require(cond.deterministic,
      s"CHECK constraint '$name' must be deterministic: $sqlText")
    require(!cond.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
      s"CHECK constraint '$name' must not contain subqueries: $sqlText")
    EqualNullSafe(BindReferences.bindReference(cond, AttributeSeq(attrs)), Literal(false))
  }

  /** Driver-side: every declared constraint, resolved and bound against
    * this write's schema. Called once per write planning, never per row. */
  private[sources] def boundChecks(path: String, writeSchema: StructType): Seq[CheckSpec] = {
    val cs = checkConstraints(path)
    if (cs.isEmpty) Nil
    else {
      val ts = storedSchema(path, None)
      cs.map { case (n, s) => CheckSpec(n, s, resolveCheck(ts, writeSchema, n, s)) }
    }
  }

  // ------------------------------------------------- snapshot tags (_tags)

  /** Named snapshots (the Iceberg TAG idea): a tag pins a manifest name
    * under a human name, and `VERSION AS OF '<tag>'` reads that snapshot
    * forever — release cuts, audit pins, the "the model trained on THIS"
    * reference. Tags are metadata-only (one control-file line); they do
    * not block maintenance — compaction may retire a tagged snapshot's
    * manifest, and reading the tag then fails with the manifest layer's
    * explicit expire-snapshots error, never an empty or wrong answer.
    * Tag names must not be all-digits (that space belongs to seq
    * numbers) and must be tab/newline-free. */
  def setTag(path: String, name: String, manifest: String): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit) &&
      !name.exists(c => c == '\t' || c == '\n'),
      s"tag name must be non-numeric and tab/newline-free: '$name'")
    writeTags(path, tags(path).filterNot(_._1 == name) :+ (name, manifest))
  }

  /** Removes the tag; true if it existed. The pinned snapshot itself is
    * untouched. */
  def removeTag(path: String, name: String): Boolean = {
    val cur = tags(path)
    val kept = cur.filterNot(_._1 == name)
    if (kept.size != cur.size) { writeTags(path, kept); true } else false
  }

  def tags(path: String): Seq[(String, String)] = {
    val f = Paths.get(path, "_tags")
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.contains('\t'))
      .map { l => val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1)) }
  }

  private def writeTags(path: String, ts: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, "._tags.tmp")
    Files.write(tmp, ts.map { case (n, m) => s"$n\t$m" }.asJava, StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(path, "_tags"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ------------------------------------------- trigram text index (_trgm)

  /** TEXT columns designated for per-file TRIGRAM Bloom indexing (the
    * pg_trgm move, per file instead of per row): the writer folds every
    * 3-BYTE window of each value into a [[TrgmBloomBits]]-bit Bloom, and
    * a pushed `contains`/`startsWith`/`endsWith` probe prunes any file
    * whose bloom misses ANY trigram of the needle — SOUND because a
    * substring match implies every one of the needle's byte-trigrams
    * occurs in the value. Byte-level (UTF-8) windows make writer and
    * pruner trivially consistent and keep multi-byte characters sound
    * (their bytes just form more windows). Needles shorter than 3 bytes
    * answer true (no claim). The bitset is sized for TEXT (a document's
    * distinct-trigram count runs to thousands — the 1 KiB equality
    * geometry would saturate); it rides the ordinary stats map under the
    * reserved pseudo-index `-(colIdx+2)` as a rangeless bloom carrier,
    * so every manifest path (encode/decode/compact/optimize rewrite)
    * handles it with zero new format. */
  def setTrigramIndex(path: String, cols: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, "._trgm.tmp")
    Files.write(tmp, java.util.Collections.singletonList(cols.mkString(",")),
      StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(path, "_trgm"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def trigramColumns(path: String): Set[String] = {
    val f = Paths.get(path, "_trgm")
    if (!Files.exists(f)) Set.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  // Sized for TEXT: a file's corpus easily holds ~10k distinct byte
  // trigrams; 64 Kibit keeps the false-positive rate a few percent there
  // (the 1 KiB equality geometry would saturate to all-ones). 1.4 KB of
  // base64 per file per indexed column — the price of a text index.
  private[sources] val TrgmBloomBits = 65536

  /** Stats-map key carrying column i's trigram bloom (−1 is the
    * partition attestation; real columns are ≥ 0). */
  private[sources] def trgmStatsIdx(colIdx: Int): Int = -(colIdx + 2)

  private[sources] def trgmHash(b: Array[Byte], off: Int): Long =
    bloomHashLong(((b(off) & 0xffL) << 16) | ((b(off + 1) & 0xffL) << 8) |
      (b(off + 2) & 0xffL))

  // ----------------------------------------- identity partitioning (SPJ)

  /** Identity-partition column of a table — persisted in a `_partition`
    * control file (the `_bloom` discipline) so the SQL catalog, the path
    * API, and every writer agree without threading options. A partitioned
    * table's batch writers demultiplex rows so each data file holds
    * EXACTLY ONE value of this column; the scan then derives each file's
    * partition value from the zone maps the manifest already records
    * (min == max for a single-valued file — no new metadata format) and
    * reports a DSv2 `KeyGroupedPartitioning`, which is what lets Spark
    * plan a STORAGE-PARTITIONED JOIN: two tables partitioned on the join
    * key join with NO exchange on either side. Restricted to
    * long/int/string columns (the zone-map value types; identity
    * partitioning on doubles is not a sane layout). */
  /** One declared partition field: `identity(col)` (one file per value,
    * proven back from zone maps) or `bucket(n, col)` (one file per
    * deterministic hash bucket, attested by the writer — the Iceberg
    * bucket-transform layout, which keeps storage-partitioned joins
    * exchange-free on HIGH-cardinality keys where identity demux would
    * explode the file count). `_partition` line encoding: `col` for
    * identity, `bucket:<n>:<col>` for bucket. */
  sealed trait PartField {
    def col: String
    def spec: String
  }
  final case class IdentityPart(col: String) extends PartField {
    def spec: String = col
  }
  final case class BucketPart(n: Int, col: String) extends PartField {
    def spec: String = s"bucket:$n:$col"
  }

  private[sources] def parsePartField(line: String): PartField =
    if (line.startsWith("bucket:")) {
      val rest = line.stripPrefix("bucket:")
      val i = rest.indexOf(':')
      require(i > 0, s"malformed bucket partition spec: $line")
      val n = rest.substring(0, i).toInt
      require(n > 0, s"bucket count must be positive: $line")
      BucketPart(n, rest.substring(i + 1))
    } else IdentityPart(line)

  private[sources] def partitionFields(path: String): Seq[PartField] =
    partitionColumns(path).map(parsePartField)

  /** Deterministic bucket id for the bucket transform — Spark's own
    * Murmur3 (seed 42, the `hash()` function's) over the value's
    * canonical bytes, pmod the bucket count. Writer demux and the V2
    * `bucket` function ([[graft.sources.GraftBucketFunction]]) both call
    * this, so the attested file buckets and the catalog's function
    * semantics can never diverge. */
  private[sources] def bucketIdOf(dt: DataType, value: Any, n: Int): Int = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    val h = dt match {
      case LongType    => Murmur3_x86_32.hashLong(value.asInstanceOf[Long], 42)
      case IntegerType => Murmur3_x86_32.hashInt(value.asInstanceOf[Int], 42)
      case StringType =>
        val s = value.asInstanceOf[UTF8String]
        Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42)
      case other => throw new IllegalArgumentException(
        s"unsupported bucket column type $other")
    }
    ((h % n) + n) % n
  }

  /** Reserved pseudo-column index carrying the writer's PARTITION-KEY
    * ATTESTATION inside the ordinary per-file stats map: bucket ids are
    * not derivable from zone maps (hashes scatter), so the demux writer
    * records `spec=id` tokens for its bucket fields as a stats entry at
    * index −1 (min == max == the token string). Real column indices are
    * ≥ 0, so every existing stats consumer is oblivious; a file without
    * the attestation (pre-bucket layouts, compaction rewrites) simply
    * proves nothing and the scan degrades to unpartitioned — never
    * wrong. A spec token that no longer matches the CURRENT declared
    * spec (bucket count changed) is likewise no proof. */
  private[sources] val PartKeyStatsIdx: Int = -1

  /** Reserved pseudo-column index carrying the writer's SORT ATTESTATION:
    * min == max == the comma-joined partition SOURCE column names the
    * file's rows were verified (row by row, at write time) to be
    * non-decreasing on, nulls first — Spark's default ascending order.
    * The scan turns a fully-attested SPJ-eligible layout into a
    * `SupportsReportOrdering` report, which is what lets a co-partitioned
    * sort-merge join drop its SortExec nodes (zero-exchange AND
    * zero-sort). The attestation is EARNED, not assumed: the writer
    * verifies the order it sees, so a caller that bypassed the V2 write's
    * requested ordering simply produces unattested files and the join
    * falls back to sorting — never to wrong answers. Trigram entries own
    * −(col+2), so this rides Int.MinValue — collision-free for any real
    * schema width. */
  private[sources] val SortKeyStatsIdx: Int = Int.MinValue

  /** Writer for REWRITE task files (optimize / mergeUpsert /
    * replaceWhere): honors the table's declared partition layout —
    * demux one file per key tuple, bucket attestation included —
    * exactly like the append writers. Without this, maintenance would
    * silently write mixed-key files and permanently degrade the SPJ
    * proofs the layout was declared for. */
  private[sources] def taskWriter(
      path: String, schema: StructType, base: String): DataWriter[InternalRow] = {
    val fields = partitionFields(path)
    val idxs = fields.map(f => schema.fieldNames.indexOf(f.col))
    if (fields.nonEmpty && idxs.nonEmpty && idxs.forall(_ >= 0))
      new ManifestPartitionedDataWriter(path, schema, base, fields.zip(idxs))
    else new ManifestDataWriter(path, schema, base,
      sortIdx = ManifestFileSink.writeSortIdx(path, schema))
  }

  /** Live-row count per identity-partition value tuple, answered from
    * MANIFEST METADATA only (entry row counts − visible deletion
    * vectors, partition values proven by each file's min==max zone-map
    * claim) — no data file is opened. The maintenance-side balance
    * probe: an index/layout owner asks "how skewed did my partitions
    * get" for the cost of one manifest listing. Files that cannot prove
    * a single value for every identity column land under key None —
    * callers treating None as "unprovable residue" stay conservative. */
  def partitionRowCounts(path: String): Map[Option[Seq[String]], Long] = {
    val idCols = partitionFields(path).collect { case IdentityPart(c) => c }
    val snap = Snapshot(path)
    val curTypes: Map[String, DataType] = snap.schema
      .map(_.fields.map(f => f.name -> f.dataType).toMap).getOrElse(Map.empty)
    val dvs = snap.dvs
    val ddlCache = scala.collection.mutable.Map.empty[String, StructType]
    def schemaOf(ddl: String): StructType =
      ddlCache.getOrElseUpdate(ddl, asNullable(StructType.fromDDL(ddl)))
    snap.latestEntries
      .map { case (f, rows, e, ddl) =>
        val live = math.max(0L, rows - dvs.getOrElse(f, Array.empty[Long]).length)
        // Stat indexes resolve against EACH FILE'S OWN write schema
        // (advice-r13: per-file zone maps are keyed by the writing
        // manifest's column order — each manifest carries its own DDL —
        // so resolving against the CURRENT stored schema misreads a
        // different column's min==max as the partition value after
        // position-shifting evolution; deriveAggregate always
        // resolved per entry, this now does too), and the field's type
        // must still match the current column's before the claim is
        // trusted (a type-evolved column's old-type literal is not a
        // value of the current domain).
        val fs = schemaOf(ddl)
        val key = e.stats.flatMap { stats =>
          val vs = idCols.map { c =>
            val fi = fs.fieldNames.indexOf(c)
            if (fi < 0 || !curTypes.get(c).forall(_ == fs.fields(fi).dataType)) None
            else stats.get(fi).collect {
              case cs if !cs.hasNull && !cs.rangeless &&
                  cs.min.nonEmpty && cs.min == cs.max => cs.min
            }
          }
          if (vs.nonEmpty && vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
        }
        (key, live)
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  def setPartitionColumns(path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.map(parsePartField(_).col).distinct.size == cols.size,
      s"partition columns must be non-empty and distinct: $cols")
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, "._partition.tmp")
    Files.write(tmp, cols.asJava, StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(path, "_partition"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def setPartitionColumn(path: String, col: String): Unit =
    setPartitionColumns(path, Seq(col))

  /** Declared identity-partition columns, one per `_partition` line —
    * empty for an unpartitioned table. Multi-column layouts demux one
    * file per VALUE TUPLE and report a composite
    * `KeyGroupedPartitioning`, so joins on all keys (or, with Spark's
    * allowJoinKeysSubsetOfPartitionKeys, a subset) stay exchange-free. */
  private[sources] def partitionColumns(path: String): Seq[String] = {
    val f = Paths.get(path, "_partition")
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  private[sources] def partitionColumn(path: String): Option[String] =
    partitionColumns(path).headOption

  // ------------------------------------- metadata-answered aggregates

  /** Answer `SELECT [g, …,] count(*) / min(c) / max(c) FROM t [GROUP BY
    * g, …]` (no WHERE) from MANIFEST METADATA alone — the Iceberg/Delta
    * metadata-query move: row counts come from the entries, extremes from
    * the zone maps, and NO data file is opened (at 100 TB that is
    * milliseconds vs a full scan). One fold serves both shapes: every
    * live file lands in its group and adds its rows and bounds there.
    * With no group columns there is one group, seeded before the fold, so
    * exactly one row comes out even when no file is visible (count 0,
    * NULL extremes).
    *
    * GROUP BY is eligible over IDENTITY partition columns only, and every
    * live file must PROVE a single value for each of them (the same
    * min==max zone-map claim SPJ trusts): `SELECT cell, count(*) FROM t
    * GROUP BY cell` then opens zero data files (the Iceberg
    * partition-stats answer). One unprovable file refuses the whole
    * derivation — the ordinary scan then answers, never a wrong group.
    *
    * Strictly conservative: any file without the needed stats claim, an
    * unreadable bound ([[Bound.decode]]: no claim), or any type/evolution
    * ambiguity returns None and the query runs as a normal scan. A file
    * that predates a column (or holds only NULLs in it) contributes
    * nothing to its MIN/MAX — exactly the aggregate's null semantics.
    * Output schema order is the V2 contract: group columns first, then
    * `agg_i` columns; returns it with the result rows in Catalyst form. */
  private[sources] def deriveAggregate(
      snap: Snapshot,
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      schema: StructType): Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    def typeOf(c: String): Option[DataType] = schema.find(_.name == c).map(_.dataType)
    val grpCols = agg.groupByExpressions.toSeq.map(e => colName(e).getOrElse(return None))
    // Deletion vectors: a bare COUNT(*) stays exactly derivable (live =
    // rows − |dv| per file; positions are distinct by construction), so
    // row-level deletes don't cost the metadata-answered count. Every
    // OTHER derivation refuses: a MIN/MAX claim may name a deleted row,
    // and a grouped count would emit a zero-count row for a fully
    // deleted file's group where the real aggregate emits nothing.
    val dvs = snap.dvs
    if (dvs.nonEmpty && (grpCols.nonEmpty ||
        !agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])))
      return None
    if (grpCols.nonEmpty) {
      val idCols = partitionFields(snap.path).collect { case IdentityPart(c) => c }
      if (!grpCols.forall(idCols.contains)) return None
    }
    val grpTypes = grpCols.map(c => typeOf(c) match {
      case Some(dt @ (LongType | IntegerType | StringType)) => dt
      case _ => return None
    })
    // Aggregate spec: None = count(*), Some((col, wantMin)) = min/max.
    val aggSpecs: Seq[Option[(String, Boolean)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => None
      case m: Min => Some((colName(m.column).getOrElse(return None), true))
      case m: Max => Some((colName(m.column).getOrElse(return None), false))
      case _ => return None
    }
    val aggTypes: Seq[DataType] = aggSpecs.map {
      case None => LongType
      case Some((c, _)) => typeOf(c).filter(Bound.orderable).getOrElse(return None)
    }
    val ddlCache = scala.collection.mutable.Map.empty[String, StructType]
    def schemaOf(ddl: String): StructType =
      ddlCache.getOrElseUpdate(ddl, asNullable(StructType.fromDDL(ddl)))
    final class Group(var rows: Long) { val extremes = new Array[Any](aggSpecs.length) }
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Group]
    if (grpCols.isEmpty) groups(Nil) = new Group(0L)
    // Shared latest-listing-per-file policy (advice-r13). A count-only
    // fold never reads `.stats`, so it decodes no zone map.
    snap.latestEntries.foreach { case (f, rows, e, ddl) =>
      if (rows > 0) {
        lazy val fs = schemaOf(ddl)
        // The file's own index of `c` (evolution: columns by name); -1 =
        // absent, and None when it holds `c` under another type.
        def fileIndex(c: String, dt: DataType): Option[Int] = {
          val fi = fs.fieldNames.indexOf(c)
          if (fi >= 0 && fs.fields(fi).dataType != dt) None else Some(fi)
        }
        val key = grpCols.zip(grpTypes).map { case (c, dt) =>
          val fi = fileIndex(c, dt).filter(_ >= 0).getOrElse(return None)
          e.stats.flatMap(_.get(fi)) match {
            case Some(cs) if !cs.hasNull && !cs.rangeless &&
                cs.min.nonEmpty && cs.min == cs.max =>
              Bound.decode(cs.min, dt).getOrElse(return None)
            case _ => return None // unprovable group: the scan answers
          }
        }
        val g = groups.getOrElseUpdate(key, new Group(0L))
        g.rows += rows - dvs.get(f).fold(0)(_.length)
        aggSpecs.indices.foreach { i =>
          aggSpecs(i).foreach { case (c, wantMin) =>
            val dt = aggTypes(i)
            val fi = fileIndex(c, dt).getOrElse(return None)
            // fi < 0: column absent in this file, NULL backfill, no contribution
            if (fi >= 0) e.stats.flatMap(_.get(fi)) match {
              case None => return None // no claim recorded: must scan
              case Some(cs) if cs.rangeless => return None
              case Some(cs) if cs.min.isEmpty => () // all-NULL file: contributes nothing
              case Some(cs) =>
                val v = Bound.decode(if (wantMin) cs.min else cs.max, dt).getOrElse(return None)
                val acc = g.extremes(i)
                if (acc == null || (if (wantMin) Bound.compare(v, acc, dt) < 0
                                    else Bound.compare(v, acc, dt) > 0))
                  g.extremes(i) = v
            }
          }
        }
      }
    }
    val outSchema = StructType(
      grpCols.zip(grpTypes).map { case (c, dt) =>
        org.apache.spark.sql.types.StructField(c, dt, nullable = false)
      } ++ aggSpecs.zip(aggTypes).zipWithIndex.map { case ((spec, dt), i) =>
        org.apache.spark.sql.types.StructField(s"agg_$i", dt, spec.isDefined)
      })
    val out = groups.toSeq.map { case (key, g) =>
      key ++ aggSpecs.indices.map(i => if (aggSpecs(i).isEmpty) g.rows else g.extremes(i))
    }
    Some((outSchema, out))
  }

  /** A partitioned write's task commit carries one [[CommittedFile]] per
    * partition value the task saw; every job-level commit path flattens
    * through here so the two message shapes stay interchangeable. */
  private[sources] def flattenCommits(
      messages: Array[WriterCommitMessage]): Array[WriterCommitMessage] =
    messages.flatMap {
      case CommittedFiles(fs) => fs
      case m => Seq(m)
    }

  /** The manifest entry lines of a job's task commits. */
  private def entryLines(messages: Array[WriterCommitMessage]): Seq[String] =
    flattenCommits(messages).collect { case c: CommittedFile => c.line }.toSeq

  /** Delete the data files a job's task commits name — the abort of a
    * write whose manifest will never publish (the files stay invisible
    * either way; this only reclaims their space). */
  private[sources] def deleteCommitted(path: String, messages: Array[WriterCommitMessage]): Unit =
    flattenCommits(messages).foreach {
      case CommittedFile(f, _, _) => Files.deleteIfExists(Paths.get(path, "data", f))
      case _ =>
    }

  /** SplitMix64 finalizer — the avalanche both hash paths share. */
  private[sources] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[sources] def bloomHashLong(v: Long): Long = mix64(v)

  /** FNV-1a 64 over the value's UTF-8 bytes, then avalanched. The writer
    * hashes `UTF8String.getBytes`, the pruner `String.getBytes(UTF_8)` —
    * identical byte sequences by construction. */
  private[sources] def bloomHashBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Kirsch–Mitzenmacher double hashing: k probe positions from one
    * 64-bit hash, mask derived from the bitset's own length. */
  private[sources] def bloomIndices(h: Long, words: Int): Array[Int] = {
    val mask = words * 64 - 1
    val h2 = mix64(h) | 1L
    Array.tabulate(BloomK)(i => ((h + i * h2) & mask).toInt)
  }

  private[sources] def bloomSet(bits: Array[Long], h: Long): Unit =
    bloomIndices(h, bits.length).foreach(i => bits(i >>> 6) |= (1L << (i & 63)))

  private[sources] def bloomMightContain(bits: Array[Long], h: Long): Boolean =
    bloomIndices(h, bits.length).forall(i => (bits(i >>> 6) & (1L << (i & 63))) != 0)

  private[sources] def encodeBloom(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bb.array())
  }

  private[sources] def decodeBloom(s: String): Array[Long] = {
    val bytes = java.util.Base64.getUrlDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** May the literal `v` be present per the column's Bloom filter? No
    * bitset, or a literal shape the writer never hashed, answers true. */
  private def bloomAdmits(v: Any, s: ColStats, dt: DataType): Boolean =
    s.bloom match {
      case None => true
      case Some(bits) => dt match {
        case LongType | IntegerType =>
          v match {
            case n @ (_: java.lang.Long | _: java.lang.Integer |
                      _: java.lang.Short | _: java.lang.Byte) =>
              bloomMightContain(bits, bloomHashLong(n.asInstanceOf[Number].longValue()))
            case d: java.lang.Double if d.doubleValue().isWhole =>
              bloomMightContain(bits, bloomHashLong(d.doubleValue().toLong))
            case _ => true
          }
        case StringType =>
          v match {
            case str: String =>
              bloomMightContain(bits, bloomHashBytes(str.getBytes(StandardCharsets.UTF_8)))
            case u: UTF8String => bloomMightContain(bits, bloomHashBytes(u.getBytes))
            case _ => true
          }
        case _ => true
      }
    }

  private[sources] def escapeStat(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length)
    v.foreach {
      case c @ ('%' | '|' | ',' | '=' | '\t' | '\n' | '\r') =>
        sb.append('%').append(f"${c.toInt}%02X")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[sources] def unescapeStat(v: String): String = {
    if (v.indexOf('%') < 0) return v
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Conservative file-level predicate evaluation: may ANY row of a file
    * with these stats satisfy `filter`? Unknown filter shapes, unknown
    * columns, and stats-free files answer true (never wrongly prune).
    * Numeric compares re-parse the recorded bounds under the column's own
    * type — long compares stay in Long (no 2^53 double truncation),
    * double compares round-trip exactly through Double.toString. */
  private[sources] def mayMatch(
      filter: org.apache.spark.sql.sources.Filter,
      stats: Map[Int, ColStats],
      schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def colStats(name: String): Option[(ColStats, DataType)] = {
      val i = schema.fieldNames.indexOf(name)
      if (i < 0) None else stats.get(i).map(s => (s, schema.fields(i).dataType))
    }
    def trgmAdmits(c: String, v: String): Boolean = trgmAdmits0(stats, schema, c, v)
    // Compare a filter literal against recorded bounds in the column's type
    // space: negative ⇒ value below min, 0 in-range, positive ⇒ above max,
    // None ⇒ incomparable (empty bounds / unsupported type) — caller keeps.
    def relate(v: Any, s: ColStats, dt: DataType): Option[(Int, Int)] =
      if (s.min.isEmpty) None
      else (Bound.decode(s.min, dt), Bound.decode(s.max, dt)) match {
        case (Some(min), Some(max)) => dt match {
          case LongType | IntegerType =>
            // Exact decimal-space compare against the bounds — must agree
            // with evalFilter's compareLongLiteral, or a fractional literal
            // (`n < 2.5` over a file spanning [2,7]) would wrongly prune.
            // An infinite literal has no decimal form: no claim.
            if (!v.isInstanceOf[Number]) return None
            try for {
              lo <- compareLongLiteral(min.asInstanceOf[Number].longValue, v).map(-_)
              hi <- compareLongLiteral(max.asInstanceOf[Number].longValue, v).map(-_)
            } yield (lo, hi)
            catch { case _: NumberFormatException => None }
          case DoubleType =>
            val x = v match { case n: Number => n.doubleValue(); case _ => return None }
            if (x.isNaN) return None
            // Signed zero normalizes (Spark equality: -0.0 = 0.0) — a file
            // whose only value is -0.0 must admit an = 0.0 probe.
            def nz(d: Double): Double = if (d == 0.0) 0.0 else d
            Some((java.lang.Double.compare(nz(x), nz(min.asInstanceOf[Double])),
                  java.lang.Double.compare(nz(x), nz(max.asInstanceOf[Double]))))
          case _ =>
            // The literal meets the bounds in their own (byte) order, so
            // pruning agrees with row-level filter semantics.
            val x = v match {
              case str: String => UTF8String.fromString(str)
              case u: UTF8String => u
              case _ => return None
            }
            Some((Bound.compare(x, min, dt), Bound.compare(x, max, dt)))
        }
        case _ => None
      }
    filter match {
      case EqualTo(c, v) => colStats(c) match {
        case Some((s, _)) if s.min.isEmpty && !s.rangeless => false // no non-null values at all
        case Some((s, dt)) =>
          relate(v, s, dt).forall { case (lo, hi) => lo >= 0 && hi <= 0 } &&
            bloomAdmits(v, s, dt) // point-lookup refinement inside the range
        case None => true
      }
      case GreaterThan(c, v) => colStats(c) match {
        case Some((s, _)) if s.min.isEmpty && !s.rangeless => false
        case Some((s, dt)) => relate(v, s, dt).forall(_._2 < 0) // v < max
        case None => true
      }
      case GreaterThanOrEqual(c, v) => colStats(c) match {
        case Some((s, _)) if s.min.isEmpty && !s.rangeless => false
        case Some((s, dt)) => relate(v, s, dt).forall(_._2 <= 0)
        case None => true
      }
      case LessThan(c, v) => colStats(c) match {
        case Some((s, _)) if s.min.isEmpty && !s.rangeless => false
        case Some((s, dt)) => relate(v, s, dt).forall(_._1 > 0) // v > min
        case None => true
      }
      case LessThanOrEqual(c, v) => colStats(c) match {
        case Some((s, _)) if s.min.isEmpty && !s.rangeless => false
        case Some((s, dt)) => relate(v, s, dt).forall(_._1 >= 0)
        case None => true
      }
      case In(c, vs) => vs.exists(v => mayMatch(EqualTo(c, v), stats, schema))
      case IsNull(c) => colStats(c).forall(_._1.hasNull)
      case IsNotNull(c) => colStats(c).forall(s => s._1.min.nonEmpty || s._1.rangeless)
      case And(l, r) => mayMatch(l, stats, schema) && mayMatch(r, stats, schema)
      case Or(l, r) => mayMatch(l, stats, schema) || mayMatch(r, stats, schema)
      case Not(EqualTo(c, v)) => colStats(c) match {
        // only prunable when the file is constant at exactly v
        case Some((s, dt)) if s.min.nonEmpty && s.min == s.max && !s.hasNull =>
          relate(v, s, dt).forall { case (lo, hi) => !(lo == 0 && hi == 0) }
        case _ => true
      }
      case StringStartsWith(c, p) if p.nonEmpty =>
        trgmAdmits(c, p) && (colStats(c) match {
          case Some((s, StringType)) if s.rangeless => true // bloom-only entry: no range claim
          case Some((s, StringType)) if s.min.isEmpty => false // no non-null values
          case Some((s, StringType)) =>
            // Every string with prefix p satisfies p ≤ s < next(p) in binary
            // order, so the file may match only if [min,max] intersects that
            // band. next(p) bumps the last char — computed only for pure
            // ASCII prefixes, where char order IS byte order; otherwise only
            // the lower bound prunes (conservative).
            val pU = UTF8String.fromString(p)
            if (UTF8String.fromString(s.max).compareTo(pU) < 0) false
            else if (p.forall(_ < 0x80) && p.exists(_ < 0x7f)) {
              val trimmed = p.reverse.dropWhile(_ == 0x7f).reverse
              val np = trimmed.dropRight(1) + (trimmed.last + 1).toChar
              UTF8String.fromString(s.min).compareTo(UTF8String.fromString(np)) < 0
            } else true
          case _ => true
        })
      // Substring probes answer through the trigram text index: a match
      // inside a value implies EVERY 3-byte window of the needle occurs
      // there, so a file whose trigram bloom misses any window cannot
      // match — sound for contains/starts/ends alike.
      case StringContains(c, v) => trgmAdmits(c, v)
      case StringEndsWith(c, v) => trgmAdmits(c, v)
      case _ => true
    }
  }

  /** Strict file-level predicate evaluation, the dual of [[mayMatch]] (as
    * Iceberg's StrictMetricsEvaluator is to its inclusive evaluator): does
    * EVERY row of a file with these stats satisfy `filter`? True only when
    * the zone map proves it: the column is Long or Int, records no NULL,
    * has readable bounds, and both bounds satisfy the comparison (range
    * comparisons under And/Or). Any other shape, type or missing claim
    * answers false, which means "not proven", never "no row matches".
    * Bounds cover every row ever written to the file, so the proof also
    * holds for its rows that survive a deletion vector. Double (NaN
    * order) and String (byte order) bounds make no claim here. */
  private[sources] def mustMatch(
      filter: org.apache.spark.sql.sources.Filter,
      stats: Map[Int, ColStats],
      schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def bounds(c: String): Option[(Long, Long)] = {
      val i = schema.fieldNames.indexOf(c)
      if (i < 0) return None
      val dt = schema.fields(i).dataType
      def asLong(text: String): Option[Long] =
        Bound.decode(text, dt).map(_.asInstanceOf[Number].longValue)
      stats.get(i).filter(s => !s.hasNull && !s.rangeless && s.min.nonEmpty) match {
        case Some(s) if dt == LongType || dt == IntegerType =>
          for (lo <- asLong(s.min); hi <- asLong(s.max)) yield (lo, hi)
        case _ => None
      }
    }
    // A bound against the literal, in mayMatch's exact decimal space; an
    // incomparable literal (a string, an infinity) proves nothing.
    def rel(x: Long, v: Any): Option[Int] =
      try compareLongLiteral(x, v)
      catch { case _: IllegalArgumentException => None } // incl. NumberFormatException
    filter match {
      case GreaterThan(c, v) => bounds(c).exists(b => rel(b._1, v).exists(_ > 0))
      case GreaterThanOrEqual(c, v) => bounds(c).exists(b => rel(b._1, v).exists(_ >= 0))
      case LessThan(c, v) => bounds(c).exists(b => rel(b._2, v).exists(_ < 0))
      case LessThanOrEqual(c, v) => bounds(c).exists(b => rel(b._2, v).exists(_ <= 0))
      case And(l, r) => mustMatch(l, stats, schema) && mustMatch(r, stats, schema)
      case Or(l, r) => mustMatch(l, stats, schema) || mustMatch(r, stats, schema)
      case _ => false
    }
  }

  /** Live rows of the table that satisfy each filter, counted from
    * METADATA alone: a live file that [[mayMatch]] refutes adds 0, one
    * that [[mustMatch]] proves all-in adds its rows minus its
    * deletion-vector positions. None when any live file is undecided for
    * any filter (it straddles a bound, lacks a zone map, predates the
    * column, or holds a type with no strict claim): only a query can
    * count it. One snapshot answers every filter. */
  def strictCounts(
      path: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[Seq[Long]] = {
    val snap = Snapshot(path)
    val dvs = snap.dvs
    val ddlCache = scala.collection.mutable.Map.empty[String, StructType]
    val counts = Array.fill(filters.size)(0L)
    snap.visible.foreach { case (file, rows, e, ddl) =>
      val live = rows - dvs.get(file).fold(0)(_.length)
      if (live > 0) {
        val fs = ddlCache.getOrElseUpdate(ddl, asNullable(StructType.fromDDL(ddl)))
        val st = e.stats.getOrElse(return None)
        filters.indices.foreach { i =>
          if (mustMatch(filters(i), st, fs)) counts(i) += live
          else if (mayMatch(filters(i), st, fs)) return None
        }
      }
    }
    Some(counts.toSeq)
  }

  /** Trigram-bloom admission for a substring needle against column `c` —
    * true when no index claim exists (absent bloom, short needle). */
  private def trgmAdmits0(
      stats: Map[Int, ColStats], schema: StructType, c: String, v: String): Boolean = {
    val i = schema.fieldNames.indexOf(c)
    if (i < 0) return true
    stats.get(trgmStatsIdx(i)).flatMap(_.bloom) match {
      case Some(bits) =>
        val b = v.getBytes(StandardCharsets.UTF_8)
        if (b.length < 3) true
        else (0 to b.length - 3).forall(j => bloomMightContain(bits, trgmHash(b, j)))
      case None => true
    }
  }

  /** Metadata maintenance: rewrite every published manifest into ONE
    * combined manifest, then delete the inputs — a long-lived append
    * target otherwise accumulates a manifest per job and pays an O(jobs)
    * listing on every read. Returns the number of manifests compacted
    * (0 = nothing to do). Crash-safe at every point: the combined
    * manifest publishes via the same atomic rename, a crash before the
    * input deletes leaves duplicate listings that [[Snapshot.visible]]
    * dedupes, and a concurrent append's new manifest is not in the input
    * set so it survives untouched. Snapshots sealed by the deleted
    * manifests are retired (the standard expire-snapshots trade) and the
    * input names are recorded in the combined manifest's `folded` header
    * (transitively), so a replayed epoch still recognises its commit and
    * a retired-snapshot read errors explicitly. Mixed schemas REFUSE to
    * compact: merging entries under the newest DDL would silently reparse
    * older files with the wrong columns. */
  def compact(path: String): Int = compact(path, Long.MinValue)

  /** Compaction bounded to commits with seq strictly above `aboveSeq` —
    * the operator's tool for compacting AROUND live streaming consumers:
    * pass the slowest consumer's checkpointed offset and the fold stays
    * wholly ahead of it (transparent to the stream; see
    * [[ManifestMicroBatchStream]]'s fold window rules). The unbounded
    * overload folds everything, which is fine for tables with no active
    * streams or whose consumers are fully caught up. */
  def compact(path: String, aboveSeq: Long): Int = commitLock(path).synchronized {
    // First, garbage-collect manifests SUPERSEDED by an interrupted
    // compact/purge: their combined manifest already published (it names
    // them in its `folded` header), so [[Snapshot.published]] hides them —
    // they contribute nothing and only cost listing time. Deleting them
    // completes the crashed maintenance job.
    val log = Snapshot(path)
    val superseded = log.all.filter(m => log.folded.contains(m.name))
    superseded.foreach(m => Files.deleteIfExists(m.file.toPath))
    pruneClaims(log) // retired seq-claim markers are maintenance debris too
    val ms = log.published.filter(_.meta.seq > aboveSeq)
    if (ms.size < 2) return superseded.size
    val schemas = ms.map(_.ddl).distinct
    if (schemas.size > 1)
      throw new IllegalStateException(
        s"refusing to compact $path: ${schemas.size} distinct schemas across " +
          "manifests; older entries would reparse under the newest DDL — " +
          "run migrateSchema(path) first")
    writeManifest(path, foldMeta(Some(claimSeq(log)), ms),
      schemas.head +: ms.flatMap(_.body).distinct)
    ms.foreach(m => Files.deleteIfExists(m.file.toPath))
    ms.size + superseded.size
  }

  /** EXPIRE old snapshots, keeping the newest `keepLast` time-travelable
    * (the Iceberg expire_snapshots contract, bounded by count instead of
    * age — deterministic for tests and CI): every older manifest folds
    * into ONE combined manifest that takes the oldest range's POSITION
    * (seq = the max folded seq, NOT nextSeq — the kept snapshots'
    * prefixes must still resolve to exactly the file sets they sealed),
    * so the current state and every kept snapshot are byte-identical
    * before and after. Travel granularity after expiry (review-r14
    * precision): the FOLD-BOUNDARY snapshot remains travelable by its
    * seq — the combined manifest IS that snapshot's exact state (union
    * of the folded commits), so `VERSION AS OF <boundary seq>` keeps
    * answering with the correct historical content; every seq strictly
    * inside the expired range fails with the explicit retired error.
    * Net: keepLast kept snapshots + the boundary state stay travelable.
    * Only the FOLDED manifests' schemas must agree (kept ones may have
    * evolved); deletion-vector lines carry through the fold verbatim,
    * exactly as [[compact]]'s do. Returns the number of manifests
    * folded (0 = nothing to expire). */
  def expireSnapshots(path: String, keepLast: Int): Int =
    commitLock(path).synchronized {
      require(keepLast >= 1, s"keep_last must be >= 1 (got $keepLast)")
      val ms = Snapshot(path).published.dropRight(keepLast)
      if (ms.size < 2) return 0
      val schemas = ms.map(_.ddl).distinct
      if (schemas.size > 1)
        throw new IllegalStateException(
          s"refusing to expire snapshots of $path: ${schemas.size} distinct " +
            "schemas across the expired range; run migrateSchema(path) first")
      // The fold takes the expired range's position: seq = its max seq.
      writeManifest(path, foldMeta(None, ms), schemas.head +: ms.flatMap(_.body).distinct)
      ms.foreach(m => Files.deleteIfExists(m.file.toPath))
      ms.size
    }

  /** ROLLBACK the table to an earlier snapshot (the Iceberg
    * `rollback_to_snapshot` contract): the current state becomes exactly
    * the state `ref` sealed — later appends, deletes, overwrites AND
    * schema evolution are all retracted in ONE commit. `ref` is a commit
    * seq, a tag name, or a manifest name.
    *
    * Mechanism: publish one new manifest with NO entries whose `folded`
    * header names every later main-line manifest (transitively). The
    * fold ledger already means "superseded" to every reader and to
    * maintenance GC, so the hidden commits vanish from the listing
    * atomically, the rollback itself is a normal commit (the table's seq
    * keeps rising — a rollback is not a secret), and `storedSchema`
    * resolves to the target's DDL again because the rollback manifest
    * carries it. The rolled-back snapshots are RETIRED immediately
    * (time travel to them raises the explicit expire-snapshots error —
    * unlike Iceberg, which keeps them until expiry; retirement here is
    * what makes the fold ledger reusable without a second ref concept),
    * and their data files become orphans for [[vacuum]].
    *
    * Refusals: an unknown ref raises; a ref retired by maintenance
    * raises; a later maintenance fold that ABSORBED commits at or before
    * the target raises (part of the target state lives only inside that
    * fold — hiding it would corrupt, and its inputs are already
    * deleted). WAP stages are untouched: staging is off the main line,
    * and a stage published after a rollback lands on the rolled-back
    * state with fresh seqs. Streaming consumers whose resume offset is
    * inside the rolled-back range must reset — the rollback manifest's
    * fseq/lseq range makes the straddle detectable, the same rule as
    * [[compact]]'s fold window. Returns the number of commits rolled
    * back (0 = ref is already the current state). */
  /** Resolve a user-facing snapshot ref — a commit seq, a tag name, or
    * a manifest name — to the manifest name [[Snapshot.at]] understands
    * (shared by [[rollbackTo]] and the `snapshot_diff` procedure; one
    * resolution, one set of error messages). */
  private[sources] def resolveRef(log: Snapshot, ref: String): String = {
    val path = log.path
    if (ref.forall(_.isDigit) && ref.nonEmpty)
      log.published.find(_.meta.seq == ref.toLong).map(_.name)
        .getOrElse(throw new IllegalArgumentException(
          s"no commit with seq $ref in $path (retired by maintenance, " +
            "or never published)"))
    else tags(path).toMap.getOrElse(ref, {
      if (log.published.exists(_.name == ref)) ref
      else if (log.folded.contains(ref))
        throw new IllegalArgumentException(
          s"snapshot $ref was retired by compaction (expire-snapshots): " +
            "it cannot be rolled back to")
      else throw new IllegalArgumentException(
        s"'$ref' is neither a seq, a tag, nor a manifest of $path; " +
          s"tags: ${tags(path).map(_._1).mkString(", ")}")
    })
  }

  def rollbackTo(path: String, ref: String): Int = commitLock(path).synchronized {
    val log = Snapshot.headers(path)
    val ordered = log.published
    val manifest: String = resolveRef(log, ref)
    val i = ordered.indexWhere(_.name == manifest)
    if (i < 0) throw new IllegalArgumentException(
      s"snapshot $manifest is not on the main line of $path")
    val target = ordered(i)
    val after = ordered.drop(i + 1)
    if (after.isEmpty) return 0
    after.foreach { m =>
      require(m.meta.foldedMinSeq.forall(_ > target.meta.seq),
        s"cannot roll back to $manifest: ${m.name} folded commits at or " +
          "before the target (compact/expire ran since), so the target " +
          "state is no longer separable from later history")
    }
    writeManifest(path, foldMeta(Some(claimSeq(log)), after), Seq(target.ddl))
    after.size
  }

  private[sources] def render(row: InternalRow, schema: StructType): String =
    schema.fields.indices.map { i =>
      if (row.isNullAt(i)) "\\N"
      else schema.fields(i).dataType match {
        case LongType    => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case DoubleType  => row.getDouble(i).toString
        case BooleanType => row.getBoolean(i).toString
        case StringType  => row.getUTF8String(i).toString
        case dt => throw new IllegalArgumentException(s"unsupported type $dt")
      }
    }.mkString("\t")

  /** Publish a manifest listing `messages`' files under `name`, via
    * write-to-temp + atomic rename (a reader can never observe a
    * half-written manifest). Returns false — publishing NOTHING — if a
    * manifest of that name already exists: with epoch-derived names this
    * is the idempotency point for REPLAYED micro-batches, which is the
    * engine's actual contract (one driver; replays are sequential, after
    * the previous attempt crashed or finished). A stale `.tmp` from an
    * attempt that died between write and rename is deleted up front, so
    * the replay can't wedge on `CREATE_NEW`. A concurrent zombie-driver
    * race is NOT fenced here (POSIX rename replaces): both attempts carry
    * the same epoch's data, so the epoch converges to whichever complete
    * manifest landed last, and the loser's task files stay invisible —
    * readers resolve through manifests only. A name absorbed by a
    * [[compact]] counts as published (it is listed in a live manifest's
    * `folded` header) — otherwise a replay arriving after compaction
    * would republish its epoch under fresh task-file names, and the
    * by-name dedup in [[Snapshot.visible]] could not catch the double-read. */
  private[sources] def publish(
      path: String,
      name: String,
      schema: StructType,
      messages: Array[WriterCommitMessage],
      staged: Option[String] = None): Boolean = commitLock(path).synchronized {
    if (Files.exists(Paths.get(path, name))) return false
    val log = Snapshot.headers(path)
    if (log.folded.contains(name)) return false
    val lines = renderHeader(ManifestMeta(claimSeq(log), Nil, staged = staged)) +:
      asNullable(schema).toDDL +: entryLines(messages)
    val tmp = Paths.get(path, s".$name.tmp")
    Files.deleteIfExists(tmp)
    Files.write(tmp, lines.asJava, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE_NEW)
    Files.move(tmp, Paths.get(path, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    true
  }

  // ----------------------------------------------- schema evolution (v5)

  /** Each manifest records the DDL its files were written under; the READ
    * schema is the latest snapshot's DDL. Older files reconcile BY NAME:
    * a column added since a file was written reads as NULL in its rows
    * (null backfill); a column dropped from the latest schema is simply
    * not read; column order is immaterial. A column whose TYPE changed
    * refuses loudly at plan time — silent reparse under a new type is the
    * classic evolution corruption ([[migrateSchema]] is the explicit
    * rewrite path). The same name-reconciliation applies to zone maps
    * (stats indices are positions in the FILE's schema, so pruning
    * resolves filter columns against that schema, never the read
    * schema's positions) and to DELETE predicates (a missing column
    * evaluates as NULL — `IS NULL` deletes backfilled rows, comparisons
    * never do). */
  private[sources] def validateEvolution(
      readSchema: StructType, fileSchema: StructType, context: String): Unit =
    readSchema.fields.foreach { f =>
      val i = fileSchema.fieldNames.indexOf(f.name)
      if (i >= 0 && fileSchema.fields(i).dataType != f.dataType)
        throw new IllegalStateException(
          s"schema evolution cannot change a column's type: $context has " +
            s"${f.name} ${fileSchema.fields(i).dataType.simpleString}, the table " +
            s"now expects ${f.dataType.simpleString}; rewrite old files with " +
            "migrateSchema(path) after auditing the cast")
    }

  /** Column mapping read-schema position → file-schema position (−1 =
    * column absent in the file ⇒ NULL backfill). */
  private[sources] def evolutionProjection(
      readSchema: StructType, fileSchema: StructType): Array[Int] =
    readSchema.fieldNames.map(n => fileSchema.fieldNames.indexOf(n))

  /** Copy-on-write schema migration: rewrite every file committed under a
    * non-latest schema into the LATEST schema (missing columns rendered
    * as NULL, dropped columns discarded, order normalized), then publish
    * ONE superseding manifest in which every entry carries the latest
    * DDL — after which [[compact]] (which refuses mixed schemas) works
    * again. Deletion vectors follow their file: positions are stable
    * because migration copies every line. Zone-map stats are re-derived
    * implicitly: migrated entries keep no stats (no claim — conservative)
    * rather than carry indices from the old column order. Crash-safe via
    * the same supersede ledger as [[applyDeletes]]. Returns the number of
    * files rewritten. */
  def migrateSchema(path: String): Int = commitLock(path).synchronized {
    val snap = Snapshot(path)
    val ms = snap.manifests
    val latestDdl = snap.ddl.getOrElse(return 0)
    val latest = asNullable(StructType.fromDDL(latestDdl))
    if (ms.forall(_.ddl == latestDdl)) return 0
    val renames = scala.collection.mutable.Map.empty[String, String]
    val seen = scala.collection.mutable.Set.empty[String]
    var rewritten = 0
    val outLines = ms.flatMap { m =>
      val ddl = m.ddl
      val fileSchema = asNullable(StructType.fromDDL(ddl))
      validateEvolution(latest, fileSchema, s"manifest ${m.name}")
      val proj = evolutionProjection(latest, fileSchema)
      m.body.flatMap { line =>
        if (line.startsWith(DvPrefix) || ddl == latestDdl) Some(line)
        else {
          val parts = line.split("\t")
          val (file, rows) = (parts(0), parts(1).toLong)
          if (!seen.add(file)) None // duplicate listing: same immutable data
          else Some {
          val newName = s"migrate-${java.util.UUID.randomUUID().toString}"
          val in = Files.newBufferedReader(
            Paths.get(path, "data", file), StandardCharsets.UTF_8)
          val out = Files.newBufferedWriter(
            Paths.get(path, "data", newName), StandardCharsets.UTF_8,
            StandardOpenOption.CREATE_NEW)
          try {
            var l = in.readLine()
            while (l != null) {
              val cols = l.split("\t", -1)
              out.write(proj.map(i => if (i < 0) "\\N" else cols(i)).mkString("\t"))
              out.write("\n")
              l = in.readLine()
            }
          } finally { in.close(); out.close() }
          renames += file -> newName
          rewritten += 1
          s"$newName\t$rows" // no stats claim: old indices don't transfer
          }
        }
      }
    }.distinct
    // Deletion vectors follow their renamed file, positions unchanged.
    val patched = outLines.map { line =>
      if (!line.startsWith(DvPrefix)) line
      else {
        val parts = line.split("\t")
        renames.get(parts(1)).fold(line)(nn => (parts(0) +: nn +: parts.drop(2)).mkString("\t"))
      }
    }
    writeManifest(path, foldMeta(Some(claimSeq(snap)), ms), latestDdl +: patched)
    ms.foreach(m => Files.deleteIfExists(m.file.toPath))
    // Migrated originals stay for [[vacuum]] — deferred physical deletion
    // keeps in-flight scans of the prior snapshot readable to completion.
    rewritten
  }

  // ACCEPT_ANY_SCHEMA is the evolution contract (appends may add/drop
  // columns by name), so Spark skips its own output coercion — which
  // means an unsupported value type (e.g. the DECIMAL a bare SQL literal
  // like 1.5 parses to) would otherwise surface as a mid-task executor
  // failure. Vet the schema up front, at job setup on the driver, with
  // the fix spelled out.
  private[sources] def vetWritable(schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => f.dataType match {
      case LongType | IntegerType | DoubleType | BooleanType | StringType => true
      case _ => false
    })
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"manifest sink columns must be BIGINT/INT/DOUBLE/BOOLEAN/STRING; got " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
        " — CAST the inserted values (a bare SQL decimal literal like 1.5 " +
        "parses as DECIMAL; write CAST(1.5 AS DOUBLE))")
  }

  /** The locked commit half of an atomic RTAS (`REPLACE TABLE AS
    * SELECT` via [[GraftCatalog.stageReplace]]): retract EVERY live row
    * of the current snapshot (the always-true match, derived from
    * manifest metadata alone — no old data file is opened and no job
    * runs; candidates are validated under the CURRENT schema, since the
    * predicate reads no columns and old files need no reconciliation
    * with the new shape) and publish the staged task files under the
    * NEW schema, in ONE manifest. Readers see the old table or the new
    * one, never a mix; pre-replace snapshots stay time-travelable; and
    * unlike DROP+CREATE the commit history survives. A replace that
    * CHANGES a column's type is legal — the old rows are fully retracted
    * in the same commit, and the scan planner validates evolution only
    * against files with live rows. */
  private[sources] def commitReplaceTable(
      path: String,
      schema: StructType,
      messages: Array[WriterCommitMessage]): Unit = {
    val dataLines = entryLines(messages)
    commitLock(path).synchronized {
      val snap = Snapshot(path)
      val dvLines = snap.schema.fold(Seq.empty[(String, Array[Long])])(current =>
        matchPositions(snap, org.apache.spark.sql.sources.AlwaysTrue(), current))
      publishCommit(snap, asNullable(schema).toDDL, dataLines, dvLines)
    }
  }

  /** The locked commit half of an INSERT OVERWRITE — identical mechanics
    * to [[replaceWhere]] (schema fence, [[matchPositions]] for the
    * retraction, one atomic manifest), but fed by the DSv2 write
    * protocol's task-commit messages instead of a DataFrame. A full
    * overwrite (path-API `mode("overwrite")`, TRUNCATE, unconditioned
    * INSERT OVERWRITE) arrives as an always-true filter and retracts
    * from metadata alone: its cost is the new data plus one run per
    * retracted file, not a re-read of the old generation. */
  private[sources] def commitOverwrite(
      path: String,
      schema: StructType,
      filter: org.apache.spark.sql.sources.Filter,
      messages: Array[WriterCommitMessage]): Unit = {
    val dataLines = entryLines(messages)
    commitLock(path).synchronized {
      val snap = Snapshot(path)
      val schemaText = snap.ddl.getOrElse(asNullable(schema).toDDL)
      ensureSchemaUnchanged(path, "INSERT OVERWRITE", schema, schemaText, snap.ddl.nonEmpty)
      val dvLines =
        if (snap.ddl.isEmpty) Nil else matchPositions(snap, filter, schema)
      publishCommit(snap, schemaText, dataLines, dvLines)
    }
  }

  /** The locked commit half of a delta row-level operation (SQL
    * UPDATE/MERGE/DELETE): union the tasks' retraction vectors per file,
    * publish them with the inserted task files as ONE manifest. The
    * operation pinned its snapshot at build; a concurrent commit REFUSES
    * the publish (the optimize fence) — the rewrite's task files stay
    * invisible and the statement can simply be re-run. */
  private[sources] def commitDelta(
      path: String,
      schema: StructType,
      pin: Option[String],
      messages: Array[WriterCommitMessage]): Unit = commitLock(path).synchronized {
    val log = Snapshot.headers(path)
    if (log.published.lastOption.map(_.name) != pin)
      throw new IllegalStateException(
        s"table $path advanced past snapshot ${pin.getOrElse("<empty>")} during a " +
          "row-level operation: publish refused (task files stay invisible) — re-run")
    val commits = messages.collect { case d: DeltaTaskCommit => d }
    val dataLines = commits.flatMap(_.inserted).map(_.line).toSeq
    val dvs = unionPositions(commits.flatMap(_.retractions)).toSeq.sortBy(_._1)
    if (dataLines.isEmpty && dvs.isEmpty) return
    publishCommit(log, log.ddl.getOrElse(asNullable(schema).toDDL), dataLines, dvs)
  }

  private[sources] def parseField(v: String, dt: DataType): Any =
    if (v == "\\N") null
    else dt match {
      case LongType    => v.toLong
      case IntegerType => v.toInt
      case DoubleType  => v.toDouble
      case BooleanType => v.toBoolean
      case StringType  => UTF8String.fromString(v)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }

  private[sources] def parse(line: String, schema: StructType): InternalRow = {
    val parts = line.split("\t", -1)
    InternalRow.fromSeq(schema.fields.indices.map(i =>
      parseField(parts(i), schema.fields(i).dataType)))
  }
}

/** `acceptAnySchema` selects the write-resolution contract: the PATH API
  * keeps ACCEPT_ANY_SCHEMA (appends may evolve the schema by name — the
  * sink reconciles at read), while CATALOG-loaded tables drop it so SQL
  * `INSERT INTO` goes through Spark's TableOutputResolver — positional
  * resolution against the table schema, automatic store-assignment casts
  * (a bare 1.5 DECIMAL literal lands as the column's DOUBLE), and arity
  * errors at analysis time. Same table on disk, two write doors.
  *
  * `pinnedAsOf` is SQL time travel (`VERSION AS OF`): the catalog pins
  * the scan to that snapshot, and every mutation door (write, DELETE)
  * refuses — a snapshot is a value, not a target. */
private[sources] class ManifestTable(
    path: String, schema: StructType, acceptAnySchema: Boolean = true,
    pinnedAsOf: Option[String] = None)
  extends Table with SupportsWrite with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private def refuseIfPinned(op: String): Unit =
    if (pinnedAsOf.isDefined) throw new UnsupportedOperationException(
      s"$op on a VERSION AS OF snapshot is not allowed (read-only view of ${pinnedAsOf.get})")

  /** Declared partitioning (SHOW CREATE / DESCRIBE surface; the
    * scan-side SPJ report lives in [[ManifestScan.outputPartitioning]]). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    ManifestFileSink.partitionFields(path).map {
      case ManifestFileSink.IdentityPart(c) =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)
      case ManifestFileSink.BucketPart(n, c) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
          : org.apache.spark.sql.connector.expressions.Transform
    }.toArray

  /** `_file`/`_pos`: the row id ([[ManifestFileSink.FileCol]]). Exposed
    * for queries too (`SELECT _file, _pos, * FROM t` — lineage debugging
    * for free). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ManifestFileSink.FileCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ManifestFileSink.PosCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
      })

  /** SQL `UPDATE`/`MERGE INTO` (and the delta path of DELETE): Catalyst
    * rewrites the command into a scan producing row ids plus a DELTA
    * write of per-row delete/update/insert actions; the sink lands them
    * as deletion vectors + new task files in ONE manifest — the same
    * artifact shape as [[ManifestFileSink.mergeUpsert]], driven entirely
    * by the engine's own rewrite. The snapshot is pinned when the
    * operation is built; a concurrent commit makes the publish REFUSE
    * (serializable semantics, the optimize fence). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseIfPinned(info.command.toString)
    () => new ManifestRowLevelOperation(path, info.command)
  }

  /** SQL `DELETE FROM <catalog table> WHERE …` lands here (DSv2
    * SupportsDelete). Accepts exactly the predicate vocabulary
    * [[ManifestFileSink.evalFilter]] evaluates with ANSI 3VL —
    * `canDeleteWhere` vets the shape so an unsupported predicate fails
    * at ANALYSIS time (Spark raises a clean error) instead of mid-job.
    * The delete itself is the distributed merge-on-read match scan. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    def ok(f: Filter): Boolean = f match {
      case EqualTo(_, _) | EqualNullSafe(_, _) | GreaterThan(_, _) |
           GreaterThanOrEqual(_, _) | LessThan(_, _) | LessThanOrEqual(_, _) |
           In(_, _) | IsNull(_) | IsNotNull(_) | StringStartsWith(_, _) |
           StringEndsWith(_, _) | StringContains(_, _) |
           AlwaysTrue() | AlwaysFalse() => true
      case And(l, r) => ok(l) && ok(r)
      case Or(l, r)  => ok(l) && ok(r)
      case Not(x)    => ok(x)
      case _         => false
    }
    filters.forall(ok)
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{AlwaysTrue, And, Filter}
    refuseIfPinned("DELETE")
    val combined = filters.foldLeft(AlwaysTrue(): Filter)(And(_, _))
    ManifestFileSink.deleteWhere(path, combined)
    ()
  }

  override def name(): String = s"manifest_sink($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseIfPinned("write")
    // Write-audit-publish: `.option("wap-id", "x")` STAGES the append —
    // the commit's manifest carries a `staged=x` marker, invisible to
    // every main-line reader until `CALL graft.system.wap_publish`
    // cherry-picks it (audit the stage via VERSION AS OF 'wap:x').
    // Appends only: an overwrite or streaming write under a WAP id
    // refuses loudly below — staging a retraction would make the
    // publish-time cherry-pick unsound once main advances.
    val wapId = Option(info.options.get("wap-id")).filter(_.nonEmpty)
    // SupportsOverwrite turns SQL `INSERT OVERWRITE` (and
    // `df.writeTo(t).overwrite(cond)`) into the sink's atomic
    // replaceWhere commit: the retraction (deletion vectors from the
    // match) and the new task files publish in ONE manifest — readers
    // see the whole overwrite or none of it, and the pre-overwrite
    // snapshot stays time-travelable. An unconditioned INSERT OVERWRITE
    // or a truncate arrives as an always-true filter (full logical
    // overwrite, still one commit, history intact, retracted from
    // metadata without a scan).
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteFilter: Option[org.apache.spark.sql.sources.Filter] = None
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        import org.apache.spark.sql.sources.{AlwaysTrue, And, Filter}
        overwriteFilter = Some(filters.foldLeft(AlwaysTrue(): Filter)(And(_, _)))
        this
      }
      // Only the CATALOG door (acceptAnySchema = false) has the
      // FunctionCatalog that resolves a bucket transform.
      override def build(): Write = new ManifestWrite(path, info.schema(),
          ManifestFileSink.partitionFields(path), bucketByTransform = !acceptAnySchema) {
        override def toBatch: BatchWrite = overwriteFilter match {
          case Some(f) =>
            if (wapId.isDefined) throw new UnsupportedOperationException(
              "WAP staging covers appends only: an overwrite retracts rows, and " +
                "cherry-picking a retraction after main advances is unsound — " +
                "run the overwrite directly, or stage the new rows and delete after publish")
            new ManifestOverwriteBatchWrite(path, info.schema(), f)
          case None    => new ManifestBatchWrite(path, info.schema(), wapId)
        }
        override def toStreaming: StreamingWrite =
          // Streaming epochs are pure appends, so the WAP soundness
          // argument (cherry-picked appends commute with intervening
          // commits) holds epoch by epoch: a staged STREAM runs a whole
          // backfill invisibly to main-line readers, audited via
          // VERSION AS OF 'wap:<id>', then publishes or discards as one
          // decision — the blue/green streaming backfill.
          new ManifestStreamingWrite(path, info.schema(), wapId)
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit
      with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
      // Time travel: `asOfManifest` pins the scan to the snapshot sealed
      // by that manifest's commit — reads are repeatable against it no
      // matter how many appends land afterwards. `sinceManifest` turns the
      // scan into a CHANGE FEED: only files committed AFTER that snapshot
      // (task files are immutable and append-only, so the snapshot diff IS
      // the row diff) — the incremental-consumer contract that lets a
      // downstream maintenance job process each commit exactly once.
      private val asOf = Option(options.get("asOfManifest")).orElse(pinnedAsOf)
      private val since = Option(options.get("sinceManifest"))
      // Row-level deletes break the change feed's append-only contract
      // (the snapshot diff carries adds, never retractions). The fence
      // fails the feed loudly when a DELETE commit is in the unread
      // window; `ignoreDeletes` is the consumer's explicit opt-in to
      // append-only semantics (the Delta streaming contract).
      private val ignoreDeletes = options.getBoolean("ignoreDeletes", false)
      // `changeFeedWeights` upgrades the feed to full CDC: every row
      // carries `_change_weight` (+1 insert, −1 retraction read back from
      // the deletion vector's positions) — the z-set input the engine's
      // retraction IVM (`Incremental.qIvmJoinRetract` algebra) consumes.
      private val weighted = options.getBoolean("changeFeedWeights", false)
      // Zone-map pushdown: accepted filters drive FILE skipping against the
      // per-file min/max stats in the manifest (the Iceberg/Delta data-skip
      // idea). Every filter is also returned for post-scan re-evaluation —
      // stats prune whole files, they never filter rows.
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters
        filters // Spark re-applies everything: skipping is best-effort
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      // Column pruning: Catalyst hands back the subset of the reported
      // schema the query actually reads (filter columns included — every
      // filter is also returned as residual). The reader then CONVERTS
      // only those fields per row — for a 2-column projection over a
      // wide table, the scan stops materializing the other columns'
      // UTF8Strings entirely. The read schema in `.explain` shrinks to
      // match, same as the parquet ReadSchema contract.
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      // Metadata-answered aggregates (SupportsPushDownAggregates):
      // `SELECT count(*) / min(c) / max(c) FROM t` with no WHERE, and
      // GROUP BY only over identity partition columns, resolves entirely
      // from the manifest (counts from entries, extremes from zone maps;
      // [[ManifestFileSink.deriveAggregate]]) — COMPLETE pushdown, zero
      // file IO, no job: the rows exist at planning time
      // ([[ManifestAggScan]] is a LocalScan; [[MetadataAnswerStrategy]]
      // evaluates the projection and filters above it). Catalyst only
      // attempts this when every filter was fully consumed; this scan
      // re-evaluates all filters post-scan
      // (zone maps skip files, never rows), so `pushedFilters` non-empty
      // means residuals exist and Spark keeps the aggregate — the
      // correctness interplay is enforced by the engine's own gate, and
      // `pushed.isEmpty` below is the belt to that suspender. Change
      // feeds and weighted CDC never take this path.
      // Limit pushdown: `SELECT … LIMIT n` (no residual filters — Spark
      // only pushes a limit that sits directly on the scan) lets the
      // planner open just enough files to cover n live rows instead of
      // the whole table — at 100 TB, a LIMIT 10 peek opens one file.
      // Declared partially-pushed (the default), so Spark keeps its own
      // limit above the scan; the file-prefix cut is pure IO savings
      // with zero correctness surface.
      private var limit: Option[Int] = None
      override def pushLimit(n: Int): Boolean = {
        if (since.nonEmpty || weighted) false
        else { limit = Some(n); true }
      }
      // Both cuts are IO pruning only — Spark always keeps its own
      // limit/TakeOrdered above the scan.
      override def isPartiallyPushed(): Boolean = true
      // Top-N pushdown (ORDER BY col LIMIT n, single column): on a
      // range-clustered layout (`optimize(clusterBy)`), the zone maps
      // prove which files cannot hold any of the n extreme rows — a file
      // is prunable iff the files wholly below (above, for DESC) it
      // already hold n live rows. Partial pushdown: Spark keeps its own
      // TakeOrdered; the cut is pure file IO. Declared here, applied in
      // the scan only when every live file carries a null-free stats
      // claim for the column (NULLS FIRST/LAST would otherwise smuggle
      // unranked rows into the top-n).
      private var topN: Option[(String, Boolean, Int)] = None
      override def pushTopN(
          orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
          n: Int): Boolean = {
        if (since.nonEmpty || weighted || orders.length != 1) return false
        orders(0).expression() match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames.length == 1 =>
            val desc = orders(0).direction() ==
              org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
            topN = Some((r.fieldNames()(0), desc, n))
            true
          case _ => false
        }
      }
      // The snapshot this query reads, resolved on first use and shared
      // by the aggregate derivation, the reported schema and the scan —
      // one listing, one read per manifest. Per BUILDER, never per table:
      // a second action on the same DataFrame builds again and sees the
      // commits that landed in between.
      private lazy val snapshot = ManifestFileSink.Snapshot(path, asOf)
      private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        tryAgg(agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        aggResult = tryAgg(agg)
        aggResult.isDefined
      }
      // Spark asks twice for one aggregate (complete pushdown, then push).
      private var aggMemo: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
        Option[(StructType, Seq[Seq[Any]])])] = None
      private def tryAgg(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType, Seq[Seq[Any]])] =
        if (since.nonEmpty || weighted || pushed.nonEmpty) None
        else aggMemo.collect { case (a, r) if a == agg => r }.getOrElse {
          val r = ManifestFileSink.deriveAggregate(snapshot, agg,
            snapshot.schema.getOrElse(new StructType()))
          aggMemo = Some((agg, r))
          r
        }
      override def build(): Scan = aggResult match {
        case Some((aggSchema, values)) =>
          new ManifestAggScan(path, aggSchema, values)
        case None =>
          val base = snapshot.schema.getOrElse(new StructType())
          val sch = if (weighted)
            base.add(ManifestFileSink.WeightCol, IntegerType, nullable = false)
          else base
          new ManifestScan(snapshot, required.getOrElse(sch), since, pushed,
            ignoreDeletes, weighted,
            limit.filter(_ => pushed.isEmpty),
            topN.filter(_ => pushed.isEmpty))
      }
    }
}

/** DSv2 scan observability (CustomMetric): these surface in the Spark UI's
  * SQL tab on every BatchScan node over a manifest table, which is how an
  * operator VERIFIES the economics this sink promises — `filesPruned`
  * shows zone maps/blooms doing their job per query, `dvRowsSkipped`
  * shows merge-on-read debt accumulating (the signal to schedule
  * `optimize`/`applyDeletes`), `filesRead` × file size is the scan's real
  * IO. Sum-aggregated across tasks; the planning-time numbers arrive via
  * `reportDriverMetrics`. */
/** One top-level zero-arg class per metric: Spark re-instantiates the
  * metric class REFLECTIVELY when aggregating task metrics for the UI
  * (SQLAppStatusListener) — a parameterized class breaks that silently
  * (the listener logs and drops the metric). */
private[sources] class FilesReadMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesRead"
  override def description(): String = "data files opened"
}
private[sources] class DvRowsSkippedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "dvRowsSkipped"
  override def description(): String = "deletion-vector rows skipped (merge-on-read)"
}
private[sources] class FilesPrunedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesPruned"
  override def description(): String = "files skipped by zone maps / blooms"
}
private[sources] class SplitsPlannedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "splitsPlanned"
  override def description(): String = "scan splits planned"
}

private case class GraftTaskMetric(metricName: String, metricValue: Long)
  extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

/** One mutation match-scan candidate: everything an executor task needs to
  * scan one data file — its name, the DDL it was written under (evolution
  * reconciliation happens in the task), and its already-deleted positions
  * — plus its manifest row count, from which an always-true match derives
  * the live positions without a scan. */
private[sources] final case class MatchCandidate(
    file: String, ddl: String, deleted: Array[Long], rows: Long)

/** EXECUTOR-side kernels of the mutation match scan — a stateless,
  * serializable-by-construction holder so the RDD closures in
  * [[ManifestFileSink.deleteWhere]]/[[ManifestFileSink.mergeUpsert]]/
  * [[ManifestFileSink.replaceWhere]] capture nothing but plain values
  * (path string, schema, filter). Each function opens exactly one data
  * file inside a running task; an invocation with no TaskContext is a
  * driver-side read and trips [[ManifestFileSink.driverMatchFileReads]]. */
private[sources] object MatchScan extends Serializable {

  /** Stream one candidate file's LIVE rows (already-deleted positions
    * skipped), evolution-reconciled to `schema`. */
  private def foreachLiveRow(
      tablePath: String, c: MatchCandidate, schema: StructType)(
      f: (Long, InternalRow) => Unit): Unit = {
    if (org.apache.spark.TaskContext.get() == null)
      ManifestFileSink.driverMatchFileReads.incrementAndGet()
    val fileSchema = ManifestFileSink.asNullable(StructType.fromDDL(c.ddl))
    val proj = ManifestFileSink.evolutionProjection(schema, fileSchema)
    val evolved = fileSchema != schema
    val r = Files.newBufferedReader(
      Paths.get(tablePath, "data", c.file), StandardCharsets.UTF_8)
    try {
      var idx = 0L
      var ai = 0
      var line = r.readLine()
      while (line != null) {
        if (ai < c.deleted.length && c.deleted(ai) == idx) ai += 1 // dead row
        else {
          val raw = ManifestFileSink.parse(line, fileSchema)
          val row = if (!evolved) raw else InternalRow.fromSeq(
            schema.fields.indices.map { i =>
              val fi = proj(i)
              if (fi < 0) null else raw.get(fi, fileSchema.fields(fi).dataType)
            })
          f(idx, row)
        }
        idx += 1
        line = r.readLine()
      }
    } finally r.close()
  }

  /** Positions of live rows satisfying `filter` (exact 3VL — only
    * definitively-TRUE deletes), as one (file, positions) summary. */
  def filterPositions(
      tablePath: String, c: MatchCandidate, schema: StructType,
      filter: org.apache.spark.sql.sources.Filter): Option[(String, Array[Long])] = {
    val hits = new scala.collection.mutable.ArrayBuilder.ofLong
    foreachLiveRow(tablePath, c, schema) { (idx, row) =>
      if (ManifestFileSink.evalFilter(filter, row, schema).contains(true)) hits += idx
    }
    val ps = hits.result()
    if (ps.isEmpty) None else Some(c.file -> ps)
  }

  /** A row's merge-key value as a plain JVM value with stable
    * equals/hashCode across both sides of the semi-join. NULL keys match
    * nothing (SQL equality); NaN keys match NaN, Spark's own join
    * semantics (boxed Double equality is bitwise, which gives exactly
    * that). */
  private def keyValue(row: InternalRow, idx: Int, dt: DataType): Any =
    if (row.isNullAt(idx)) null
    else dt match {
      case LongType    => row.getLong(idx)
      case IntegerType => row.getInt(idx)
      case DoubleType  => row.getDouble(idx)
      case BooleanType => row.getBoolean(idx)
      case StringType  => row.getUTF8String(idx).toString
      case other => throw new IllegalArgumentException(s"unsupported merge key type $other")
    }

  /** Distinct-able key stream of one JUST-WRITTEN task file (written under
    * exactly `schema` — no evolution). */
  def fileKeys(
      tablePath: String, file: String, schema: StructType, key: String): Seq[Any] = {
    val idx = schema.fieldIndex(key)
    val dt = schema.fields(idx).dataType
    val c = MatchCandidate(file, schema.toDDL, Array.empty[Long], 0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    foreachLiveRow(tablePath, c, schema) { (_, row) =>
      val k = keyValue(row, idx, dt)
      if (k != null) out += k
    }
    out.toSeq
  }

  /** (key, (file, pos)) stream of one candidate's live rows — the probe
    * side of the merge retraction semi-join. */
  def liveKeyPositions(
      tablePath: String, c: MatchCandidate, schema: StructType,
      key: String): Seq[(Any, (String, Long))] = {
    val idx = schema.fieldIndex(key)
    val dt = schema.fields(idx).dataType
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, (String, Long))]
    foreachLiveRow(tablePath, c, schema) { (pos, row) =>
      val k = keyValue(row, idx, dt)
      if (k != null) out += ((k, (c.file, pos)))
    }
    out.toSeq
  }
}

/** Atomic CTAS/RTAS staging ([[GraftCatalog.stageCreate]]/`stageReplace`):
  * the write job runs with the sink's normal task mechanics (attempt-unique
  * invisible files, zone-map + bloom stats accumulated), but the
  * BatchWrite's `commit` only STASHES the task-commit messages — nothing
  * publishes until Spark calls [[commitStagedChanges]], after the query
  * has fully succeeded. Visibility IS manifest publication, so atomicity
  * needs no temp-directory dance: a `CREATE TABLE … AS SELECT` whose
  * query fails leaves a directory with no manifest (invisible to
  * `exists`, reclaimed by abort), and a `REPLACE TABLE … AS SELECT`
  * folds retract-everything + new files into ONE manifest
  * ([[ManifestFileSink.commitReplaceTable]]) with history intact. */
private[sources] class StagedManifestTable(
    path: String, stagedSchema: StructType, replace: Boolean, createdDir: Boolean,
    partitionCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.catalog.StagedTable with SupportsWrite {

  ManifestFileSink.vetWritable(stagedSchema)

  private val staged =
    new java.util.concurrent.atomic.AtomicReference[Array[WriterCommitMessage]](Array.empty)

  override def name(): String = s"staged_manifest($path)"
  override def schema(): StructType = stagedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // RTAS plans its write as overwrite-by-AlwaysTrue (truncate): accept
    // and ignore it — commitStagedChanges' replace commit retracts every
    // pre-existing row anyway, so the "overwrite" IS the staged publish.
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        require(filters.forall(ManifestFileSink.isAlwaysTrue),
          "a staged REPLACE TABLE write can only overwrite everything")
        this
      }
      // CTAS/RTAS files land clustered, sorted and attested from birth;
      // staged writes are always catalog-door.
      override def build(): Write = new ManifestWrite(path, stagedSchema,
          partitionCols.map(ManifestFileSink.parsePartField), bucketByTransform = true) {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            new ManifestWriterFactory(path, stagedSchema, partitionCols,
              ManifestFileSink.boundChecks(path, stagedSchema))
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            staged.set(messages) // deferred to commitStagedChanges
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            ManifestFileSink.deleteCommitted(path, messages)
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    // The partitioning declaration becomes durable only WITH the data:
    // a failed CTAS leaves no control file behind, an RTAS that changes
    // the partition column swaps it with the replace commit's retraction
    // of every old-layout row, and an RTAS WITHOUT a PARTITIONED BY
    // clause un-declares the layout (REPLACE defines the whole table).
    partitionCols match {
      case cs if cs.nonEmpty => ManifestFileSink.setPartitionColumns(path, cs)
      case _ if replace =>
        Files.deleteIfExists(Paths.get(path, "_partition")); ()
      case _ =>
    }
    if (replace)
      ManifestFileSink.commitReplaceTable(path, stagedSchema, staged.get)
    else {
      // CREATE: refuse if a concurrent create published first — the
      // staged files stay invisible and are cleaned like an abort.
      if (ManifestFileSink.manifests(path).nonEmpty) {
        abortStagedChanges()
        throw new IllegalStateException(
          s"CTAS lost a concurrent CREATE race on $path; staged results discarded")
      }
      ManifestFileSink.publish(path,
        s"manifest-${java.util.UUID.randomUUID().toString}", stagedSchema, staged.get)
    }
  }

  override def abortStagedChanges(): Unit = {
    ManifestFileSink.deleteCommitted(path, staged.get)
    // A CTAS-created dir with nothing published disappears entirely.
    if (createdDir && ManifestFileSink.manifests(path).isEmpty) {
      val p = Paths.get(path)
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
  }
}

/** The layout every manifest write asks Spark for. A partitioned table
  * asks to cluster incoming rows by its partition fields (advisory, not
  * strict): the pre-write shuffle sends each partition value to one task,
  * so the demux writer emits one file per value instead of |tasks|×|values|
  * shards; the demux writer stays the correctness backstop either way. An
  * unpartitioned table reports an unspecified distribution. With
  * `bucketByTransform` (the catalog door, whose FunctionCatalog resolves
  * the transform) a bucket field clusters by its bucket id, so one task
  * owns one bucket and writes ONE file; otherwise (the path door) by
  * identity(col) — a refinement of bucket-clustering (equal keys still
  * co-locate), and the demux writer groups each task's values into its
  * buckets.
  *
  * Each task then sorts on the partition SOURCE columns (then any declared
  * sort columns): each demuxed file receives its rows in non-decreasing
  * key order, the writer's row-by-row verification attests it, and the
  * scan can report a per-partition ordering — co-partitioned sort-merge
  * joins drop BOTH their exchanges and their sorts, and per-key windows
  * over a declared sort column drop theirs too. One in-memory sort per
  * write task buys every future join's/window's sort back. */
private[sources] abstract class ManifestWrite(
    path: String, schema: StructType, fields: Seq[ManifestFileSink.PartField],
    bucketByTransform: Boolean)
  extends Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}

  private val pfields = fields.filter(f => schema.fieldNames.contains(f.col))

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (pfields.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(pfields.map {
        case ManifestFileSink.BucketPart(n, c) if bucketByTransform =>
          Expressions.bucket(n, c): Expression
        case f => Expressions.identity(f.col): Expression
      }.toArray)
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[SortOrder] =
    (pfields.map(_.col) ++ ManifestFileSink.sortColumns(path)
      .filter(schema.fieldNames.contains)).distinct.map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
}

private class ManifestBatchWrite(path: String, schema: StructType,
    wapId: Option[String] = None) extends BatchWrite {

  ManifestFileSink.vetWritable(schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(path, schema,
      ManifestFileSink.partitionColumns(path),
      ManifestFileSink.boundChecks(path, schema))

  /** The atomic visibility point: only files that made it into a task
    * commit message are listed — an attempt that wrote bytes but never
    * committed stays permanently invisible. The UUID name never collides,
    * so batch publication is unconditional. A WAP id stages the commit
    * instead of publishing it (`staged=` header marker). */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ManifestFileSink.publish(path,
      s"manifest-${java.util.UUID.randomUUID().toString}", schema, messages,
      staged = wapId)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestFileSink.deleteCommitted(path, messages)
}

/** INSERT OVERWRITE's BatchWrite: task mechanics identical to append
  * (attempt-unique invisible files, stats accumulated), the COMMIT is the
  * replaceWhere shape — filter-scoped retraction + new files, one atomic
  * manifest ([[ManifestFileSink.commitOverwrite]]). */
private class ManifestOverwriteBatchWrite(
    path: String, schema: StructType,
    filter: org.apache.spark.sql.sources.Filter) extends BatchWrite {

  ManifestFileSink.vetWritable(schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(path, schema,
      ManifestFileSink.partitionColumns(path),
      ManifestFileSink.boundChecks(path, schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ManifestFileSink.commitOverwrite(path, schema, filter, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestFileSink.deleteCommitted(path, messages)
}

/** Delta-based row-level operation (SQL UPDATE / MERGE INTO / DELETE):
  * the scan serves rows + their (`_file`, `_pos`) row ids; Catalyst's
  * rewrite feeds per-row actions to [[ManifestDeltaWriter]]s; the commit
  * publishes retraction vectors + inserted files atomically. */
private class ManifestRowLevelOperation(
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  // Serializable-semantics pin: taken when the operation is BUILT (the
  // scan reads this snapshot); the commit refuses if the table advanced.
  private val pin = ManifestFileSink.latestManifest(path)

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val schema = ManifestFileSink.storedSchema(path, None).getOrElse(new StructType())
    new ManifestTable(path, schema, acceptAnySchema = false).newScanBuilder(options)
  }

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(ManifestFileSink.FileCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(ManifestFileSink.PosCol))

  override def newWriteBuilder(
      info: LogicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new ManifestDeltaBatchWrite(path, info.schema(), pin)
        }
    }
}

/** One task attempt's delta outcome: optionally a committed insert file,
  * plus the (file → positions) retractions this task's delete/update
  * actions produced. */
private case class DeltaTaskCommit(
    inserted: Option[CommittedFile],
    retractions: Map[String, Array[Long]]) extends WriterCommitMessage

private class ManifestDeltaBatchWrite(
    path: String, schema: StructType, pin: Option[String])
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  ManifestFileSink.vetWritable(schema)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new ManifestDeltaWriterFactory(path, schema,
      ManifestFileSink.boundChecks(path, schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ManifestFileSink.commitDelta(path, schema, pin, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case DeltaTaskCommit(Some(CommittedFile(f, _, _)), _) =>
        Files.deleteIfExists(Paths.get(path, "data", f))
      case _ =>
    }
}

/** Top-level (shipped to executors) — the anonymous-class form would drag
  * the non-serializable batch write along as its outer instance. */
private class ManifestDeltaWriterFactory(path: String, schema: StructType,
    checks: Seq[ManifestFileSink.CheckSpec] = Nil)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new ManifestDeltaWriter(path, schema, f"part-d$partitionId%05d-$taskId", checks)
}

/** Executor-side delta writer: inserts stream into an attempt-unique task
  * file (zone-map stats included, invisible until publish — the sink's
  * normal write mechanics), delete/update row ids accumulate as per-file
  * position lists. An update is its retraction + its reinsert. */
private class ManifestDeltaWriter(path: String, schema: StructType, name: String,
    checks: Seq[ManifestFileSink.CheckSpec] = Nil)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  // UPDATE reinserts and MERGE inserts flow through insert(), so CHECK
  // constraints guard row-level mutations with the same predicate the
  // append path compiles.
  private val checkEval =
    if (checks.isEmpty) null else new CheckEval(checks, schema)

  private var out: ManifestDataWriter = null
  private val dels = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  private def retract(id: InternalRow): Unit = {
    // rowId order: (_file STRING, _pos BIGINT). Copy the string out of
    // the reused buffer.
    val f = id.getUTF8String(0).toString
    dels.getOrElseUpdate(f, scala.collection.mutable.ArrayBuffer.empty) += id.getLong(1)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = retract(id)

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    retract(id); insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (checkEval != null) checkEval.verify(row)
    if (out == null) out = new ManifestDataWriter(path, schema, name)
    out.write(row)
  }

  override def commit(): WriterCommitMessage =
    DeltaTaskCommit(
      Option(out).map(_.commit().asInstanceOf[CommittedFile]),
      dels.view.mapValues(_.toArray).toMap)

  override def abort(): Unit =
    if (out != null) Files.deleteIfExists(Paths.get(path, "data", name))

  override def close(): Unit = ()
}

private class ManifestWriterFactory(
    path: String, schema: StructType, partitionCols: Seq[String] = Nil,
    checks: Seq[ManifestFileSink.CheckSpec] = Nil)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // taskId is unique per attempt, so a speculative/retried attempt
    // can never clobber another attempt's file.
    val base = f"part-$partitionId%05d-$taskId"
    val fields = partitionCols.map(ManifestFileSink.parsePartField)
    val idxs = fields.map(f => schema.fieldNames.indexOf(f.col))
    val inner: DataWriter[InternalRow] =
      if (idxs.forall(_ >= 0) && idxs.nonEmpty)
        new ManifestPartitionedDataWriter(path, schema, base, fields.zip(idxs))
      else new ManifestDataWriter(path, schema, base,
        sortIdx = ManifestFileSink.writeSortIdx(path, schema))
    if (checks.isEmpty) inner else new CheckingDataWriter(inner, checks, schema)
  }
}

/** Executor-side CHECK evaluation: the driver-bound violation predicates
  * compile ONCE per task (codegen) and evaluate inline per row. */
private class CheckEval(checks: Seq[ManifestFileSink.CheckSpec], schema: StructType)
  extends Serializable {
  private val preds = checks.map(c =>
    org.apache.spark.sql.catalyst.expressions.Predicate.create(c.violation)).toArray
  preds.foreach(_.initialize(0))
  def verify(record: InternalRow): Unit = {
    var i = 0
    while (i < preds.length) {
      if (preds(i).eval(record)) {
        val render = record.toSeq(schema).mkString("[", ", ", "]")
        throw new IllegalStateException(
          s"CHECK constraint '${checks(i).name}' (${checks(i).sql}) violated by row " +
            (if (render.length > 300) render.take(300) + "…" else render))
      }
      i += 1
    }
  }
}

/** Wraps any data writer with per-row CHECK enforcement: a violation
  * fails the task before a byte lands, and the atomic manifest commit
  * therefore never publishes a partial batch. */
private class CheckingDataWriter(
    inner: DataWriter[InternalRow],
    checks: Seq[ManifestFileSink.CheckSpec],
    schema: StructType) extends DataWriter[InternalRow] {
  private val eval = new CheckEval(checks, schema)
  override def write(record: InternalRow): Unit = {
    eval.verify(record); inner.write(record)
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Executor-side demultiplexing writer for an identity-partitioned table:
  * rows route to one underlying [[ManifestDataWriter]] per partition
  * value TUPLE this task sees, so every data file holds exactly one value
  * of every partition column and its zone maps record min == max per
  * column — the claim the scan turns into a (possibly composite)
  * `KeyGroupedPartitioning`. The write itself requests a clustered
  * distribution on the partition columns (RequiresDistributionAndOrdering
  * in [[ManifestTable]]), so a task normally sees FEW values; the demux
  * is the correctness backstop when the caller pre-shuffled differently.
  * NULL partition values get their own file — they disable SPJ reporting
  * at scan time (a null group has no zone-map claim) but never break the
  * write. */
private class ManifestPartitionedDataWriter(
    path: String, schema: StructType, base: String,
    fields: Seq[(ManifestFileSink.PartField, Int)])
  extends DataWriter[InternalRow] {

  // Keyed on Seq[Option[String]] — one element per partition field, None
  // IS the NULL key for that field, so no string sentinel exists for a
  // legal value to collide with (any string value, including ones
  // starting with control bytes, demuxes to its own file). A bucket
  // field's token is its bucket id.
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Seq[Option[String]], ManifestDataWriter]

  private def tokenOf(record: InternalRow): Seq[Option[String]] =
    fields.map { case (field, colIdx) =>
      if (record.isNullAt(colIdx)) None
      else {
        val dt = schema.fields(colIdx).dataType
        val raw: Any = dt match {
          case LongType    => record.getLong(colIdx)
          case IntegerType => record.getInt(colIdx)
          case StringType  => record.getUTF8String(colIdx)
          case other => throw new IllegalArgumentException(
            s"unsupported partition column type $other")
        }
        Some(field match {
          case ManifestFileSink.IdentityPart(_) => raw.toString
          case ManifestFileSink.BucketPart(n, _) =>
            ManifestFileSink.bucketIdOf(dt, raw, n).toString
        })
      }
    }

  /** Bucket-field attestation riding the stats map (index −1): the scan
    * cannot re-derive a file's bucket id from zone maps, so the writer
    * that DID the demux records it — but only when every bucket field
    * has a non-null token (a null key has no bucket; the file then
    * proves nothing and SPJ degrades). */
  private def attestation(token: Seq[Option[String]]): Map[Int, ManifestFileSink.ColStats] = {
    val bk = fields.zip(token).collect {
      case ((b: ManifestFileSink.BucketPart, _), t) => (b, t)
    }
    if (bk.isEmpty || bk.exists(_._2.isEmpty)) Map.empty
    else {
      val tok = bk.map { case (b, t) => s"${b.spec}=${t.get}" }.mkString(",")
      Map(ManifestFileSink.PartKeyStatsIdx ->
        ManifestFileSink.ColStats(tok, tok, hasNull = false))
    }
  }

  // Every row routed to one file is a subsequence of the task's row
  // stream, and a subsequence of a sorted stream is sorted — so when the
  // V2 write's requested ordering (partition source columns, then any
  // declared sort columns) was honored, EVERY demuxed file self-verifies
  // and attests the full list.
  private val sortIdx: Seq[Int] = ManifestFileSink.writeSortIdx(path, schema)

  override def write(record: InternalRow): Unit = {
    val token = tokenOf(record)
    writers.getOrElseUpdate(token,
      new ManifestDataWriter(path, schema, s"$base-p${writers.size}",
        attestation(token), sortIdx))
      .write(record)
  }

  override def commit(): WriterCommitMessage =
    CommittedFiles(writers.values.map(_.commit().asInstanceOf[CommittedFile]).toSeq)

  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

private class ManifestDataWriter(path: String, schema: StructType, name: String,
    extraStats: Map[Int, ManifestFileSink.ColStats] = Map.empty,
    sortIdx: Seq[Int] = Nil)
  extends DataWriter[InternalRow] {

  // Sort-attestation state: verify, row by row, that this file's rows
  // arrive non-decreasing on `sortIdx` (nulls first — Spark's default
  // ascending order), and attest it at commit. Partition source columns
  // are Long/Int/String by demux contract; anything else disables the
  // check rather than mis-attesting.
  private val sortEnabled = sortIdx.nonEmpty && sortIdx.forall(i =>
    i >= 0 && i < schema.length && (schema.fields(i).dataType match {
      case LongType | IntegerType | StringType => true
      case _ => false
    }))
  private var sortOk = sortEnabled
  private var prevSortKey: Array[Any] = null

  private def sortKeyOf(record: InternalRow): Array[Any] = {
    val k = new Array[Any](sortIdx.length)
    var j = 0
    while (j < sortIdx.length) {
      val i = sortIdx(j)
      k(j) =
        if (record.isNullAt(i)) null
        else schema.fields(i).dataType match {
          case LongType    => java.lang.Long.valueOf(record.getLong(i))
          case IntegerType => java.lang.Long.valueOf(record.getInt(i).toLong)
          // clone: the row's UTF8String buffer is reused between records
          case _           => record.getUTF8String(i).clone()
        }
      j += 1
    }
    k
  }

  private def cmpSortKey(a: Array[Any], b: Array[Any]): Int = {
    var j = 0
    while (j < a.length) {
      val c = (a(j), b(j)) match {
        case (null, null)                           => 0
        case (null, _)                              => -1
        case (_, null)                              => 1
        case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
        case (x: UTF8String, y: UTF8String)         => x.compareTo(y)
        case _                                      => 0
      }
      if (c != 0) return c
      j += 1
    }
    0
  }

  private val file = Paths.get(path, "data", name)
  Files.createDirectories(file.getParent)
  private val out = Files.newBufferedWriter(file, StandardCharsets.UTF_8,
    StandardOpenOption.CREATE_NEW)
  private var rows = 0L

  // Zone-map accumulation: one pass, O(numeric columns) per row, done
  // while the row is already in hand — statistics cost nothing extra at
  // write time, and buy file skipping on every future read. NaN poisons
  // its column (ordered min/max are meaningless; the column simply stops
  // claiming stats — conservative, never wrong).
  private val statIdx = schema.fields.indices.filter(i => schema.fields(i).dataType match {
    case LongType | IntegerType | DoubleType | StringType => true
    case _ => false
  })
  private val minL = Array.fill(schema.length)(Long.MaxValue)
  private val maxL = Array.fill(schema.length)(Long.MinValue)
  private val minD = Array.fill(schema.length)(Double.PositiveInfinity)
  private val maxD = Array.fill(schema.length)(Double.NegativeInfinity)
  // String bounds in UTF8String BINARY order (clone: the row's buffer is
  // reused between records).
  private val minS = Array.fill[UTF8String](schema.length)(null)
  private val maxS = Array.fill[UTF8String](schema.length)(null)
  private val hasNull = Array.fill(schema.length)(false)
  private val sawValue = Array.fill(schema.length)(false)
  private val poisoned = Array.fill(schema.length)(false)

  // Bloom accumulation for the table's designated index columns (the
  // `_bloom` control file, read once per task): long/int hash the value
  // directly, strings hash their UTF-8 bytes. Doubles are not bloomed
  // (equality probes on floats are not a sane index workload).
  private val bloomIdx: Seq[Int] = {
    val cols = ManifestFileSink.bloomColumns(path)
    if (cols.isEmpty) Seq.empty
    else schema.fields.indices.filter { i =>
      cols.contains(schema.fields(i).name) && (schema.fields(i).dataType match {
        case LongType | IntegerType | StringType => true
        case _ => false
      })
    }
  }
  private val bloomBits: Map[Int, Array[Long]] =
    bloomIdx.map(i => i -> Array.fill(ManifestFileSink.BloomBits / 64)(0L)).toMap

  // Trigram text index (the `_trgm` control file): every 3-byte window
  // of a designated STRING column folds into a large per-file Bloom —
  // the substring-pruning index (see ManifestFileSink.setTrigramIndex).
  private val trgmIdx: Seq[Int] = {
    val cols = ManifestFileSink.trigramColumns(path)
    if (cols.isEmpty) Seq.empty
    else schema.fields.indices.filter(i =>
      cols.contains(schema.fields(i).name) &&
        schema.fields(i).dataType == StringType)
  }
  private val trgmBits: Map[Int, Array[Long]] =
    trgmIdx.map(i => i -> Array.fill(ManifestFileSink.TrgmBloomBits / 64)(0L)).toMap

  override def write(record: InternalRow): Unit = {
    out.write(ManifestFileSink.render(record, schema)); out.write("\n")
    if (sortOk) {
      val k = sortKeyOf(record)
      if (prevSortKey != null && cmpSortKey(prevSortKey, k) > 0) sortOk = false
      prevSortKey = k
    }
    bloomIdx.foreach { i =>
      if (!record.isNullAt(i)) {
        val h = schema.fields(i).dataType match {
          case LongType => ManifestFileSink.bloomHashLong(record.getLong(i))
          case IntegerType => ManifestFileSink.bloomHashLong(record.getInt(i).toLong)
          case StringType => ManifestFileSink.bloomHashBytes(record.getUTF8String(i).getBytes)
          case _ => 0L
        }
        ManifestFileSink.bloomSet(bloomBits(i), h)
      }
    }
    trgmIdx.foreach { i =>
      if (!record.isNullAt(i)) {
        val b = record.getUTF8String(i).getBytes
        val bits = trgmBits(i)
        var j = 0
        while (j + 3 <= b.length) {
          ManifestFileSink.bloomSet(bits, ManifestFileSink.trgmHash(b, j))
          j += 1
        }
      }
    }
    statIdx.foreach { i =>
      if (record.isNullAt(i)) hasNull(i) = true
      else schema.fields(i).dataType match {
        case LongType =>
          val v = record.getLong(i)
          if (v < minL(i)) minL(i) = v
          if (v > maxL(i)) maxL(i) = v
          sawValue(i) = true
        case IntegerType =>
          val v = record.getInt(i).toLong
          if (v < minL(i)) minL(i) = v
          if (v > maxL(i)) maxL(i) = v
          sawValue(i) = true
        case DoubleType =>
          val v = record.getDouble(i)
          if (v.isNaN) poisoned(i) = true
          else {
            if (v < minD(i)) minD(i) = v
            if (v > maxD(i)) maxD(i) = v
            sawValue(i) = true
          }
        case StringType =>
          val v = record.getUTF8String(i)
          if (minS(i) == null || v.compareTo(minS(i)) < 0) minS(i) = v.clone()
          if (maxS(i) == null || v.compareTo(maxS(i)) > 0) maxS(i) = v.clone()
          sawValue(i) = true
        case _ =>
      }
    }
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    val stats = statIdx.filterNot(poisoned).flatMap { i =>
      if (!sawValue(i))
        Some(i -> ManifestFileSink.ColStats("", "", hasNull(i)))
      else schema.fields(i).dataType match {
        case DoubleType =>
          Some(i -> ManifestFileSink.ColStats(minD(i).toString, maxD(i).toString, hasNull(i)))
        case IntegerType =>
          Some(i -> ManifestFileSink.ColStats(minL(i).toInt.toString, maxL(i).toInt.toString, hasNull(i)))
        case StringType =>
          // Record only compact, unambiguous bounds: ≤ 24 bytes each (text
          // columns never prune and would bloat the manifest) and a
          // non-empty min (empty string collides with the no-values
          // sentinel). No claim is always safe.
          if (minS(i).numBytes > 0 && minS(i).numBytes <= 24 && maxS(i).numBytes <= 24)
            Some(i -> ManifestFileSink.ColStats(minS(i).toString, maxS(i).toString, hasNull(i)))
          else None
        case _ =>
          Some(i -> ManifestFileSink.ColStats(minL(i).toString, maxL(i).toString, hasNull(i)))
      }
    }.toMap
    // Attach Bloom bitsets to their columns' entries; a bloomed column
    // whose bounds were unrecordable (long string bounds) gets a
    // RANGELESS carrier entry — bloom claim without a range claim.
    val bloomed = bloomIdx.filter(sawValue).map { i =>
      val bl = Some(bloomBits(i))
      stats.get(i) match {
        case Some(cs) => i -> cs.copy(bloom = bl)
        case None => i -> ManifestFileSink.ColStats("", "", hasNull(i), bl, rangeless = true)
      }
    }.toMap
    // Trigram blooms ride reserved NEGATIVE pseudo-indices (−(col+2)) as
    // rangeless bloom carriers — invisible to every ≥0 stats consumer.
    val trgmStats = trgmIdx.filter(sawValue).map { i =>
      ManifestFileSink.trgmStatsIdx(i) ->
        ManifestFileSink.ColStats("", "", hasNull(i), Some(trgmBits(i)), rangeless = true)
    }.toMap
    val sortStats =
      if (sortOk && rows > 0) {
        val tok = sortIdx.map(schema.fields(_).name).mkString(",")
        Map(ManifestFileSink.SortKeyStatsIdx ->
          ManifestFileSink.ColStats(tok, tok, hasNull = false))
      } else Map.empty[Int, ManifestFileSink.ColStats]
    CommittedFile(name, rows,
      ManifestFileSink.encodeStats(stats ++ bloomed ++ trgmStats ++ sortStats ++ extraStats))
  }
  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(file)
  }
  override def close(): Unit = ()
}

/** Streaming half of the write protocol: identical task-file mechanics,
  * but the job-level commit is keyed by `epochId` — the micro-batch id the
  * engine replays VERBATIM after a failure. The manifest is named by
  * epoch, so a replayed epoch whose predecessor already published finds
  * the manifest present, deletes its own (duplicate) task files, and
  * publishes nothing — see [[ManifestFileSink.publish]] for the exact
  * guarantee (sequential replay fenced; a concurrent zombie driver
  * converges to one complete manifest of the same epoch's data). Sink-side
  * idempotency + the engine's replay = end-to-end exactly-once, the same
  * contract H2Sink.writeBatch implements with a staging-table swap. */
private class ManifestStreamingWrite(path: String, schema: StructType,
    wapId: Option[String] = None)
  extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ManifestStreamingWriterFactory(path, schema,
      ManifestFileSink.partitionColumns(path),
      ManifestFileSink.boundChecks(path, schema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // Staged epochs get wap-scoped manifest names so a restarted staged
    // run keeps its per-epoch replay idempotence without colliding with
    // main-line epoch names (or another stage's).
    val name = wapId.fold(f"manifest-e$epochId%012d")(id =>
      f"manifest-wap-$id-e$epochId%012d")
    val published = ManifestFileSink.publish(
      path, name, schema, messages, staged = wapId)
    if (!published) ManifestFileSink.deleteCommitted(path, messages)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ManifestFileSink.deleteCommitted(path, messages)
}

/** Top-level (not an inner class of the non-serializable write) — it is
  * shipped to executors. */
private class ManifestStreamingWriterFactory(
    path: String, schema: StructType, partitionCols: Seq[String] = Nil,
    checks: Seq[ManifestFileSink.CheckSpec] = Nil)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    // Epoch in the name is for operator forensics only; uniqueness
    // still rests on the attempt-unique taskId.
    val base = f"part-e$epochId-$partitionId%05d-$taskId"
    val fields = partitionCols.map(ManifestFileSink.parsePartField)
    val idxs = fields.map(f => schema.fieldNames.indexOf(f.col))
    val inner: DataWriter[InternalRow] =
      if (idxs.forall(_ >= 0) && idxs.nonEmpty)
        new ManifestPartitionedDataWriter(path, schema, base, fields.zip(idxs))
      else new ManifestDataWriter(path, schema, base,
        sortIdx = ManifestFileSink.writeSortIdx(path, schema))
    if (checks.isEmpty) inner else new CheckingDataWriter(inner, checks, schema)
  }
}

/** `deleted` — the sorted union of this file's visible deletion vectors;
  * the reader subtracts them while streaming (merge-on-read). `ddl` — the
  * schema the file was WRITTEN under (empty = the read schema); the
  * reader reconciles by name, backfilling NULL for columns the file
  * predates. `weight` — 0: plain read (no weight column); +1: every live
  * row emitted with `_change_weight` 1; −1: ONLY the positions in
  * `deleted` are emitted (the retracted row images), with weight −1. */
private case class FileSplit(
    file: String, deleted: Array[Long] = Array.empty,
    ddl: String = "", weight: Int = 0)

/** One scan task's files, read one after another by one reader; each
  * keeps its own vector, DDL, weight and `_file`/`_pos`. */
private case class FileGroup(files: Seq[FileSplit]) extends InputPartition

private object FileGroup {
  /** On-disk bytes of a data file; a missing file counts 0. */
  def bytes(path: String, file: String): Long =
    try Files.size(Paths.get(path, "data", file))
    catch { case _: java.nio.file.NoSuchFileException => 0L }

  /** Packs splits into tasks by bytes, with the rule Spark's own file
    * sources use (`FilePartition.maxSplitBytes` / `getFilePartitions`):
    * each file costs its bytes plus `spark.sql.files.openCostInBytes`; a
    * task holds at most `min(spark.sql.files.maxPartitionBytes,
    * max(openCost, totalCost / minPartitionNum))`, where minPartitionNum
    * is `spark.sql.files.minPartitionNum` or else the default
    * parallelism; files are placed next-fit decreasing. Many small
    * commits then read in about one task per core instead of one task per
    * file, while files of about a core's share each keep a task. */
  def pack(splits: Seq[FileSplit], bytesOf: String => Long): Array[InputPartition] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val minParts = conf.filesMinPartitionNum.getOrElse(
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    val sized = splits.map(s => (s, bytesOf(s.file))).sortBy(-_._2)
    val total = sized.iterator.map(_._2 + openCost).sum
    val cap = math.min(conf.filesMaxPartitionBytes, math.max(openCost, total / minParts))
    val groups = Array.newBuilder[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[FileSplit]
    var curBytes = 0L
    def close(): Unit = if (cur.nonEmpty) {
      groups += FileGroup(cur.toSeq); cur.clear(); curBytes = 0L
    }
    sized.foreach { case (s, b) =>
      if (curBytes + b > cap) close()
      cur += s; curBytes += b + openCost
    }
    close()
    groups.result()
  }
}

/** Scan serving a COMPLETELY pushed-down aggregate from manifest
  * metadata. Its result rows ([[ManifestFileSink.deriveAggregate]]: one
  * row for a global aggregate, one per group for a pushed GROUP BY over
  * identity partition columns; values in Catalyst form, Long / Int /
  * Double / UTF8String / null) exist at planning, so it is a `LocalScan`:
  * [[MetadataAnswerStrategy]] plans it as a driver-side leaf that opens
  * no data file and runs no Spark job. */
private class ManifestAggScan(path: String, aggSchema: StructType, values: Seq[Seq[Any]])
  extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"ManifestAggScan($path, metadata-answered: ${aggSchema.fieldNames.mkString(", ")})"
  override def rows(): Array[InternalRow] = values.map(InternalRow.fromSeq).toArray
}

/** A [[FileSplit]] of an identity-partitioned table, claiming its single
  * partition value (`key` is already in Catalyst form: Long / Int /
  * UTF8String). Spark groups splits by [[partitionKey]] into one logical
  * partition per value and — with both join sides reporting compatible
  * `KeyGroupedPartitioning` — plans a storage-partitioned join with no
  * exchange. */
private case class KeyedFileSplit(split: FileSplit, key: Seq[Any])
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(key.toArray)
}

private class ManifestScan(
    snapshot: ManifestFileSink.Snapshot, schema: StructType,
    since: Option[String] = None,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    ignoreDeletes: Boolean = false,
    weighted: Boolean = false,
    limit: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  // Everything this scan knows of the table comes from `snapshot`, the
  // [[ManifestFileSink.Snapshot]] its builder resolved ONCE for the whole
  // query — the same one the aggregate derivation and the reported schema
  // read — shared by the planner statistics, the static plan and any
  // runtime re-plan: one listing, one read of each manifest, and no window
  // in which a commit landing between two listings could pair one
  // snapshot's files with another's vectors.
  private val path = snapshot.path

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** The table's identity-partition columns, when this scan can honor
    * them: plain batch reads only (a change feed's −1 retraction splits
    * have no single-value claim) and only the columns that survive
    * pruning (the reported clustering must resolve against the scan
    * output — a pruned-away trailing column drops out of the report,
    * which stays valid: every file is still single-valued in the
    * surviving columns). */
  private lazy val partFields: Seq[ManifestFileSink.PartField] =
    if (since.nonEmpty || weighted) Nil
    else ManifestFileSink.partitionFields(path)
      .filter(f => schema.fieldNames.contains(f.col))

  private lazy val partCols: Seq[String] = partFields.collect {
    case ManifestFileSink.IdentityPart(c) => c
  }

  /** Runtime (dynamic) file pruning: Spark injects the build side's join
    * keys as IN filters at execution start — the zone maps then skip
    * files exactly as they do for static predicates, so a broadcast join
    * probing a narrow key range opens only the files whose min/max admit
    * it (DSv2's dynamic partition pruning, at file granularity). Every
    * data column participates; stats-free files are always kept. */
  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.fieldNames
      .filterNot(n => n == ManifestFileSink.WeightCol ||
        n == ManifestFileSink.FileCol || n == ManifestFileSink.PosCol)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = filters

  // Planning-time observability, published through reportDriverMetrics
  // after the (last) computeSplits run — the one whose splits execute.
  @volatile private var prunedFileCount = 0L
  @volatile private var plannedSplitCount = 0L

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new FilesReadMetric, new DvRowsSkippedMetric,
    new FilesPrunedMetric, new SplitsPlannedMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    GraftTaskMetric("filesPruned", prunedFileCount),
    GraftTaskMetric("splitsPlanned", plannedSplitCount))

  /** On-disk bytes per data file, stat'ed once per scan and shared by
    * the planner statistics and the split packing. */
  private val fileBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def bytesOf(f: String): Long =
    fileBytes.computeIfAbsent(f, f => FileGroup.bytes(path, f))

  /** Planner statistics from metadata already in hand: live row counts
    * (manifest entries minus deletion vectors) and on-disk bytes of the
    * files that still hold live rows — a fully retracted file (every
    * generation a full overwrite replaced) is never read, so counting
    * its bytes would report (k+1)× the live size after k overwrites.
    * This is what lets Catalyst/AQE make an informed broadcast-vs-shuffle
    * decision when a manifest table sits on the build side of a join —
    * without it a DSv2 source reports unknown size and the join
    * conservatively shuffles. O(#entries) driver work, no data IO. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    var rows = 0L
    var bytes = 0L
    snapshot.visible.foreach { case (f, n, _, _) =>
      val live = n - snapshot.dvs.get(f).fold(0)(_.length)
      if (live > 0) {
        rows += live
        bytes += bytesOf(f)
      }
    }
    val (r, b) = (rows, bytes)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(r)
    }
  }
  override def description(): String =
    s"ManifestScan($path${snapshot.asOf.fold("")(m => s", asOf=$m")}" +
      s"${since.fold("")(m => s", since=$m")}" +
      s"${if (filters.isEmpty) "" else filters.mkString(", PushedFilters: [", ", ", "]")})"

  /** Per-file partition value for SPJ, derived from metadata the manifest
    * already records: a single-valued file's zone map has min == max on
    * the partition column. Any file that cannot prove single-valuedness
    * (nulls present, bounds unrecorded — long strings, stats-free v2
    * entries, mixed values from a pre-partitioning append) returns None
    * and the WHOLE scan degrades to unpartitioned — never wrong, just
    * unco-located. Value parsed in the FILE schema's type (evolution). */
  private def provenPartValues(
      st: Option[Map[Int, ManifestFileSink.ColStats]],
      fileSchema: StructType): Map[String, Any] =
    partCols.flatMap { c =>
      val i = fileSchema.fieldNames.indexOf(c)
      val v =
        if (i < 0) None
        else st.flatMap(_.get(i)).flatMap { cs =>
          if (cs.hasNull || cs.rangeless || cs.min.isEmpty || cs.min != cs.max) None
          else fileSchema.fields(i).dataType match {
            case DoubleType => None // never a partition layout
            case dt         => ManifestFileSink.Bound.decode(cs.min, dt)
          }
        }
      v.map(c -> _)
    }.toMap

  /** Bucket ids the WRITER attested for this file (stats index −1,
    * `spec=id` tokens) — kept only where the token's spec matches the
    * CURRENTLY declared field (a re-declared bucket count or column
    * invalidates old attestations: no proof, scan degrades). */
  private def provenBucketIds(
      st: Option[Map[Int, ManifestFileSink.ColStats]],
      fields: Seq[ManifestFileSink.PartField]): Map[String, Int] = {
    val toks = st.flatMap(_.get(ManifestFileSink.PartKeyStatsIdx)) match {
      case Some(cs) if cs.min.nonEmpty && cs.min == cs.max =>
        cs.min.split(",").iterator.flatMap { t =>
          val eq = t.lastIndexOf('=')
          if (eq <= 0) None
          else t.substring(eq + 1).toIntOption.map(id => t.substring(0, eq) -> id)
        }.toMap
      case _ => Map.empty[String, Int]
    }
    fields.collect {
      case b: ManifestFileSink.BucketPart if toks.contains(b.spec) =>
        b.col -> toks(b.spec)
    }.toMap
  }

  private def partitionKeyOf(
      e: ManifestFileSink.Entry,
      fileSchema: StructType): Option[Seq[Any]] = {
    if (partFields.isEmpty) return None
    val pv = provenPartValues(e.stats, fileSchema)
    lazy val bk = provenBucketIds(e.stats, partFields)
    val vals = partFields.map {
      case ManifestFileSink.IdentityPart(c) => pv.get(c)
      case b: ManifestFileSink.BucketPart   => bk.get(b.col).map(id => id: Any)
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
  }

  /** Zone-map top-N pruning ([[topN]]): returns the kept files, or None
    * when any live file lacks a null-free stats claim for the sort
    * column (no cut is then taken). Soundness: file F is pruned only
    * when the OTHER files whose entire range sits at-or-before F's
    * range (max(G) ≤ min(F) ascending; mirrored for descending) hold at
    * least n live rows — every one of those rows ranks no later than
    * every row of F, so a complete top-n exists without opening F. Exact
    * per-type compares (no double round-trip for longs); a file counts
    * never toward its own pruning. */
  private def topNPrune(
      files: Seq[(FileSplit, Option[Seq[Any]], Long, ManifestFileSink.Entry, StructType)],
      colName: String, desc: Boolean, n: Int)
      : Option[Seq[(FileSplit, Option[Seq[Any]], Long, ManifestFileSink.Entry, StructType)]] = {
    val i0 = schema.fieldNames.indexOf(colName)
    if (i0 < 0) return None
    val dt = schema.fields(i0).dataType
    if (!ManifestFileSink.Bound.orderable(dt)) return None
    // Mirror DESC into the ASC algorithm: swap bounds, flip the compare.
    def order(a: Any, b: Any): Int =
      if (desc) ManifestFileSink.Bound.compare(b, a, dt)
      else ManifestFileSink.Bound.compare(a, b, dt)
    val bounds = files.map { case (_, _, live, e, fs) =>
      val fi = fs.fieldNames.indexOf(colName)
      if (fi < 0) return None // NULL-backfilled column: rows are unranked
      if (fs.fields(fi).dataType != dt) return None
      e.stats.flatMap(_.get(fi)) match {
        case Some(cs) if !cs.rangeless && !cs.hasNull && cs.min.nonEmpty =>
          val lo = ManifestFileSink.Bound.decode(cs.min, dt).getOrElse(return None)
          val hi = ManifestFileSink.Bound.decode(cs.max, dt).getOrElse(return None)
          if (desc) (hi, lo, live) else (lo, hi, live)
        case _ => return None
      }
    }
    val byHi = bounds.sortWith((x, y) => order(x._2, y._2) < 0)
    val prefixLive = byHi.scanLeft(0L)(_ + _._3)
    def below(lo: Any): Long = {
      // live rows in files whose hi ≤ lo (binary search over byHi)
      var l = 0; var r = byHi.length
      while (l < r) {
        val m = (l + r) / 2
        if (order(byHi(m)._2, lo) <= 0) l = m + 1 else r = m
      }
      prefixLive(l)
    }
    Some(files.zip(bounds).collect {
      case (f, (lo, hi, live))
          if below(lo) - (if (order(hi, lo) <= 0) live else 0L) < n => f
    })
  }

  /** The split plan under `effFilters`, plus — when every admitted file
    * proves its single partition value — the number of distinct values,
    * i.e. the `KeyGroupedPartitioning` this scan may report. Both
    * [[outputPartitioning]] and [[planInputPartitions]] read the shared
    * [[staticPlan]] so the reported grouping and the served splits can
    * never disagree.
    *
    * A keyed (storage-partitioned) plan serves one file per split: the
    * reported grouping needs one key per split and the reported ordering
    * one file per group. Every other plan packs its files into
    * [[FileGroup]]s by bytes ([[FileGroup.pack]]: Spark's file-source
    * rule under `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum`), so a table of many small commits reads in about
    * one task per core rather than one per file. */
  private def computeSplits(
      effFilters: Array[org.apache.spark.sql.sources.Filter])
      : (Array[InputPartition], Option[Int], Seq[String]) = {
    // Zone-map file skipping: a file whose recorded min/max cannot satisfy
    // EVERY pushed conjunct is dropped before an executor ever opens it.
    // At 100 TB this is the difference between "scan the table" and "scan
    // the 3 files the predicate admits" — the driver's cost is O(entries)
    // over metadata already in hand from the manifest listing. Stats-free
    // entries (v2 manifests, string-typed columns) are always kept.
    // Per-file schemas (evolution): each entry carries the DDL of the
    // manifest that committed it; reconciliation is by name at read time.
    val ddlCache = scala.collection.mutable.Map.empty[String, StructType]
    def schemaOf(ddl: String): StructType =
      ddlCache.getOrElseUpdate(ddl, ManifestFileSink.asNullable(StructType.fromDDL(ddl)))
    // Merge-on-read vectors, consulted BEFORE validation: a fully-retracted
    // file never contributes rows, so its (possibly type-incompatible)
    // legacy schema must not refuse the scan — the RTAS contract, where
    // a REPLACE commit retracts every old row and may change a column's
    // type in the same manifest. (Change-feed reads keep validating
    // everything: the weighted feed re-opens old files for retraction
    // images.)
    val dvs = if (since.isEmpty) snapshot.dvs else Map.empty[String, Array[Long]]
    // Type changes refuse at PLAN time — one loud driver-side error, never
    // a per-row parse failure on an executor.
    snapshot.visible
      .filter { case (f, rows, _, _) =>
        since.nonEmpty || dvs.getOrElse(f, Array.empty[Long]).length < rows }
      .map(_._4).distinct.foreach(ddl =>
      ManifestFileSink.validateEvolution(schema, schemaOf(ddl), s"files under '$ddl'"))
    // Static pushed filters (and, on the runtime re-plan, dynamic
    // join-key filters) prune files at PLAN time, in two tiers: a filter
    // over an identity-partitioned file's PROVEN value evaluates EXACTLY
    // (set semantics — In/Not against the value, not the range band);
    // anything the partition values cannot decide falls through to the
    // conservative zone-map check. Partition-filter pruning therefore
    // answers before a zone map is ever consulted, and both tiers land
    // in the same filesPruned metric.
    // The bucket REFUTE tier works off the full declared spec, not the
    // column-pruned scan output (a COUNT(*) with a pushed point filter
    // prunes every column yet still deserves the bucket skip).
    val allBucketFields: Seq[ManifestFileSink.BucketPart] =
      if (since.nonEmpty || weighted) Nil
      else ManifestFileSink.partitionFields(path).collect {
        case b: ManifestFileSink.BucketPart => b
      }
    val fullSchema: StructType = snapshot.schema.getOrElse(schema)
    val bucketTypes: Map[String, DataType] = allBucketFields.flatMap { b =>
      val i = fullSchema.fieldNames.indexOf(b.col)
      if (i < 0) None else Some(b.col -> fullSchema.fields(i).dataType)
    }.toMap
    val bucketNs: Map[String, Int] =
      allBucketFields.map(b => b.col -> b.n).toMap
    val admitted = snapshot.visible.filter { case (_, _, e, ddl) =>
      val fs = schemaOf(ddl)
      lazy val pv = provenPartValues(e.stats, fs)
      // Bucket tier: the attested bucket id refutes equality filters
      // whose literal hashes elsewhere (the point-lookup partition
      // pruning a hash layout owes its reads).
      lazy val bk: Map[String, (Int, Int)] = provenBucketIds(e.stats, allBucketFields)
        .flatMap { case (c, id) => bucketNs.get(c).map(n => c -> (n, id)) }
      effFilters.forall { f =>
        (if (partCols.nonEmpty) ManifestFileSink.partitionFilterDecide(f, pv)
         else None) match {
          case Some(b) => b
          case None =>
            (if (bucketNs.nonEmpty && bk.nonEmpty)
              ManifestFileSink.bucketFilterRefute(f, bk, bucketTypes)
            else None) match {
              case Some(b) => b
              // Zone maps are keyed by the FILE's column positions.
              case None => e.stats.forall(s => ManifestFileSink.mayMatch(f, s, fs))
            }
        }
      }
    }
    // Change feed: subtract the `since` snapshot's files. A retired
    // `since` raises in its resolution — the consumer's resume point was
    // compacted away, which must fail loudly (skipping would double-read,
    // silently narrowing would drop changes).
    val baseline = since.fold(Set.empty[String]) { m =>
      // An unknown resume point must also fail: treating it as "empty
      // snapshot" would replay the whole table into the consumer.
      if (!snapshot.all.exists(_.name == m) && !snapshot.folded.contains(m))
        throw new IllegalArgumentException(
          s"sinceManifest $m is not a published manifest of $path")
      // Delete fence: a DELETE commit in the unread window means the diff
      // would silently drop retractions — refuse unless the consumer
      // opted into append-only semantics, or asked for the weighted feed
      // (which EXPRESSES retractions instead of dropping them).
      if (!ignoreDeletes && !weighted) {
        snapshot.published.find(_.name == m).map(_.meta.seq).foreach { sinceSeq =>
            val offending = snapshot.manifests.filter(mf =>
              mf.meta.seq > sinceSeq && mf.hasDeleteVectors)
            if (offending.nonEmpty) throw new IllegalStateException(
              s"change feed window of $path contains row-level DELETE commits " +
                s"(${offending.map(_.name).mkString(",")}): the snapshot diff " +
                "carries appends only, so retractions would be silently dropped. " +
                "Set option(\"ignoreDeletes\",\"true\") to accept append-only " +
                "semantics, or diff full snapshots for true CDC.")
          }
      }
      // A retired (compacted-away) resume point raises in its resolution.
      snapshot.at(Some(m)).manifests.flatMap(_.entries).map(_.file).toSet
    }
    // Merge-on-read: attach each file's visible deletion vectors (fetched
    // above, before validation); a fully deleted file is dropped without
    // being opened. The change feed reads new files AS COMMITTED (no
    // vector subtraction): its rows are the append deltas, and the delete
    // fence above governs retractions.
    val plusAll = admitted.filterNot(f => baseline.contains(f._1))
      .flatMap { case (f, rows, e, ddl) =>
        val del = dvs.getOrElse(f, Array.empty[Long])
        if (del.length >= rows) None
        else Some((FileSplit(f, del, ddl, if (weighted) 1 else 0),
          partitionKeyOf(e, schemaOf(ddl)), rows - del.length, e, schemaOf(ddl)))
      }
    // Pushed ORDER BY col LIMIT n: zone-map-SOUND file pruning — a file
    // is prunable iff the OTHER files wholly on the extreme side of it
    // already hold n live rows (every row of those files ranks at or
    // before every row of the pruned file). Needs a null-free stats
    // claim on every live file; one unprovable file cancels the whole
    // cut (Spark's own TakeOrdered still runs — partial pushdown).
    val plusTop = topN match {
      case Some((c, desc, n)) => topNPrune(plusAll, c, desc, n).getOrElse(plusAll)
      case None => plusAll
    }
    // Pushed LIMIT n: the minimal file prefix whose cumulative live rows
    // cover n. Rows are unordered (Spark applies its own limit above), so
    // ANY n rows satisfy the query — pure file-IO pruning. The builder
    // refuses the pushdown for change feeds/weighted reads, so the cut
    // never interacts with retraction splits.
    val plus = limit match {
      case Some(n) if topN.isEmpty =>
        var acc = 0L
        plusTop.takeWhile { case (_, _, live, _, _) =>
          val need = acc < n; acc += live; need }
      case _ => plusTop
    }
    // Weighted CDC: deletion vectors committed inside the window become
    // −1 splits — the RETRACTED ROW IMAGES are read back from their
    // file's dv positions, so downstream z-set algebra (retraction IVM)
    // consumes inserts and deletes through one uniform feed. The file's
    // zone-map stats still bound its rows, so refuted files prune here
    // too. (NOTE: CDC across a purge/migrate boundary is lossy — those
    // rewrites fold history; the STREAMING feed's fold-window fence
    // detects that case. Batch consumers should diff around maintenance,
    // exactly like compact(aboveSeq) for streams.)
    val minus: Seq[FileSplit] =
      if (!weighted || since.isEmpty) Nil
      else snapshot.published.find(_.name == since.get).map(_.meta.seq) match {
        case None => Nil // unknown/retired since raised above
        case Some(s0) =>
          val visByFile = snapshot.visible.map(v => v._1 -> v).toMap
          ManifestFileSink.unionPositions(
              snapshot.manifests.filter(_.meta.seq > s0).flatMap(_.dvs))
            .toSeq.flatMap { case (f, ps) =>
              val (st, ddl) = visByFile.get(f)
                .map(v => (v._3.stats, v._4))
                .getOrElse((None, snapshot.fileDdls.getOrElse(f, "")))
              if (st.exists(s =>
                  !effFilters.forall(flt => ManifestFileSink.mayMatch(flt, s, schemaOf(ddl)))))
                None
              else Some(FileSplit(f, ps, ddl, -1))
            }
      }
    prunedFileCount = snapshot.visible.size - admitted.size
    // SPJ eligibility: a plain batch read of a partitioned table where
    // EVERY live file proves its single value. One unprovable file (or
    // any retraction split) degrades the whole scan to unpartitioned —
    // Spark then inserts the usual exchanges; results never change.
    val out: (Array[InputPartition], Option[Int], Seq[String]) =
      if (partFields.nonEmpty && minus.isEmpty && limit.isEmpty && topN.isEmpty &&
          plus.nonEmpty && plus.forall(_._2.isDefined)) {
        val keyed = plus.map { case (s, k, _, _, _) => KeyedFileSplit(s, k.get): InputPartition }
        val nGroups = plus.map(_._2.get).distinct.size
        // Zero-sort eligibility: per-partition ordering is reportable
        // iff (a) every live file ATTESTS a written sort order whose
        // prefix covers the current source columns, and (b) each
        // partition-value group is ONE file — a group concatenating two
        // sorted files is not itself sorted (identity groups would be,
        // all rows equal on the key, but the uniform rule stays
        // conservative and a maintenance repartitionTable restores one
        // file per group anyway). Deletion vectors are order-preserving
        // filters — no effect. The REPORTED list is the longest common
        // prefix of every file's attestation (a file sorted by (a, b)
        // is sorted by (a)), cut at the first column the pruned read
        // schema no longer carries — so a declared secondary sort
        // column (`_sort`) rides along and per-key windows drop their
        // sorts too.
        val srcCols = partFields.map(_.col)
        val attested: Seq[Seq[String]] = plus.map(_._4.stats.flatMap(
          _.get(ManifestFileSink.SortKeyStatsIdx).collect {
            case cs if !cs.rangeless => cs.min.split(",").toSeq
          }).getOrElse(Seq.empty))
        val common: Seq[String] =
          if (attested.exists(_.isEmpty)) Seq.empty
          else attested.reduce((a, b) => a.zip(b).takeWhile(t => t._1 == t._2).map(_._1))
        val orderedCols: Seq[String] =
          if (plus.size == nGroups && common.take(srcCols.length) == srcCols)
            common.takeWhile(schema.fieldNames.contains)
          else Seq.empty
        (keyed.toArray, Some(nGroups), orderedCols)
      } else (FileGroup.pack(plus.map(_._1) ++ minus, bytesOf), None, Seq.empty[String])
    plannedSplitCount = out._1.length
    out
  }

  private lazy val staticPlan: (Array[InputPartition], Option[Int], Seq[String]) =
    computeSplits(filters)

  /** DSv2 partitioning report: with `spark.sql.sources.v2.bucketing
    * .enabled`, two manifest tables identity-partitioned on their join
    * key sort-merge join with ZERO exchanges — the storage-partitioned
    * join, this sink's answer to the bucketed-table layout at 100 TB
    * (the pre-shuffle is paid once at write, amortized over every join).
    * When the scan is SPJ-eligible, runtime (dynamic) file pruning is
    * skipped: dropping a whole partition-value group after planning
    * would break the reported grouping, and a co-located join already
    * reads only matching groups. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    staticPlan match {
      case (_, Some(n), _) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partFields.map {
            case ManifestFileSink.IdentityPart(c) =>
              org.apache.spark.sql.connector.expressions.Expressions
                .identity(c): org.apache.spark.sql.connector.expressions.Transform
            case ManifestFileSink.BucketPart(bn, c) =>
              org.apache.spark.sql.connector.expressions.Expressions
                .bucket(bn, c): org.apache.spark.sql.connector.expressions.Transform
          }.toArray, n)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** DSv2 ordering report — the second half of the zero-exchange story:
    * when every served file attests write-time sortedness on the
    * partition SOURCE columns (one file per group, [[computeSplits]]'s
    * eligibility), each scan partition is genuinely ordered on the join
    * key and EnsureRequirements drops the SortExec pair under a
    * co-partitioned sort-merge join. Ascending nulls-first — Spark's
    * default required ordering for SMJ keys. A legacy/unsorted/multi-file
    * layout reports nothing and the join falls back to sorting. Only
    * reported when the pruned read schema still carries the columns the
    * ordering names. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    staticPlan match {
      case (_, Some(_), cols) if cols.nonEmpty =>
        cols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions.identity(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case _ => Array.empty
    }

  /** The static plan, or — when runtime filters arrived and the scan is
    * not keyed — a re-plan under them, packed by the same byte rule. */
  override def planInputPartitions(): Array[InputPartition] =
    if (staticPlan._2.isDefined || runtimeFilters.isEmpty) staticPlan._1
    else computeSplits(filters ++ runtimeFilters)._1

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(path, schema)

  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new ManifestMicroBatchStream(path, schema, ignoreDeletes, weighted)
}

/** Per-TASK cumulative reader metrics. Spark's DataSourceRDD metric
  * plumbing SETS the task's metric to the reader's reported value and
  * sums across tasks. One task can read SEVERAL files: a packed
  * [[FileGroup]] chains its files through one reader, and a
  * storage-partitioned group hands one task several keyed splits, each
  * with its own reader run in sequence. A per-reader count would then let
  * the last reader's value overwrite its siblings' and undercount
  * `filesRead` and `dvRowsSkipped`. Readers therefore bump a per-task
  * counter here (one file each time a file is opened) and report the
  * CUMULATIVE value; a completion listener reclaims the slot. */
private object ManifestReaderTaskMetrics {
  private val files =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicLong]()
  private val dvRows =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicLong]()

  def forCurrentTask(): (java.util.concurrent.atomic.AtomicLong,
      java.util.concurrent.atomic.AtomicLong) = {
    val tc = org.apache.spark.TaskContext.get()
    val id = if (tc == null) -1L else tc.taskAttemptId()
    val f = files.computeIfAbsent(id, _ => {
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        files.remove(id); dvRows.remove(id); ()
      }
      new java.util.concurrent.atomic.AtomicLong()
    })
    val d = dvRows.computeIfAbsent(id,
      _ => new java.util.concurrent.atomic.AtomicLong())
    (f, d)
  }
}

/** Top-level (shipped to executors). Reads a task's files one after
  * another — a [[FileGroup]], or a keyed split as a group of one. Each
  * file is streamed, not slurped: a compacted/large append target would
  * otherwise buffer an entire data file per executor thread. */
private class ManifestReaderFactory(path: String, schema: StructType)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition match {
      case k: KeyedFileSplit => Seq(k.split)
      case g => g.asInstanceOf[FileGroup].files
    }
    // The read schema interleaves three kinds of columns:
    //   - DATA columns (parsed from the file, evolution-reconciled);
    //   - the weighted feed's `_change_weight` (filled from the split);
    //   - METADATA columns `_file`/`_pos` (SupportsMetadataColumns — the
    //     row id of delta-based UPDATE/MERGE and a debugging affordance).
    // Schema evolution + column pruning share one mechanism: parse under
    // the schema the file was WRITTEN with, CONVERT only the fields the
    // (possibly pruned) read schema asks for, by NAME — added columns
    // backfill NULL, dropped/pruned columns are never materialized, order
    // is immaterial. The layout is computed once per distinct (DDL,
    // weighted) pair in the task, so each DDL parses once however many
    // files share it; the fast path (identical schemas, data-only) adds
    // zero per-row work.
    val names = schema.fields.map(_.name)
    val isMeta = names.map(n =>
      n == ManifestFileSink.FileCol || n == ManifestFileSink.PosCol)
    final class Layout(ddl: String, weighted: Boolean) {
      val isWeight = names.map(n => weighted && n == ManifestFileSink.WeightCol)
      private val dataSchema = StructType(schema.fields.zipWithIndex.collect {
        case (f, i) if !isMeta(i) && !isWeight(i) => f
      })
      val fileSchema = if (ddl.isEmpty) dataSchema
        else ManifestFileSink.asNullable(StructType.fromDDL(ddl))
      val plainData = fileSchema == dataSchema && dataSchema.length == schema.length
      // For each read-schema position: the file-schema index to parse, or
      // -1 (NULL backfill / non-data column handled explicitly below).
      val srcIdx: Array[Int] = {
        val proj = ManifestFileSink.evolutionProjection(dataSchema, fileSchema)
        var di = 0
        schema.fields.indices.map { i =>
          if (isMeta(i) || isWeight(i)) -1
          else { val fi = proj(di); di += 1; fi }
        }.toArray
      }
    }
    val layouts = scala.collection.mutable.Map.empty[(String, Boolean), Layout]
    new PartitionReader[InternalRow] {
      private val pending = files.iterator
      // The open file and its layout; `split` is null between files.
      private var split: FileSplit = _
      private var reader: java.io.BufferedReader = _
      private var layout: Layout = _
      private var fileName: UTF8String = _
      private var positions: Array[Long] = _
      private var cur: InternalRow = _
      private var idx = -1L
      private var pi = 0
      private val (taskFiles, taskDv) = ManifestReaderTaskMetrics.forCurrentTask()

      private def openNext(): Boolean = pending.hasNext && {
        split = pending.next()
        reader = Files.newBufferedReader(
          Paths.get(path, "data", split.file), StandardCharsets.UTF_8)
        layout = layouts.getOrElseUpdate((split.ddl, split.weight != 0),
          new Layout(split.ddl, split.weight != 0))
        fileName = UTF8String.fromString(split.file)
        positions = split.deleted
        idx = -1L; pi = 0
        taskFiles.incrementAndGet()
        true
      }
      private def closeFile(): Unit = {
        if (reader != null) reader.close()
        reader = null; split = null
      }

      private def project(line: String, pos: Long): InternalRow = {
        val l = layout
        if (l.plainData) return ManifestFileSink.parse(line, l.fileSchema)
        val parts = line.split("\t", -1)
        InternalRow.fromSeq(schema.fields.indices.map { i =>
          schema.fields(i).name match {
            case ManifestFileSink.FileCol if isMeta(i) => fileName
            case ManifestFileSink.PosCol if isMeta(i)  => pos
            case _ if l.isWeight(i)                    => split.weight
            case _ =>
              val fi = l.srcIdx(i)
              if (fi < 0) null
              else ManifestFileSink.parseField(parts(fi), l.fileSchema.fields(fi).dataType)
          }
        })
      }

      override def next(): Boolean = {
        while (split != null || openNext()) {
          val line = reader.readLine()
          if (line == null) closeFile()
          else {
            idx += 1
            if (split.weight < 0) {
              // Retraction split: EMIT exactly the vector's positions.
              if (pi < positions.length && positions(pi) == idx) {
                pi += 1; cur = project(line, idx); return true
              } else if (pi >= positions.length) closeFile() // past last hit
            } else if (pi < positions.length && positions(pi) == idx) {
              // Merge-on-read: one pointer walks the sorted deletion vector
              // in lockstep with the line index — O(1) per row, no lookups.
              pi += 1; taskDv.incrementAndGet() // dead
            } else { cur = project(line, idx); return true }
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = closeFile()
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
        GraftTaskMetric("filesRead", taskFiles.get()),
        GraftTaskMetric("dvRowsSkipped", taskDv.get()))
    }
  }
}

/** The commit feed as a STREAMING source — `sinceManifest`'s snapshot
  * diff, promoted from a polled batch option to a first-class
  * MicroBatchStream whose offsets are manifest `seq` numbers. Composition
  * target: `readStream` over the table, `foreachBatch` into
  * [[graft.streaming.RollupMaintenance]] — continuous, restart-safe view
  * maintenance where the checkpoint (one long) replaces the hand-carried
  * `sinceManifest` resume point.
  *
  * Contract:
  *   - **A commit is the unit of admission.** Micro-batch boundaries fall
  *     only on manifest boundaries, so each micro-batch is a whole number
  *     of atomic commits — a consumer never observes half a job's files,
  *     the same visibility rule the batch reader enforces. `maxRows`
  *     admission (from the per-file row counts the manifests already
  *     carry) therefore overshoots to the nearest commit edge, and always
  *     admits at least one pending commit.
  *   - **Offsets are durable and tiny.** The checkpointed offset is the
  *     last consumed commit seq; a restart resumes from exactly the next
  *     commit. Task files are immutable and manifests append-only, so
  *     (seq₀, seq₁] names the same rows forever — replays are exact.
  *   - **Compaction is fenced, not raced.** [[ManifestFileSink.compact]]
  *     records the oldest and newest commits it absorbed (`fseq`/`lseq`
  *     headers). A fold wholly behind the consumer's offset is SKIPPED
  *     (its entries were all consumed — compaction behind a caught-up
  *     consumer is invisible); a fold wholly ahead is READ (it re-lists
  *     only pending files under its fresh seq); a fold straddling the
  *     offset would force a double-read or a drop, so the stream fails
  *     loudly — and `compact(path, aboveSeq)` lets operators fold around
  *     live consumers so the straddle never arises.
  *
  * At 100 TB this is the Iceberg/Delta "streaming from a table" pattern
  * in miniature: the driver's per-trigger work is an O(#manifests)
  * listing (bounded by compaction cadence), never a data scan; executors
  * read only the admitted commits' files. */
private class ManifestMicroBatchStream(
    path: String, schema: StructType, ignoreDeletes: Boolean = false,
    weighted: Boolean = false)
  extends streaming.MicroBatchStream with streaming.SupportsTriggerAvailableNow {

  private case class SeqOffset(seq: Long) extends streaming.Offset {
    override def json(): String = seq.toString
  }
  private def pos(o: streaming.Offset): Long = o match {
    case SeqOffset(s) => s
    case other        => other.json().toLong
  }

  /** Nothing consumed: orders before every commit. */
  override def initialOffset(): streaming.Offset = SeqOffset(Long.MinValue)

  private def pending(log: ManifestFileSink.Snapshot,
                      startSeq: Long): Seq[ManifestFileSink.Manifest] = {
    // Finality cap (advice-r18): never admit past a live in-flight claim
    // — once the checkpointed offset seals a seq, a commit retro-filling
    // below it would be skipped FOREVER (offsets only grow). Holding the
    // offset under the lowest pending claim makes the late commit land
    // above the boundary instead, where the next trigger reads it.
    val ceil = ManifestFileSink.stableSeqCeiling(log)
    val all = log.published.filter(m => m.meta.seq > startSeq && m.meta.seq <= ceil)
    // Trigger.AvailableNow: drain to the bound sealed at query start, in
    // admission-limited micro-batches; commits landing mid-drain wait for
    // the next query (they're after the bound).
    availableNowBound.fold(all)(b => all.filter(_.meta.seq <= b))
  }

  private var availableNowBound: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(pos(reportLatestOffset()))

  override def getDefaultReadLimit: streaming.ReadLimit =
    streaming.ReadLimit.allAvailable()

  override def latestOffset(start: streaming.Offset,
                            limit: streaming.ReadLimit): streaming.Offset = {
    val s = pos(start)
    val p = pending(ManifestFileSink.Snapshot.headers(path), s)
    if (p.isEmpty) return SeqOffset(s)
    // Whole-commit admission: walk commits in seq order accumulating their
    // row counts (already in the manifest — no data IO) until the budget
    // is reached; always admit at least one so the stream can't stall
    // behind a single over-budget commit.
    def admit(l: streaming.ReadLimit): Int = l match {
      case _: streaming.ReadAllAvailable => p.size
      case mr: streaming.ReadMaxRows =>
        var acc = 0L; var n = 0
        while (n < p.size && (n == 0 || acc < mr.maxRows())) {
          acc += p(n).entries.map(_.rows).sum
          n += 1
        }
        n
      case c: streaming.CompositeReadLimit =>
        // The tightest member bounds admission; min/hint members are
        // satisfied by draining what's available.
        c.getReadLimits.toSeq.map(admit).min
      case _ => p.size
    }
    SeqOffset(p(math.max(1, admit(limit)) - 1).meta.seq)
  }

  override def latestOffset(): streaming.Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")

  override def reportLatestOffset(): streaming.Offset = {
    // Same finality cap as [[pending]]: the reported latest (and with it
    // the AvailableNow drain bound) stops under any live in-flight claim.
    val log = ManifestFileSink.Snapshot.headers(path)
    val ceil = ManifestFileSink.stableSeqCeiling(log)
    SeqOffset(log.published.map(_.meta.seq).filter(_ <= ceil)
      .maxOption.getOrElse(Long.MinValue))
  }

  override def deserializeOffset(json: String): streaming.Offset =
    SeqOffset(json.toLong)

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val (s, e) = (pos(start), pos(end))
    val log = ManifestFileSink.Snapshot.headers(path)
    val window = pending(log, s).filter(_.meta.seq <= e)
    // Fold-window rule (the Iceberg skip-REPLACE idea, offset-exact): a
    // combined manifest adds no rows of its own — its entries are the
    // union of the commits it folded. Relative to the consumer's offset s:
    //   - every folded commit ≤ s  → all entries already consumed → SKIP
    //     (compaction behind a caught-up consumer is transparent);
    //   - every folded commit > s  → all entries pending → READ (the fold
    //     re-listed them under its fresh seq; originals are gone);
    //   - straddling s             → reading double-consumes, skipping
    //     drops data → FAIL loudly, same philosophy as the batch path's
    //     retired-snapshot error. `compact(path, aboveSeq)` exists so
    //     operators never create this case. A fold header predating the
    //     fseq/lseq fence is treated as straddling (conservative).
    val readable = window.filter { mf =>
      val m = mf.meta
      if (m.folded.isEmpty) true
      else if (s == Long.MinValue) true // fresh consumer: everything pending
      else (m.foldedMinSeq, m.foldedMaxSeq) match {
        case (Some(_), Some(l)) if l <= s => false // fully consumed: skip
        case (Some(fm), Some(_)) if fm > s => true // fully ahead: read
        case _ => throw new IllegalStateException(
          s"compaction (${mf.name}) folded commits straddling the streaming " +
            s"consumer's offset $s: resume window lost; restart the stream " +
            "from scratch, or compact with compact(path, aboveSeq) to stay " +
            "ahead of live consumers")
      }
    }
    // Delete fence (same contract as the batch change feed): a DELETE
    // commit in this window carries retractions the append-only feed
    // cannot express — fail loudly unless the consumer opted in, or the
    // WEIGHTED feed is on (retractions become −1 rows below).
    if (!ignoreDeletes && !weighted) {
      val offending = readable.filter(_.hasDeleteVectors)
      if (offending.nonEmpty) throw new IllegalStateException(
        s"streaming window of $path contains row-level DELETE commits " +
          s"(${offending.map(_.name).mkString(",")}): the commit feed " +
          "carries appends only, so retractions would be silently dropped. " +
          "Set option(\"ignoreDeletes\",\"true\") to accept append-only semantics.")
    }
    // distinct: the compact crash window (combined manifest published,
    // inputs not yet deleted) lists a file twice — same immutable data.
    // Each file reads under the DDL of its committing manifest (schema
    // evolution), reconciled by name to the stream's schema.
    val dataCols = if (weighted) StructType(schema.fields.dropRight(1)) else schema
    val plus = readable.flatMap { m =>
      ManifestFileSink.validateEvolution(dataCols,
        ManifestFileSink.asNullable(StructType.fromDDL(m.ddl)),
        s"streamed manifest ${m.name}")
      m.entries.map(e => (e.file, m.ddl))
    }.distinctBy(_._1)
      .map { case (f, ddl) => FileSplit(f, Array.empty, ddl, if (weighted) 1 else 0) }
    // Weighted feed: each window DELETE commit's vectors become −1 splits
    // reading back exactly the retracted row images — inserts and
    // retractions arrive through one uniform z-set stream within the
    // micro-batch's commit window.
    val minus: Seq[FileSplit] =
      if (!weighted) Nil
      else {
        ManifestFileSink.unionPositions(readable.flatMap(_.dvs))
          .toSeq.map { case (f, ps) => FileSplit(f, ps, log.fileDdls.getOrElse(f, ""), -1) }
      }
    // A micro-batch admitting many small commits packs their files by
    // bytes, as the batch scan does.
    FileGroup.pack(plus ++ minus, FileGroup.bytes(path, _))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(path, schema)

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}
