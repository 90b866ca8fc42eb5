package graft.llm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotp
import graft.plans.TopKPerGroup
import graft.sources.{ManifestFileSink, Tables}

/** INCREMENTAL maintenance for the VECTOR index — the third leg of the
  * maintenance trilogy ([[IndexMaintenance]] covers the text and dedup
  * indexes; this closes the family): a managed embeddings corpus, one
  * WAP-staged transaction that appends a batch's corpus rows AND its
  * cell assignments, and a serve that equals the frozen-centroid
  * rebuild row-for-row.
  *
  * The IVF-specific contract, and why appends are EXACT here:
  * production IVF never retrains per batch — centroids train over the
  * standing corpus and FREEZE; an arriving vector is assigned to its
  * nearest frozen cell ([[VectorIndex.assignNew]] — the map-only fold,
  * the same score/tie expressions as [[Similarity.kmeansAssign]]).
  * Since assignments are per-vector and the index stores no global
  * statistic, append-then-serve ≡ assign-everything-then-serve with the
  * SAME centroids — no norms-style refold step at all. What appends DO
  * decay is centroid FIT (the training sample drifts from the data);
  * that is [[VectorIndex.assignmentImbalance]]'s job — the maintenance
  * door retrains when imbalance crosses the bar, a deliberate rebuild,
  * never a silent wrong answer.
  *
  * Transaction shape (the [[IndexMaintenance]] discipline, two tables
  * instead of five): stage batch corpus rows + batch assignment rows
  * under one `wap-id`; audit via `VERSION AS OF 'wap:'` (batch vec_ids
  * disjoint from the corpus, each table grew by exactly the rows its
  * write job delivered); publish or discard as one decision; fences
  * advance LAST to the corpus table's manifest-chain fingerprint — a
  * refused audit leaves both the chain and the fence untouched (the r16
  * fence rule), out-of-band corpus writes still read as drift.
  *
  * Audits prove themselves from facts the verb already holds, each still
  * comparing two independent derivations: the rows a write job
  * delivered, observed on that job ([[observedWrite]]), against the rows
  * the sink staged; and the victims the zone maps count
  * ([[ManifestFileSink.strictCounts]]) against the rows the delete's
  * match scan reads. A table the zone maps cannot decide falls back to
  * counting queries.
  *
  * Entry split: the managed corpus is `vec_id % 13 ≠ 6`, the maintained
  * append is class 6, so the served universe is ALL vectors — and the
  * DuckDB oracle replays it exactly: centroids train over the `eb`
  * (base) CTE, the final assignment runs over full `e`
  * ([[Similarity.kmeansCtes]] parametrized train/assign).
  *
  * At 100 TB: an ingest batch costs one centroid read, one map pass over
  * the batch per staged table (the centroid list is broadcast-sized by
  * construction), and one shuffle: the clustered assigned-table write,
  * which demuxes per-cell files so serve's partition pruning is unchanged
  * after any number of appends. The batch's partial sums fold in one
  * task, with no shuffle (a batch is bounded by its caller). The corpus
  * is read only when its zone maps admit a file for the batch's id
  * range, and then only that range. A delete costs the two tables' match
  * scans, one read of the victims' assigned rows for their negated
  * partials, and the ledger row; it counts its victims from the zone
  * maps unless a live file straddles a window. */
object VectorMaintenance {

  private def fmt = classOf[ManifestFileSink].getName

  private val AppendClass = 6
  private val WapId = "vecingest-c6"

  /** Layout v1 = assigned `(vec_id, vnenc, cell)` cell-partitioned +
    * cents `(cent_id, cvenc)`; v2 adds cstats `(cell, j, s, n)` — the
    * per-cell per-component PARTIAL SUMS of the assigned vectors, one
    * row set per segment (build + each append; deletes append negated
    * rows), which is what makes the INCREMENTAL retrain a metadata-
    * grain fold instead of a corpus pass ([[retrainIncremental]]).
    * A v1 base rebuilds cleanly through the layout gate (see
    * [[IndexFence.layoutFile]]). */
  private[llm] val LayoutVersion = 2

  def basePath(dir: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_vecingest", dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  /** The retrain entry keeps its own managed corpus so it can't disturb
    * `vec_index_append`'s frozen-centroid contract on the shared base. */
  def retrainBasePath(dir: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_vecretrain", dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  def corpusTable(base: String): String = s"$base/corpus"
  def vecPath(base: String): String = s"$base/index"

  /** The manifest sink stores scalar columns only, so the managed
    * corpus keeps embeddings through the SAME exact string codec the
    * index tables use ([[VectorIndex.enc]]/[[VectorIndex.dec]] — a
    * bit-exact double roundtrip, proven by every serve oracle). */
  private def encodeRows(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"),
      VectorIndex.enc(transform(col("embedding"), _.cast("double"))).as("embenc"))

  private def readCorpus(s: SparkSession, base: String): DataFrame =
    s.read.format(fmt).option("path", corpusTable(base)).load()

  private def readCorpusEmb(s: SparkSession, base: String): DataFrame =
    readCorpus(s, base)
      .select(col("vec_id"), VectorIndex.dec(col("embenc")).as("embedding"))

  /** Build the managed embeddings corpus + the frozen-centroid index
    * when absent, stale, or layout-mismatched. Idempotent: a fresh
    * fence + current layout no-ops. */
  def ensureBase(s: SparkSession, dir: String): String =
    ensureBaseAt(s, dir, basePath(dir))

  /** [[ensureBase]] at an explicit base — the streaming vector ingest
    * keeps its OWN managed corpus ([[graft.streaming.VectorStream]]) so
    * the batch and stream entries can't race each other's fences. */
  def ensureBaseAt(s: SparkSession, dir: String, base: String): String = synchronized {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    val corpusExists = Files.isDirectory(Paths.get(ct)) && {
      val l = Files.list(Paths.get(ct))
      try l.iterator().hasNext finally l.close()
    }
    if (!corpusExists) {
      IndexFence.rmTree(Paths.get(base))
      Files.createDirectories(Paths.get(ct))
      encodeRows(Tables(s, dir).embeddings
          .filter(col("vec_id") % 13 =!= AppendClass))
        .write.format(fmt).option("path", ct).mode("append").save()
    }
    s.catalog.refreshByPath(ct)
    val assignedPath = s"$ip/assigned"
    val centsPath = s"$ip/cents"
    val built = Files.isDirectory(Paths.get(assignedPath)) && {
      val l = Files.list(Paths.get(assignedPath))
      try l.iterator().hasNext finally l.close()
    }
    // A torn maintenance crash must not cost a rebuild: finish any
    // mid-publish transaction and reconcile a content-consistent fence
    // before judging freshness.
    if (built) { recoverTorn(s, base); reconcileFence(s, base); () }
    if (built && IndexFence.staleness(ip).contains(false) &&
        IndexFence.readLayout(ip) == LayoutVersion) return base
    if (built) {
      IndexFence.rmTree(Paths.get(assignedPath))
      IndexFence.rmTree(Paths.get(centsPath))
      IndexFence.rmTree(Paths.get(cstatsTable(ip)))
      IndexFence.clear(ip)
    }
    buildIndex(s, base)
    base
  }

  /** The per-cell per-component partial-sums table (layout v2) — the
    * `kmeansUpdate` shape PERSISTED: `(cell, j, s, n)` where s = Σ
    * vn[j] and n = member count over one segment's assigned rows.
    * Partials SUM across segments exactly like the text index's
    * dfparts (appends add positive rows, deletes add negated rows), so
    * the mean centroid of the CURRENT corpus is a fold of this table —
    * `k×64` rows per segment, never a corpus pass. */
  def cstatsTable(ip: String): String = s"$ip/cstats"

  /** One segment's partial-sum rows from its (cell, vn) assignment.
    * `private[llm]`: VecMaintenanceSpec stages a bit-faithful torn
    * transaction with it. */
  private[llm] def cellPartials(rows: DataFrame): DataFrame =
    rows.select(col("cell"), posexplode(col("vn")).as(Seq("j", "v")))
      .groupBy(col("cell"), col("j"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))

  /** Train centroids over the CURRENT managed corpus, write the
    * assigned/cents/cstats tables, record the trained-over fingerprint,
    * and advance layout + fence (fence LAST stays the commit point). */
  private def buildIndex(s: SparkSession, base: String): Unit = {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    val assignedPath = s"$ip/assigned"
    val centsPath = s"$ip/cents"
    val fp = IndexFence.fingerprint(ct)
    val emb = Similarity.normalizedDf(readCorpusEmb(s, base))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = Similarity.kmeansCentroids(emb)
    val assigned = Similarity.kmeansAssign(emb, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Files.createDirectories(Paths.get(assignedPath))
    ManifestFileSink.setPartitionColumn(assignedPath, "cell")
    assigned
      .select(col("vec_id"), VectorIndex.enc(col("vn")).as("vnenc"), col("cell"))
      .write.format(fmt).option("path", assignedPath).mode("append").save()
    cents.select(col("cent_id"), VectorIndex.enc(col("cv")).as("cvenc"))
      .coalesce(1)
      .write.format(fmt).option("path", centsPath).mode("append").save()
    cellPartials(assigned.select(col("cell"), col("vn")))
      .coalesce(1)
      .write.format(fmt).option("path", cstatsTable(ip)).mode("append").save()
    assigned.unpersist()
    emb.unpersist(blocking = true)
    Files.writeString(Paths.get(trainedFile(ip)), fp.toString)
    IndexFence.writeLayout(ip, LayoutVersion)
    IndexFence.write(ip, ct, fp)
  }

  /** The corpus fingerprint the centroids were TRAINED over — distinct
    * from the fence (which accepts maintained drift without retraining):
    * frozen-centroid appends advance the fence but not this marker, so
    * marker ≠ current-fingerprint is exactly "the training sample has
    * drifted from the data". */
  private def trainedFile(ip: String): String = s"$ip/trained.fp"

  /** The RETRAIN door — the deliberate rebuild that closes the
    * frozen-centroid decay loop ([[VectorIndex.assignmentImbalance]]'s
    * job is deciding WHEN; this is the verb): retrain centroids over
    * the full grown corpus, reassign every vector, advance the marker.
    * Idempotent via the trained-over fingerprint — a corpus unchanged
    * since the last train no-ops with a metadata read. Returns true iff
    * a retrain ran. */
  def ensureRetrained(s: SparkSession, base: String): Boolean =
    MaintenanceLease.withLease(base, "retrain")(ensureRetrainedImpl(s, base))

  private def ensureRetrainedImpl(s: SparkSession, base: String): Boolean = synchronized {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    val cur = IndexFence.fingerprint(ct)
    val tf = Paths.get(trainedFile(ip))
    if (Files.isRegularFile(tf) && Files.readString(tf) == cur.toString) return false
    IndexFence.rmTree(Paths.get(s"$ip/assigned"))
    IndexFence.rmTree(Paths.get(s"$ip/cents"))
    IndexFence.rmTree(Paths.get(cstatsTable(ip)))
    IndexFence.clear(ip)
    buildIndex(s, base)
    true
  }

  /** The INCREMENTAL retrain (verdict-r17 Next #6) — the mini-batch
    * Lloyd update behind the SAME trained-over marker as the full
    * door: centroids advance to the mean of the CURRENT corpus's
    * assignments by folding the persisted [[cstatsTable]] partial sums
    * — `round(Σs / Σn, 6)` per (cell, component), the exact
    * [[Similarity.kmeansUpdate]] expression — and the cents table
    * rewrites in ONE superseding commit. Assignments are deliberately
    * NOT recomputed (that is the mini-batch trade: stored cells lag the
    * moved centroids by one update, probe selection uses the fresh
    * ones), so the fold is O(k × dims × segments) METADATA work — the
    * full [[ensureRetrained]] was the last O(corpus) maintenance verb.
    * A cell whose members all retracted (Σn ≤ 0) drops out, exactly as
    * an emptied cell drops from the full train. Idempotent via the
    * marker. A base of another layout (no cstats) refuses: rebuild it
    * through [[ensureBaseAt]]'s layout gate first. Returns true iff an
    * update ran. */
  def retrainIncremental(s: SparkSession, base: String): Boolean =
    MaintenanceLease.withLease(base, "retrainIncremental")(
      retrainIncrementalImpl(s, base))

  private def retrainIncrementalImpl(s: SparkSession, base: String): Boolean = synchronized {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    val layout = IndexFence.readLayout(ip)
    if (layout != LayoutVersion) throw new IllegalStateException(
      s"vector base $base has index layout v$layout, not v$LayoutVersion: " +
        "rebuild it with ensureBaseAt before an incremental retrain")
    // Same preamble as ingestAppend/deleteRanges (advice-r18 #1): a crash
    // mid-publish of a sibling verb leaves the newest cstats suffix staged
    // and invisible — folding WITHOUT rolling it forward would advance the
    // trained-over marker past partials the fold never saw, silently wrong
    // centroids until the next drift. Runs BEFORE the fingerprint read so
    // the idempotence check sees the rolled-forward corpus.
    recoverTorn(s, base)
    reconcileFence(s, base)
    for (st <- IndexFence.staleness(ip))
      if (st) throw new IllegalStateException(
        s"vector index at $ip is STALE (out-of-band corpus drift): " +
          "rebuild before maintaining.")
    val cur = IndexFence.fingerprint(ct)
    val tf = Paths.get(trainedFile(ip))
    if (Files.isRegularFile(tf) && Files.readString(tf) == cur.toString) return false
    // rewriteTable evaluates the fold exactly once, inside its own job.
    val folded = s.read.format(fmt).option("path", cstatsTable(ip)).load()
      .groupBy(col("cell"), col("j"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .filter(col("n") > 0)
      .select(col("cell"), col("j"), round(col("s") / col("n"), 6).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
      .select(col("cell").as("cent_id"),
        transform(col("jm"), x => x.getField("m")).as("cv"))
      .select(col("cent_id"), VectorIndex.enc(col("cv")).as("cvenc"))
    ManifestFileSink.rewriteTable(s, s"$ip/cents", _ => folded, numFiles = 1)
    s.catalog.refreshByPath(s"$ip/cents")
    Files.writeString(tf, cur.toString)
    true
  }

  /** Finish any transaction on this base that died MID-PUBLISH (see
    * [[ManifestFileSink.wapRollForward]] for the attribution argument:
    * stage order == publish order, corpus table first), then re-derive
    * the post-publish state the crash lost — here just the fence, since
    * the vector index keeps no refolded statistic. Safe to call from
    * every entry point: a clean base is a no-op metadata listing. */
  private def recoverTorn(s: SparkSession, base: String): Seq[String] = {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    val tables = Seq(ct, s"$ip/assigned", cstatsTable(ip),
      IndexMaintenance.ledgerTable(base), IndexMaintenance.delsTable(base))
    val torn = ManifestFileSink.wapRollForward(tables)
    if (torn.nonEmpty) {
      tables.foreach(s.catalog.refreshByPath)
      IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
    }
    torn
  }

  /** Reconcile a STALE fence whose drift the index already reflects: a
    * crash between the final publish and the fence write leaves content
    * fully consistent with the corpus and only the fingerprint behind.
    * The audit is content equality — corpus vec_ids ≡ assigned vec_ids
    * AND equal row counts (the count guard catches an out-of-band
    * duplicate-id append, which id-set equality alone would bless) —
    * because the fence's one job is catching drift the index does NOT
    * reflect. An out-of-band writer who keeps both tables consistent is
    * indistinguishable from maintenance by any content audit; that
    * residual trust is documented here. Returns true when fresh
    * (already, or after reconciling). */
  private def reconcileFence(s: SparkSession, base: String): Boolean = {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    if (!IndexFence.staleness(ip).contains(true)) return true
    val assignedT = s"$ip/assigned"
    val corpusIds = readCorpus(s, base).select(col("vec_id"))
    val assignedIds = s.read.format(fmt).option("path", assignedT).load()
      .select(col("vec_id"))
    val consistent =
      corpusIds.count() == assignedIds.count() &&
        corpusIds.join(assignedIds, Seq("vec_id"), "left_anti").isEmpty &&
        assignedIds.join(corpusIds, Seq("vec_id"), "left_anti").isEmpty
    if (consistent) IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
    consistent
  }

  /** How long a write's observed metrics may trail the write's return:
    * they arrive through the session's listener bus. */
  private val ObservedWait = scala.concurrent.duration.Duration(60, "s")

  /** Run `write` over `df` with `metrics` observed on that write's own
    * job, and return them: what the query DELIVERED to the sink, counted
    * as it was delivered and never read back from the sink's commit
    * messages, so an audit of it against the staged rows still compares
    * two independent derivations. A map stage that Spark re-executes (a
    * lost shuffle output) adds its rows to the observation again, so the
    * figure can only over-count: the audit then refuses the transaction,
    * never admits a bad one. An observation that never arrives refuses
    * the same way. */
  private def observedWrite(df: DataFrame, metric: Column, more: Column*)(
      write: DataFrame => Unit): Row = {
    val obs = Observation()
    write(df.observe(obs, metric, more: _*))
    try scala.concurrent.Await.result(obs.future, ObservedWait)
    catch {
      case _: java.util.concurrent.TimeoutException => throw new IllegalStateException(
        s"maintenance audit failed: no observed row count from a write within $ObservedWait")
    }
  }

  /** Has the standard append batch already been ingested? */
  def batchApplied(s: SparkSession, base: String): Boolean =
    !readCorpus(s, base)
      .filter(col("vec_id") % 13 === AppendClass)
      .limit(1).isEmpty

  /** The two-table ingest transaction: stage → audit → publish/discard
    * → fence advance. `batch` carries raw (vec_id, embedding) rows.
    * `wapId` defaults to the batch entry's constant; the streaming path
    * passes a per-epoch id so torn stages discard per epoch. */
  def ingestAppend(s: SparkSession, base: String, batch: DataFrame,
      wapId: String = WapId): Unit =
    MaintenanceLease.withLease(base, "ingestAppend")(
      ingestAppendImpl(s, base, batch, wapId))

  private def ingestAppendImpl(s: SparkSession, base: String, batch: DataFrame,
      wapId: String): Unit =
    synchronized {
      val ct = corpusTable(base)
      val ip = vecPath(base)
      recoverTorn(s, base)
      for (st <- IndexFence.staleness(ip))
        if (st) throw new IllegalStateException(
          s"vector index at $ip is STALE (out-of-band corpus drift): " +
            "rebuild before maintaining.")
      val assignedT = s"$ip/assigned"
      val cstatsT = cstatsTable(ip)
      val allTables = Seq(ct, assignedT, cstatsT)
      val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Frozen-centroid assignment: one map pass, no shuffle.
      val bAssigned = VectorIndex.assignNew(s, ip, b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // The batch's per-cell partial sums — what keeps the incremental
      // retrain a metadata fold ([[retrainIncremental]]) — folded in one
      // task: the batch is bounded, so the fold needs no shuffle.
      val bCstats = cellPartials(bAssigned.coalesce(1)
        .select(col("cell"), VectorIndex.dec(col("vnenc")).as("vn")))
      def stage(df: DataFrame, path: String): Unit =
        df.write.format(fmt).option("path", path).option("wap-id", wapId)
          .mode("append").save()
      def stageCounted(df: DataFrame, path: String): Long =
        observedWrite(df, count(lit(1)))(stage(_, path)).getLong(0)
      def wapView(path: String): DataFrame =
        s.read.format(fmt).option("path", path)
          .option("asOfManifest", s"wap:$wapId").load()
      def mainCount(path: String): Long =
        s.read.format(fmt).option("path", path).load().count()
      try {
        val pre = allTables.map(p => p -> mainCount(p)).toMap
        // Stage order is publish order (corpus first): each write reports
        // the rows it delivered; the corpus write also the batch's id range.
        val corpusObs = observedWrite(encodeRows(b), count(lit(1)),
          min(col("vec_id")), max(col("vec_id")))(stage(_, ct))
        val nAssigned = stageCounted(bAssigned, assignedT)
        val nCstats = stageCounted(bCstats, cstatsT)
        // AUDIT 1: batch vec_ids are NEW (per-vector rows are exact
        // under appends ONLY because ids never replay). Only a corpus file
        // whose zone map admits the batch's [min, max] can hold one of its
        // ids: a fresh-id batch opens no corpus file, and otherwise the
        // semi-join reads that range alone.
        if (!corpusObs.isNullAt(1)) {
          val lo = corpusObs.getAs[Number](1).longValue
          val hi = corpusObs.getAs[Number](2).longValue
          val range = org.apache.spark.sql.sources.And(
            org.apache.spark.sql.sources.GreaterThanOrEqual("vec_id", lo),
            org.apache.spark.sql.sources.LessThanOrEqual("vec_id", hi))
          if (!ManifestFileSink.strictCounts(ct, Seq(range)).contains(Seq(0L))) {
            val collisions = readCorpus(s, base).filter(col("vec_id").between(lo, hi))
              .join(b.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
            if (collisions > 0) throw new IllegalStateException(
              s"ingest audit failed: $collisions batch vec_ids already in " +
                "the corpus — appends must be new vectors")
          }
        }
        // AUDIT 2: each table grew by exactly the rows its write delivered.
        val expected = Map(ct -> corpusObs.getLong(0), assignedT -> nAssigned,
          cstatsT -> nCstats)
        for (p <- allTables) {
          val grew = wapView(p).count() - pre(p)
          if (grew != expected(p)) throw new IllegalStateException(
            s"ingest audit failed: $p staged $grew rows, expected ${expected(p)}")
        }
        allTables.foreach(p => ManifestFileSink.wapPublish(p, wapId))
      } catch {
        case e: Throwable =>
          ManifestFileSink.wapAbort(allTables, wapId)
          b.unpersist(); bAssigned.unpersist()
          throw e
      }
      // Fence advances LAST to the corpus chain's new state.
      s.catalog.refreshByPath(ct)
      IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
      b.unpersist(); bAssigned.unpersist()
    }

  /** One streaming vector epoch — [[IndexMaintenance.applyEpoch]]'s
    * idempotence contract over the two-table transaction: a replayed
    * epoch whose vec_ids fully landed IN BOTH TABLES no-ops, a torn
    * stage under this epoch's own `wap-id` discards before re-staging,
    * and a partial overlap refuses through the new-ids audit inside
    * [[ingestAppend]].
    *
    * The fully-applied check verifies BOTH tables, not just the corpus:
    * [[ingestAppend]] publishes the corpus table first, so a crash
    * between the two publishes leaves the epoch's rows in the corpus
    * but not the assigned table — corpus membership alone would no-op
    * that replay forever, silently losing the assignments. When the
    * tables disagree that way, the replay REPAIRS: it re-stages exactly
    * the missing assignment rows under the epoch's `wap-id`, audits the
    * growth, publishes, and re-advances the fence (the torn run died
    * before its fence write, so the index reads as stale until here).
    * Returns true when the epoch applied (including a repair). */
  def applyEpoch(s: SparkSession, base: String, batch: DataFrame,
      epochId: Long): Boolean =
    MaintenanceLease.withLease(base, "applyEpoch")(
      applyEpochImpl(s, base, batch, epochId))

  private def applyEpochImpl(s: SparkSession, base: String, batch: DataFrame,
      epochId: Long): Boolean = synchronized {
    val wapId = s"vecingest-e$epochId"
    val ct = corpusTable(base)
    val ip = vecPath(base)
    val assignedT = s"$ip/assigned"
    // Primary torn-state recovery: finish any mid-publish crash (the
    // staged-manifest suffix is exact evidence), reconcile a fence the
    // crash window left behind. The membership checks below then see
    // the RECOVERED state; the recompute repair further down only fires
    // if the staged evidence itself was lost.
    val recovered = recoverTorn(s, base)
    reconcileFence(s, base)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ids = b.select(col("vec_id"))
      val total = ids.count()
      if (total == 0) return false
      val present = readCorpus(s, base)
        .join(ids, Seq("vec_id"), "left_semi").count()
      val presentAssigned = s.read.format(fmt).option("path", assignedT).load()
        .join(ids, Seq("vec_id"), "left_semi").count()
      if (present == total && presentAssigned == total)
        // Fully-applied replay: no-op — unless the roll-forward above is
        // what completed it, in which case this call DID apply the epoch.
        return recovered.contains(wapId)
      if (present == total) {
        // Torn publish: corpus landed, assigned didn't (the publish
        // order inside ingestAppend). Repair the assigned side only —
        // and the cstats partials of exactly the repaired rows, so the
        // incremental-retrain fold stays corpus-exact.
        val cstatsT = cstatsTable(ip)
        val repairTables = Seq(assignedT, cstatsT)
        ManifestFileSink.wapAbort(repairTables, wapId)
        val missing = VectorIndex.assignNew(s, ip, b)
          .join(s.read.format(fmt).option("path", assignedT).load()
            .select(col("vec_id")), Seq("vec_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val want = missing.count()
          val pre = s.read.format(fmt).option("path", assignedT).load().count()
          missing.write.format(fmt).option("path", assignedT)
            .option("wap-id", wapId).mode("append").save()
          cellPartials(missing
              .select(col("cell"), VectorIndex.dec(col("vnenc")).as("vn")))
            .write.format(fmt).option("path", cstatsT)
            .option("wap-id", wapId).mode("append").save()
          val grew = s.read.format(fmt).option("path", assignedT)
            .option("asOfManifest", s"wap:$wapId").load().count() - pre
          if (grew != want) throw new IllegalStateException(
            s"assigned-repair audit failed: staged $grew rows, expected $want")
          repairTables.foreach(p => ManifestFileSink.wapPublish(p, wapId))
        } catch {
          case e: Throwable =>
            ManifestFileSink.wapAbort(repairTables, wapId)
            throw e
        } finally missing.unpersist()
        s.catalog.refreshByPath(ct)
        IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
        return true
      }
      val allTables = Seq(ct, assignedT, cstatsTable(ip))
      // Clear any torn stage of THIS epoch (reverse-order / roll-
      // forward aware).
      ManifestFileSink.wapAbort(allTables, wapId)
      ingestAppend(s, base, b, wapId)
      true
    } finally b.unpersist()
  }

  /** SemDeDup-at-ingest cosine threshold — [[Similarity.semDedup]]'s
    * 0.45, applied as an ADMISSION gate instead of a batch prune. */
  private val SemTau = 0.45

  /** One GATED vector epoch — SemDeDup AT INGEST, the embedding-side
    * twin of [[IndexMaintenance.curateEpoch]]: an arriving vector is
    * REJECTED when a standing vector in its assigned cell (frozen
    * centroids) has cosine ≥ τ, or an earlier same-cell vector of its
    * own epoch does (within-epoch keep-first by vec_id). The ADMITTED
    * set appends through the two index tables plus the decision-ledger
    * row, all under one `wap-id`; the ledger (not corpus content)
    * decides replays, because rejects leave no corpus trace. Epoch k+1
    * gates against base ∪ admitted(≤k) — the assigned table itself is
    * the standing set, so the sequential dependence is free.
    *
    * At 100 TB: the candidate probe is CELL-PRUNED (the batch's
    * distinct cells — a bounded ≤K collect — prune the assigned-table
    * scan), the within-epoch verify is cell-keyed (never a cross
    * product), and the epoch body stays map-only + bounded appends. */
  def curateVecEpoch(s: SparkSession, base: String, batch: DataFrame,
      epochId: Long): Boolean =
    MaintenanceLease.withLease(base, "curateVecEpoch")(
      curateVecEpochImpl(s, base, batch, epochId))

  private def curateVecEpochImpl(s: SparkSession, base: String, batch: DataFrame,
      epochId: Long): Boolean = synchronized {
    // Finish any mid-publish crash FIRST: if the roll-forward completes
    // THIS epoch's ledger publish, the epoch was decided (by the
    // original run — the staged ledger row IS the original decision)
    // and the replay below no-ops on it.
    val recovered = recoverTorn(s, base)
    reconcileFence(s, base)
    if (IndexMaintenance.epochDecided(s, base, epochId))
      return recovered.contains(s"veccurate-e$epochId")
    // The gated chain is ORDER-DEPENDENT (epoch k+1 gates against
    // admitted(≤k)); delivery order rests on the file source reading
    // unread files in mtime order — undocumented behavior. Verify it
    // here so an out-of-order delivery fails loudly instead of
    // silently deciding against the wrong standing set.
    if (epochId > 0 && !IndexMaintenance.epochDecided(s, base, epochId - 1))
      throw new IllegalStateException(
        s"gated epoch $epochId delivered before epoch ${epochId - 1} " +
          "was decided — epochs must decide in order")
    val wapId = s"veccurate-e$epochId"
    val ct = corpusTable(base)
    val ip = vecPath(base)
    for (st <- IndexFence.staleness(ip))
      if (st) throw new IllegalStateException(
        s"vector index at $ip is STALE (out-of-band corpus drift): " +
          "rebuild before maintaining.")
    val assignedT = s"$ip/assigned"
    val lt = IndexMaintenance.ledgerTable(base)
    val allTables = Seq(ct, assignedT, lt)
    // Clear any torn stage of THIS epoch (reverse-order / roll-forward
    // aware).
    ManifestFileSink.wapAbort(allTables, wapId)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = b.count()
      if (total == 0) return false
      val bAssigned = VectorIndex.assignNew(s, ip, b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bVec = bAssigned.select(col("vec_id"),
          VectorIndex.dec(col("vnenc")).as("vn"), col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Bounded probe list: distinct cells of the batch (≤ centroid
      // count by construction) prune the standing-set scan. The batch's
      // OWN vec_ids are excluded from the standing set: after a torn
      // publish (corpus/assigned landed, ledger didn't) the replay
      // would otherwise self-match every vector at cosine 1 and record
      // admitted=0 — a permanently wrong decision row. The anti-join
      // makes a replay reconverge to the original decision, and the
      // torn state then surfaces via the collisions audit (or repairs,
      // below) instead of a bogus ledger row.
      val probed = bVec.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val cands = s.read.format(fmt).option("path", assignedT).load()
        .filter(col("cell").isin(probed: _*))
        .join(bVec.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select(VectorIndex.dec(col("vnenc")).as("cvn"), col("cell"))
      val corpusDups = bVec.join(cands, Seq("cell"))
        .filter(graft.functions.VectorFunctions.dotp(col("vn"), col("cvn")) >= SemTau)
        .select(col("vec_id"))
      val inBatchDups = bVec.as("a").join(bVec.as("b"),
          col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
        .filter(graft.functions.VectorFunctions.dotp(col("a.vn"), col("b.vn")) >= SemTau)
        .select(col("a.vec_id").as("vec_id"))
      val dropped = corpusDups.unionByName(inBatchDups).distinct()
      val admitted = b.join(dropped, Seq("vec_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val admAssigned = bAssigned.join(dropped, Seq("vec_id"), "left_anti")
      val nAdmitted = admitted.count()
      import s.implicits._
      val ledgerRow = Seq((epochId, nAdmitted, total - nAdmitted))
        .toDF("epoch", "admitted", "rejected")
      def stage(df: DataFrame, path: String): Unit =
        df.write.format(fmt).option("path", path).option("wap-id", wapId)
          .mode("append").save()
      def wapView(path: String): DataFrame =
        s.read.format(fmt).option("path", path)
          .option("asOfManifest", s"wap:$wapId").load()
      def mainCount(path: String): Long =
        s.read.format(fmt).option("path", path).load().count()
      // Torn-publish REPAIR: the epoch's effects fully landed (the
      // reconverged admitted set is already in both index tables — the
      // self-match exclusion above is what makes the decision
      // reconverge) but the crash hit before the ledger publish. The
      // decision record is the only missing piece; publish it alone and
      // re-advance the fence (the torn run died before its fence write).
      val alreadyInCorpus =
        if (nAdmitted == 0) 0L
        else readCorpus(s, base).join(
          admitted.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
      if (nAdmitted > 0 && alreadyInCorpus == nAdmitted) {
        val alreadyAssigned = s.read.format(fmt).option("path", assignedT)
          .load().join(admitted.select(col("vec_id")),
            Seq("vec_id"), "left_semi").count()
        if (alreadyAssigned != nAdmitted) throw new IllegalStateException(
          s"curated-epoch repair refused: $alreadyInCorpus admitted " +
            s"vec_ids in the corpus but only $alreadyAssigned in the " +
            "assigned table — inconsistent torn state needs a rebuild")
        try {
          val pre = mainCount(lt)
          stage(ledgerRow, lt)
          val grew = wapView(lt).count() - pre
          if (grew != 1L) throw new IllegalStateException(
            s"curated-epoch repair audit failed: ledger staged $grew " +
              "rows, expected 1")
          ManifestFileSink.wapPublish(lt, wapId)
        } catch {
          case e: Throwable =>
            try ManifestFileSink.wapDiscard(lt, wapId)
            catch { case _: Throwable => () }
            throw e
        } finally {
          bAssigned.unpersist(); bVec.unpersist(); admitted.unpersist()
        }
        s.catalog.refreshByPath(ct)
        IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
        return true
      }
      try {
        val pre = allTables.map(p => p -> mainCount(p)).toMap
        stage(encodeRows(admitted), ct)
        stage(admAssigned, assignedT)
        stage(ledgerRow, lt)
        val collisions = readCorpus(s, base).join(
          admitted.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
        if (collisions > 0) throw new IllegalStateException(
          s"curated-epoch audit failed: $collisions admitted vec_ids " +
            "already in the corpus")
        val expected = Map(
          ct -> nAdmitted, assignedT -> nAdmitted, lt -> 1L)
        for (p <- allTables) {
          val grew = wapView(p).count() - pre(p)
          if (grew != expected(p)) throw new IllegalStateException(
            s"curated-epoch audit failed: $p staged $grew rows, expected " +
              s"${expected(p)}")
        }
        allTables.foreach(p => ManifestFileSink.wapPublish(p, wapId))
      } catch {
        case e: Throwable =>
          ManifestFileSink.wapAbort(allTables, wapId)
          throw e
      } finally {
        bAssigned.unpersist(); bVec.unpersist(); admitted.unpersist()
      }
      s.catalog.refreshByPath(ct)
      s.catalog.refreshByPath(assignedT)
      IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
      true
    } finally b.unpersist()
  }

  /** The DELETE maintenance verb for the vector index — the embedding
    * twin of [[IndexMaintenance.deleteRange]]: retract every vector in
    * `[lo, hi)` from the managed corpus AND the assigned table in ONE
    * WAP-staged commit with a retraction-ledger row. The vector index
    * stores no global statistic, so there is no negative-partial step:
    * masking the per-vector rows IS the whole retraction, and serve
    * over survivors equals assign-survivors-then-serve under the SAME
    * frozen centroids by the per-vector-row argument. The trained-over
    * marker is deliberately untouched: a delete drifts the corpus from
    * the training sample like any append does, and the RETRAIN door
    * ([[ensureRetrained]]) stays the explicit verb for closing it.
    * Idempotent: a replayed range finds only masked victims, no-ops. */
  def deleteRange(s: SparkSession, base: String, lo: Long, hi: Long): Long =
    deleteRanges(s, base, Seq((lo, hi))).head

  /** The BATCHED vector delete (verdict-r17 Next #2, the embedding twin
    * of [[IndexMaintenance.deleteRanges]]): K sorted disjoint windows
    * retract in ONE three-table transaction — union predicate, one
    * ledger row per window with victims, one fence advance. Returns
    * per-window retracted counts, aligned with `windows`. */
  def deleteRanges(s: SparkSession, base: String,
      windows: Seq[(Long, Long)]): Seq[Long] =
    MaintenanceLease.withLease(base, "deleteRanges")(
      deleteRangesImpl(s, base, windows))

  private def deleteRangesImpl(s: SparkSession, base: String,
      windows: Seq[(Long, Long)]): Seq[Long] =
    synchronized {
      require(windows.nonEmpty, "no delete windows")
      windows.foreach { case (lo, hi) =>
        require(lo < hi, s"empty delete range [$lo, $hi)") }
      windows.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) => require(h1 <= l2,
          s"delete windows must be sorted and disjoint (got …$h1) ∩ [$l2…)")
        case _ =>
      }
      val wapId =
        if (windows.size == 1) s"vecdelete-${windows.head._1}-${windows.head._2}"
        else "vecdelete-batch-" + windows.map { case (l, h) => s"$l-$h" }.mkString("_")
      val ct = corpusTable(base)
      val ip = vecPath(base)
      recoverTorn(s, base)
      reconcileFence(s, base)
      for (st <- IndexFence.staleness(ip))
        if (st) throw new IllegalStateException(
          s"vector index at $ip is STALE (out-of-band corpus drift): " +
            "rebuild before maintaining.")
      val assignedT = s"$ip/assigned"
      val cstatsT = cstatsTable(ip)
      val dt = IndexMaintenance.delsTable(base)
      val allTables = Seq(ct, assignedT, cstatsT, dt)
      // Clear any torn stage of THIS delete (reverse-order / roll-
      // forward aware).
      ManifestFileSink.wapAbort(allTables, wapId)
      val pred = windows.map { case (lo, hi) =>
        col("vec_id") >= lo && col("vec_id") < hi }.reduce(_ || _)
      val winFilters = windows.map { case (lo, hi) =>
        org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThanOrEqual("vec_id", lo),
          org.apache.spark.sql.sources.LessThan("vec_id", hi))
          : org.apache.spark.sql.sources.Filter
      }
      val filt = winFilters.reduce(org.apache.spark.sql.sources.Or(_, _))
      // Victim counts from the zone maps when they decide every live file
      // (the delete's match scans below read the rows and must agree);
      // counting queries when one straddles a window.
      val counts = ManifestFileSink.strictCounts(ct, winFilters).getOrElse {
        val winCol = windows.zipWithIndex.foldLeft(lit(-1)) {
          case (acc, ((lo, hi), i)) =>
            when(col("vec_id") >= lo && col("vec_id") < hi, lit(i)).otherwise(acc)
        }
        val perWin = readCorpus(s, base).filter(pred)
          .groupBy(winCol.as("w")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        windows.indices.map(i => perWin.getOrElse(i, 0L))
      }
      val nVecs = counts.sum
      if (nVecs == 0) return counts // replay or empty windows: no-op
      val nAssigned = ManifestFileSink.strictCounts(assignedT, Seq(filt))
        .fold(s.read.format(fmt).option("path", assignedT).load().filter(pred).count())(_.head)
      // NEGATED per-cell partial sums from the victims' still-visible
      // assigned rows — the incremental-retrain fold absorbs the
      // retraction exactly as the text index's df partials do. The
      // windows bound the victims, so they fold in one task, no shuffle.
      val negCstats = cellPartials(
          s.read.format(fmt).option("path", assignedT).load().filter(pred).coalesce(1)
            .select(col("cell"), VectorIndex.dec(col("vnenc")).as("vn")))
        .select(col("cell"), col("j"), (-col("s")).as("s"), (-col("n")).as("n"))
      import s.implicits._
      val applied = windows.zip(counts).filter(_._2 > 0)
      val delRow = applied.map { case ((lo, hi), n) => (lo, hi, n) }
        .toDF("del_lo", "del_hi", "n_docs")
      def wapCount(path: String): Long =
        s.read.format(fmt).option("path", path)
          .option("asOfManifest", s"wap:$wapId").load().count()
      def mainCount(path: String): Long =
        s.read.format(fmt).option("path", path).load().count()
      try {
        val pre = allTables.map(p => p -> mainCount(p)).toMap
        // Each match scan is audited before the next table stages: a
        // corpus scan that staged nothing must leave no later stage
        // behind, or the abort would read the unstaged head as a publish
        // already under way and roll the rest forward.
        def matchAudit(table: String, staged: Long, expected: Long): Unit =
          if (staged != expected) throw new IllegalStateException(
            s"vector delete audit failed: $table match scan staged $staged " +
              s"deletions, expected $expected")
        matchAudit(ct, ManifestFileSink.deleteWhereStaged(ct, filt, wapId), nVecs)
        matchAudit(assignedT,
          ManifestFileSink.deleteWhereStaged(assignedT, filt, wapId), nAssigned)
        val nNegCstats = observedWrite(negCstats, count(lit(1)))(
          _.write.format(fmt).option("path", cstatsT)
            .option("wap-id", wapId).mode("append").save()).getLong(0)
        delRow.write.format(fmt).option("path", dt).option("wap-id", wapId)
          .mode("append").save()
        val expected = Map(ct -> -nVecs, assignedT -> -nAssigned,
          cstatsT -> nNegCstats, dt -> applied.size.toLong)
        for (p <- allTables) {
          val delta = wapCount(p) - pre(p)
          if (delta != expected(p)) throw new IllegalStateException(
            s"vector delete audit failed: $p staged delta $delta, " +
              s"expected ${expected(p)}")
        }
        allTables.foreach(p => ManifestFileSink.wapPublish(p, wapId))
      } catch {
        case e: Throwable =>
          ManifestFileSink.wapAbort(allTables, wapId)
          throw e
      }
      allTables.foreach(s.catalog.refreshByPath)
      IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
      counts
    }

  /** ensure → ingest-once → ready; the shared entry skeleton. */
  private def maintained(s: SparkSession, dir: String): String = {
    val base = ensureBase(s, dir)
    if (!batchApplied(s, base)) {
      ingestAppend(s, base,
        Tables(s, dir).embeddings.filter(col("vec_id") % 13 === AppendClass))
      s.catalog.refreshByPath(corpusTable(base))
    }
    base
  }

  /** Oracle-gated: nprobe=1 serve from the MAINTAINED vector index —
    * base trained + frozen, class-6 appended, so the served universe is
    * ALL vectors while the centroids are the base's. DuckDB replays it
    * with train=eb / assign=e (the [[Similarity.kmeansCtes]] split). */
  def vecIndexAppend: (SparkSession, String) => DataFrame = (s, dir) => {
    VectorIndex.serve(s, vecPath(maintained(s, dir)), nprobe = 1)
  }

  /** Oracle-gated: the MAINTAINED index's nprobe=2 serve — the IVF
    * recall lever wired on the maintained base, not just the persisted
    * static index (`knn_index_serve_multiprobe`): probes take their
    * top-2 cells against the frozen base-trained centroids and the
    * candidate set doubles, which is exactly what an operator turns up
    * when the maintained index's measured recall
    * ([[vecRetrainRecallCert]]) reads low — the two entries are the
    * knob and its gauge. Read-only over `vec_index_append`'s base, so
    * the entries share one build. DuckDB replays it with the same
    * train=eb/assign=e split plus the rn ≤ 2 probe CTE. */
  def vecIndexServeMultiprobe: (SparkSession, String) => DataFrame = (s, dir) =>
    VectorIndex.serve(s, vecPath(maintained(s, dir)), nprobe = 2)

  val vecIndexServeMultiprobeSql: String =
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |${Similarity.kmeansCtes("eb", "e")},
       |p AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.vec_id AS query_id, q.vn AS qv, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.vn, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) DESC,
       |          c.cent_id) AS rn
       |    FROM (SELECT vec_id, vn FROM af WHERE vec_id < 10) q
       |    CROSS JOIN c3 c) t WHERE rn <= 2)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(p.qv, a.vn), 9) AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id
       |      ORDER BY list_dot_product(p.qv, a.vn) DESC, a.vec_id) AS rank
       |  FROM p JOIN af a ON p.cell = a.cell AND a.vec_id <> p.query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** The delete entry keeps its OWN managed base (the retraction must
    * not disturb the append/compact entries' fences). */
  def deleteBasePath(dir: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_vecdelete", dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  /** Oracle-gated: nprobe=1 serve AFTER the standard retraction window
    * (`vec_id ∈ [100, 300)`) — centroids stay the base-trained frozen
    * set (training saw the later-deleted vectors: exactly a production
    * takedown), the served universe is survivors only, and DuckDB
    * replays train = eb (full base) / assign = survivors. */
  def vecIndexDelete: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = ensureBaseAt(s, dir, deleteBasePath(dir))
    if (!batchApplied(s, base)) {
      ingestAppend(s, base,
        Tables(s, dir).embeddings.filter(col("vec_id") % 13 === AppendClass))
      s.catalog.refreshByPath(corpusTable(base))
    }
    deleteRange(s, base, IndexMaintenance.DelLo, IndexMaintenance.DelHi)
    VectorIndex.serve(s, vecPath(base), nprobe = 1)
  }

  /** PURGE for the vector base — [[IndexMaintenance.purgeDeletes]]'s
    * two-table form. */
  def purgeDeletes(s: SparkSession, base: String): Int =
    MaintenanceLease.withLease(base, "purgeDeletes")(purgeDeletesImpl(s, base))

  private def purgeDeletesImpl(s: SparkSession, base: String): Int = synchronized {
    val ct = corpusTable(base)
    val ip = vecPath(base)
    recoverTorn(s, base)
    val purged = Seq(ct, s"$ip/assigned").map { t =>
      val n = ManifestFileSink.applyDeletes(t)
      ManifestFileSink.vacuum(t, olderThanMs = 0L)
      s.catalog.refreshByPath(t)
      n
    }.sum
    if (purged > 0) {
      s.catalog.refreshByPath(ct)
      IndexFence.write(ip, ct, IndexFence.fingerprint(ct))
    }
    purged
  }

  /** Oracle-gated: serve after delete-then-PURGE — the delete oracle
    * replays it (purge preserves every surviving row). */
  def vecIndexPurge: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = ensureBaseAt(s, dir, deleteBasePath(dir))
    if (!batchApplied(s, base)) {
      ingestAppend(s, base,
        Tables(s, dir).embeddings.filter(col("vec_id") % 13 === AppendClass))
      s.catalog.refreshByPath(corpusTable(base))
    }
    deleteRange(s, base, IndexMaintenance.DelLo, IndexMaintenance.DelHi)
    purgeDeletes(s, base)
    VectorIndex.serve(s, vecPath(base), nprobe = 1)
  }

  val vecIndexDeleteSql: String =
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |ed AS (SELECT * FROM e WHERE NOT (vec_id >= 100 AND vec_id < 300)),
       |${Similarity.kmeansCtes("eb", "ed")},
       |p AS (SELECT vec_id AS query_id, vn AS qv, cell FROM af WHERE vec_id < 10)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(p.qv, a.vn), 9) AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id
       |      ORDER BY list_dot_product(p.qv, a.vn) DESC, a.vec_id) AS rank
       |  FROM p JOIN af a ON p.cell = a.cell AND a.vec_id <> p.query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Oracle-gated: COMPACT the maintained assigned table back to one
    * attested file per cell, then serve — [[IndexMaintenance
    * .textIndexCompact]]'s verb applied to the vector index (the
    * compaction operates on the manifest layer, so it carries to every
    * maintained table unchanged). Each append adds one file per touched
    * cell; the fold clusters by the identity `cell` column so ONE task
    * owns each cell and the demux re-earns one file per cell, gated on
    * the published segment count so re-runs pay a metadata read. Serve
    * is hash-identical by construction (assignment rows preserved, no
    * global statistic), and the fence is untouched — it fingerprints
    * the corpus chain, not index files.
    *
    * At 100 TB: the rewrite is one clustered pass over the assigned
    * table, amortized over the appends since the last fold; the knob is
    * the segment-count threshold (1 here to prove the fold each run). */
  def vecIndexCompact: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = maintained(s, dir)
    val assignedT = s"${vecPath(base)}/assigned"
    MaintenanceLease.withLease(base, "compact") {
      if (ManifestFileSink.publishedManifestCount(assignedT) > 1) {
        ManifestFileSink.repartitionTable(s, assignedT, Seq("cell"), 8)
        s.catalog.refreshByPath(assignedT)
      }
    }
    VectorIndex.serve(s, vecPath(base), nprobe = 1)
  }

  val vecIndexAppendSql: String =
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |${Similarity.kmeansCtes("eb", "e")},
       |p AS (SELECT vec_id AS query_id, vn AS qv, cell FROM af WHERE vec_id < 10)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(p.qv, a.vn), 9) AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id
       |      ORDER BY list_dot_product(p.qv, a.vn) DESC, a.vec_id) AS rank
       |  FROM p JOIN af a ON p.cell = a.cell AND a.vec_id <> p.query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Oracle-gated: the RETRAIN verb end-to-end on its own managed
    * corpus — build (train over base), append class 6 frozen, then
    * [[ensureRetrained]] retrains over the grown corpus and reassigns
    * everything. Served results equal training over ALL vectors, so
    * DuckDB replays it with the train=assign=e CTEs — a skipped or
    * partial retrain is a hash miss (the frozen serve differs at every
    * test SF). Re-runs no-op via the trained-over fingerprint. */
  def vecIndexRetrain: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = ensureBaseAt(s, dir, retrainBasePath(dir))
    if (!batchApplied(s, base)) {
      ingestAppend(s, base,
        Tables(s, dir).embeddings.filter(col("vec_id") % 13 === AppendClass))
      s.catalog.refreshByPath(corpusTable(base))
    }
    ensureRetrained(s, base)
    VectorIndex.serve(s, vecPath(base), nprobe = 1)
  }

  /** Own base for the INCREMENTAL retrain entry (must not disturb the
    * full-retrain entry's marker or the append entry's frozen cents). */
  def incRetrainBasePath(dir: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_vecincretrain", dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  /** Oracle-gated: the INCREMENTAL retrain end-to-end — build (train
    * over the base corpus), append class 6 frozen, then
    * [[retrainIncremental]] advances the centroids to the grown
    * corpus's per-cell means by folding the persisted cstats partials
    * (never touching the corpus). Serve probes against the MOVED
    * centroids while candidates keep their stored (mini-batch-lagged)
    * cells — exactly the state DuckDB replays with one extra
    * mean-update CTE over the final assignment, so a skipped fold, a
    * stale partial row, or a drifted mean is a hash miss. Re-runs
    * no-op via the trained-over marker. */
  def vecIndexRetrainIncremental: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = ensureBaseAt(s, dir, incRetrainBasePath(dir))
    if (!batchApplied(s, base)) {
      ingestAppend(s, base,
        Tables(s, dir).embeddings.filter(col("vec_id") % 13 === AppendClass))
      s.catalog.refreshByPath(corpusTable(base))
    }
    retrainIncremental(s, base)
    VectorIndex.serve(s, vecPath(base), nprobe = 1)
  }

  /** DuckDB replay of the incremental retrain: c3/af = the base-trained
    * centroids and the frozen assignment of ALL vectors (the standard
    * split CTEs), c4 = the mini-batch Lloyd update (per-cell component
    * means over af, ROUND 6 — [[Similarity.kmeansUpdate]]'s exact
    * expression), probes re-select their cell against c4, candidates
    * come from the af (stored) cells. */
  val vecIndexRetrainIncrementalSql: String =
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |${Similarity.kmeansCtes("eb", "e")},
       |s4 AS (
       |  SELECT cell, i AS j, ROUND(SUM(vn[i]) / COUNT(*), 6) AS m
       |  FROM af, UNNEST(generate_series(1, len(vn))) AS u(i)
       |  GROUP BY cell, i),
       |c4 AS (SELECT cell AS cent_id, list(m ORDER BY j) AS cv FROM s4 GROUP BY cell),
       |p AS (
       |  SELECT vec_id AS query_id, vn AS qv, cell FROM (
       |    SELECT q.vec_id, q.vn, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.vn, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) DESC,
       |          c.cent_id) AS rn
       |    FROM (SELECT vec_id, vn FROM af WHERE vec_id < 10) q
       |    CROSS JOIN c4 c) t WHERE rn = 1)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(p.qv, a.vn), 9) AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id
       |      ORDER BY list_dot_product(p.qv, a.vn) DESC, a.vec_id) AS rank
       |  FROM p JOIN af a ON p.cell = a.cell AND a.vec_id <> p.query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  val vecCurationStreamSql: String =
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |${Similarity.kmeansCtes("eb", "e")},
       |base0 AS (SELECT vec_id, vn, cell FROM af WHERE vec_id % 13 <> 6),
       |e0 AS (SELECT vec_id, vn, cell FROM af
       |       WHERE vec_id % 13 = 6 AND (vec_id // 13) % 2 = 0),
       |e1 AS (SELECT vec_id, vn, cell FROM af
       |       WHERE vec_id % 13 = 6 AND (vec_id // 13) % 2 = 1),
       |drop0 AS (SELECT DISTINCT a.vec_id FROM e0 a
       |  WHERE EXISTS (SELECT 1 FROM base0 b WHERE b.cell = a.cell
       |          AND list_dot_product(a.vn, b.vn) >= 0.45)
       |     OR EXISTS (SELECT 1 FROM e0 b WHERE b.cell = a.cell
       |          AND b.vec_id < a.vec_id
       |          AND list_dot_product(a.vn, b.vn) >= 0.45)),
       |adm0 AS (SELECT * FROM e0
       |  WHERE vec_id NOT IN (SELECT vec_id FROM drop0)),
       |st1 AS (SELECT * FROM base0 UNION ALL SELECT * FROM adm0),
       |drop1 AS (SELECT DISTINCT a.vec_id FROM e1 a
       |  WHERE EXISTS (SELECT 1 FROM st1 b WHERE b.cell = a.cell
       |          AND list_dot_product(a.vn, b.vn) >= 0.45)
       |     OR EXISTS (SELECT 1 FROM e1 b WHERE b.cell = a.cell
       |          AND b.vec_id < a.vec_id
       |          AND list_dot_product(a.vn, b.vn) >= 0.45)),
       |adm1 AS (SELECT * FROM e1
       |  WHERE vec_id NOT IN (SELECT vec_id FROM drop1))
       |SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell FROM adm0
       |  UNION ALL SELECT vec_id, cell FROM adm1)
       |ORDER BY vec_id""".stripMargin

  /** Oracle-gated: the vector base's cross-table CONSISTENCY audit —
    * [[IndexMaintenance.indexConsistencyAudit]]'s two-table sibling:
    * the corpus and assigned tables are the SAME per-vector grain, so
    * their row counts must agree after any number of two-table
    * transactions (a torn publish that landed one side is a hash miss
    * on its row), and the used-cell count is bounded by the trained
    * centroid set (the oracle re-derives it from the frozen-centroid
    * assignment). Counts are metadata-answered except the distinct-cell
    * probe, which reads the assigned table — never an embedding. */
  def vecConsistencyAudit: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = maintained(s, dir)
    def tbl(p: String): DataFrame = s.read.format(fmt).option("path", p).load()
    def row(name: String, n: DataFrame): DataFrame =
      n.select(lit(name).as("invariant"), col("n"))
    Seq(
      row("assigned_rows",
        tbl(s"${vecPath(base)}/assigned").agg(count(lit(1)).as("n"))),
      row("cells_used",
        tbl(s"${vecPath(base)}/assigned").agg(countDistinct(col("cell")).as("n"))),
      row("corpus_rows", tbl(corpusTable(base)).agg(count(lit(1)).as("n"))))
      .reduce(_.unionByName(_)).orderBy(col("invariant"))
  }

  val vecConsistencyAuditSql: String =
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |${Similarity.kmeansCtes("eb", "e")}
       |SELECT * FROM (
       |  SELECT 'assigned_rows' AS invariant, (SELECT COUNT(*) FROM af) AS n
       |  UNION ALL SELECT 'cells_used', (SELECT COUNT(DISTINCT cell) FROM af)
       |  UNION ALL SELECT 'corpus_rows', (SELECT COUNT(*) FROM e)
       |) ORDER BY invariant""".stripMargin

  /** Own base for the retrain-recall certificate (its maintenance
    * history must not disturb the other entries' fences or markers). */
  def recallCertBasePath(dir: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_vecrecallcert", dir.replaceAll("[^A-Za-z0-9._-]", "_")).toString

  /** The certificate's two retraction windows. W1 contains NO class-6
    * vec_id (nothing later re-appends into it, so replaying the delete
    * is a no-op and the entry stays idempotent); W2 contains one id
    * from EACH append half (201 ≡ 19, 214 ≡ 6 mod 26), so the second
    * retraction stages negative partials against both appended
    * segments — the fold cancellation the certificate must price. */
  private val CertW1: (Long, Long) = (100L, 110L)
  private val CertW2: (Long, Long) = (195L, 221L)

  /** RECALL-DRIFT CERTIFICATE for the incremental retrain (verdict-r18
    * Next #4) — the knn_recall_eval discipline applied to the mini-batch
    * trade: [[retrainIncremental]] advances centroids to the exact
    * grown-corpus means but leaves STORED assignments one update stale
    * (the documented mini-batch Lloyd lag), and until this entry that
    * trade's recall cost was asserted, not measured. After TWO full
    * append + delete + retrainIncremental cycles (the second append
    * assigns against the ONCE-MOVED centroids, so the lag is real, not
    * simulated), it measures recall@5 of the served incremental index
    * against brute-force ground truth over the survivors, NEXT TO the
    * same probe set served by a full from-scratch retrain (train +
    * assign over the final corpus — zero lag). One row per probe:
    * `(n_truth, hits_inc, recall_inc_at_5, hits_full, recall_full_at_5)`
    * — the parity claim (incremental ≈ full) is pinned by
    * RetrainRecallCertSpec; the oracle replays the whole maintenance
    * history (two assignment epochs, two retractions, two mean folds,
    * plus an independent from-scratch training) so a skipped fold, a
    * wrong lag, or a drifted mean is a hash miss.
    *
    * Scale shape: the certificate is a SAMPLE instrument — ground truth
    * is the brute-force scan every recall audit pays (per probe, one
    * corpus pass through the bounded heap), which is why probes are a
    * fixed 20-id sample; the two serves touch one cell per probe and the
    * from-scratch reference costs one training (3 Lloyd passes). At
    * 100 TB this runs on a probe sample per maintenance epoch, exactly
    * like knn_recall_eval. */
  def vecRetrainRecallCert: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = ensureBaseAt(s, dir, recallCertBasePath(dir))
    val ip = vecPath(base)
    val emb = Tables(s, dir).embeddings
    def missing(id: Long): Boolean =
      readCorpus(s, base).filter(col("vec_id") === id).limit(1).isEmpty
    // Cycle 1: append the even half of class 6 (assigned under the
    // build-trained centroids), retract W1, advance the centroids.
    if (missing(6L))
      ingestAppend(s, base,
        emb.filter(col("vec_id") % 26 === 6), wapId = "cert-c6even")
    deleteRanges(s, base, Seq(CertW1)) // replayed: zero victims, no-op
    retrainIncremental(s, base)
    // Cycle 2: the odd half assigns against the MOVED centroids (the
    // lag under measurement), retract W2, advance again.
    if (missing(19L))
      ingestAppend(s, base,
        emb.filter(col("vec_id") % 26 === 19), wapId = "cert-c6odd")
    deleteRanges(s, base, Seq(CertW2))
    retrainIncremental(s, base)

    val k = 5
    val cents = s.read.format(fmt).option("path", s"$ip/cents").load()
      .select(col("cent_id"), VectorIndex.dec(col("cvenc")).as("cv"))
    val stored = s.read.format(fmt).option("path", s"$ip/assigned").load()
      .select(col("vec_id"), VectorIndex.dec(col("vnenc")).as("vn"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = stored.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("vn").as("qv"))
    // Ground truth: brute-force top-5 over the survivors (broadcast
    // probes, corpus scanned once through the bounded heap).
    val exactScored = broadcast(probes)
      .join(stored, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotp(col("qv"), col("vn")).as("cos"))
    val exact = TopKPerGroup(exactScored, Seq("query_id"),
      Seq(("cos", false), ("neighbor_id", true)), k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Probe-side cell selection against a given centroid set (the serve
    // expressions: dot/|cv| score, ties to the lowest cent_id).
    def probeCells(cs: DataFrame): DataFrame =
      probes.join(broadcast(cs))
        .select(col("query_id"), col("qv"), col("cent_id"),
          (dotp(col("qv"), col("cv")) / sqrt(dotp(col("cv"), col("cv"))))
            .as("score"))
        .groupBy(col("query_id"))
        .agg(max_by(col("cent_id"),
            struct(col("score"), -col("cent_id"))).as("cell"),
          first(col("qv")).as("qv"))
    def top5(candidates: DataFrame, pc: DataFrame): DataFrame = {
      val scored = broadcast(pc).join(candidates, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dotp(col("qv"), col("vn")).as("cos"))
      TopKPerGroup(scored, Seq("query_id"),
        Seq(("cos", false), ("neighbor_id", true)), k)
        .select(col("query_id"), col("neighbor_id"))
    }
    // The served INCREMENTAL index: probes re-select under the folded
    // centroids, candidates keep their stored (lagged) cells.
    val inc = top5(stored, probeCells(cents))
    // The FROM-SCRATCH reference: full k-means retrain over the
    // survivors — fresh training, fresh assignment, zero lag.
    val sv = stored.select(col("vec_id"), col("vn"))
    val fresh = Similarity.kmeansCentroids(sv)
    val full = top5(Similarity.kmeansAssign(sv, fresh), probeCells(fresh))
    def hitsOf(approx: DataFrame, nm: String): DataFrame =
      exact.join(approx.withColumn("h", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("h"), lit(0L))).as(nm))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
      .join(hitsOf(inc, "hits_inc"), Seq("query_id"))
      .join(hitsOf(full, "hits_full"), Seq("query_id"))
      .select(col("query_id"), col("n_truth"), col("hits_inc"),
        (col("hits_inc").cast("double") / k).as("recall_inc_at_5"),
        col("hits_full"),
        (col("hits_full").cast("double") / k).as("recall_full_at_5"))
      .orderBy(col("query_id"))
  }

  /** DuckDB replay of the certificate's WHOLE maintenance history:
    * base training (c0–c3, af), epoch-1 assignment of the even half
    * against c3 (`a1n`), retraction W1 (`st1`), mean fold (`c4`),
    * epoch-2 assignment of the odd half against the MOVED c4 (`a2n`),
    * retraction W2 (`st2`), final fold (`c5`) — next to an independent
    * from-scratch training over the survivors (`c3r`/`afr`, the
    * suffixed [[Similarity.kmeansCtes]]). Both serves and the exact
    * ground truth run over the same survivor relation. */
  val vecRetrainRecallCertSql: String = {
    val (w1lo, w1hi) = CertW1
    val (w2lo, w2hi) = CertW2
    def assignCte(name: String, cents: String, src: String): String =
      s"""$name AS (
         |  SELECT s.vec_id, e0.vn, s.cell FROM (
         |    SELECT vec_id, cell FROM (
         |      SELECT sc.vec_id, sc.cent_id AS cell,
         |        ROW_NUMBER() OVER (PARTITION BY sc.vec_id
         |          ORDER BY sc.score DESC, sc.cent_id) AS rn
         |      FROM (
         |        SELECT e1.vec_id, c.cent_id,
         |          list_dot_product(e1.vn, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) AS score
         |        FROM $src e1 CROSS JOIN $cents c) sc) t WHERE rn = 1) s
         |  JOIN $src e0 ON s.vec_id = e0.vec_id)"""
    def meanFold(sName: String, cName: String, src: String): String =
      s"""$sName AS (
         |  SELECT cell, i AS j, ROUND(SUM(vn[i]) / COUNT(*), 6) AS m
         |  FROM $src, UNNEST(generate_series(1, len(vn))) AS u(i)
         |  GROUP BY cell, i),
         |$cName AS (SELECT cell AS cent_id, list(m ORDER BY j) AS cv FROM $sName GROUP BY cell)"""
    def probeSel(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT query_id, qv, cell FROM (
         |    SELECT p.query_id, p.qv, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id
         |        ORDER BY list_dot_product(p.qv, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) DESC,
         |          c.cent_id) AS rn
         |    FROM p CROSS JOIN $cents c) t WHERE rn = 1)"""
    def top5(name: String, pc: String, cand: String): String =
      s"""$name AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT pc.query_id, a.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY pc.query_id
         |        ORDER BY list_dot_product(pc.qv, a.vn) DESC, a.vec_id) AS rn
         |    FROM $pc pc JOIN $cand a
         |      ON pc.cell = a.cell AND a.vec_id <> pc.query_id) t WHERE rn <= 5)"""
    def hitsCte(name: String, approx: String, hcol: String): String =
      s"""$name AS (
         |  SELECT x.query_id,
         |    CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS $hcol
         |  FROM exact x LEFT JOIN $approx a
         |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |  GROUP BY x.query_id)"""
    s"""WITH ${Similarity.normalizedSql},
       |eb AS (SELECT * FROM e WHERE vec_id % 13 <> 6),
       |${Similarity.kmeansCtes("eb", "eb")},
       |en1 AS (SELECT vec_id, vn FROM e WHERE vec_id % 26 = 6),
       |${assignCte("a1n", "c3", "en1")},
       |st1 AS (SELECT * FROM (SELECT * FROM af UNION ALL SELECT * FROM a1n)
       |        WHERE NOT (vec_id >= $w1lo AND vec_id < $w1hi)),
       |${meanFold("s4", "c4", "st1")},
       |en2 AS (SELECT vec_id, vn FROM e WHERE vec_id % 26 = 19),
       |${assignCte("a2n", "c4", "en2")},
       |st2 AS (SELECT * FROM (SELECT * FROM st1 UNION ALL SELECT * FROM a2n)
       |        WHERE NOT (vec_id >= $w2lo AND vec_id < $w2hi)),
       |${meanFold("s5", "c5", "st2")},
       |sv AS (SELECT vec_id, vn FROM st2),
       |${Similarity.kmeansCtes("sv", "sv", "r")},
       |p AS (SELECT vec_id AS query_id, vn AS qv FROM st2 WHERE vec_id < 20),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id
       |        ORDER BY list_dot_product(p.qv, b.vn) DESC, b.vec_id) AS rn
       |    FROM p JOIN st2 b ON b.vec_id <> p.query_id) t WHERE rn <= 5),
       |${probeSel("pinc", "c5")},
       |${probeSel("pfull", "c3r")},
       |${top5("ainc", "pinc", "st2")},
       |${top5("afull", "pfull", "afr")},
       |${hitsCte("hi", "ainc", "hits_inc")},
       |${hitsCte("hf", "afull", "hits_full")}
       |SELECT q.query_id, q.n_truth, hi.hits_inc,
       |  CAST(hi.hits_inc AS DOUBLE) / 5 AS recall_inc_at_5,
       |  hf.hits_full, CAST(hf.hits_full AS DOUBLE) / 5 AS recall_full_at_5
       |FROM (SELECT query_id, COUNT(*) AS n_truth FROM exact GROUP BY query_id) q
       |JOIN hi ON q.query_id = hi.query_id
       |JOIN hf ON q.query_id = hf.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vec_index_serve_multiprobe" -> vecIndexServeMultiprobe,
    "vec_index_append" -> vecIndexAppend,
    "vec_index_delete" -> vecIndexDelete,
    "vec_index_purge" -> vecIndexPurge,
    "vec_index_compact" -> vecIndexCompact,
    "vec_index_retrain" -> vecIndexRetrain,
    "vec_index_retrain_incremental" -> vecIndexRetrainIncremental,
    "vec_retrain_recall_cert" -> vecRetrainRecallCert,
    "vec_consistency_audit" -> vecConsistencyAudit)

  val oracleSql: Map[String, String] = Map(
    "vec_index_serve_multiprobe" -> vecIndexServeMultiprobeSql,
    "vec_index_append" -> vecIndexAppendSql,
    // Serve over corpus-minus-deleted under base-trained centroids.
    "vec_index_delete" -> vecIndexDeleteSql,
    // Purge preserves every surviving row: the delete oracle replays it.
    "vec_index_purge" -> vecIndexDeleteSql,
    // Compaction preserves every assignment row, so the append oracle
    // replays the compacted serve unchanged.
    "vec_index_compact" -> vecIndexAppendSql,
    // Retrained serve ≡ train over the full universe — the standalone
    // trained-IVF oracle replays it.
    "vec_index_retrain" -> Similarity.knnIvfTrainedSql,
    "vec_index_retrain_incremental" -> vecIndexRetrainIncrementalSql,
    "vec_retrain_recall_cert" -> vecRetrainRecallCertSql,
    "vec_consistency_audit" -> vecConsistencyAuditSql)
}
