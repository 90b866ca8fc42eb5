package graft.llm

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.sources.{JobCounting, ManifestFileSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The vector-maintenance contract (the trilogy's third leg): the
  * two-table WAP transaction appends a batch's corpus rows + frozen-
  * centroid assignments; maintained serve equals the frozen-centroid
  * full pipeline row-for-row; the fence accepts maintained drift,
  * refuses out-of-band drift, and a refused audit leaves the index
  * fresh, servable, and physically untouched. */
class VecMaintenanceSpec extends SparkTestBase with JobCounting {

  private val sf = "/root/testdata/sf0.001"

  private def fmt = classOf[ManifestFileSink].getName

  /** A private corpus copy so the spec never collides with entry runs
    * over shared testdata (documents.parquet comes along because
    * Tables resolves all names from the dir). */
  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-vecmaint-dir").toString
    for (t <- Seq("embeddings", "documents"))
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$d/$t.parquet")
    d
  }

  private def embAll(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")

  /** Batch `k` of 8 fresh vectors, ids `1000000 + 1000k + i`, as a local
    * DataFrame (the benchmark's ingest shape): the first 8 embeddings
    * under new ids, so their bytes are real and the ids never collide. */
  private def freshBatch(dir: String, k: Int): DataFrame = {
    val src = embAll(dir).orderBy(col("vec_id")).limit(8)
      .select((col("vec_id") + (1000000L + k * 1000L)).as("vec_id"), col("embedding"))
    spark.createDataFrame(src.collect().toSeq.asJava, src.schema)
  }

  private def tableCount(p: String): Long =
    spark.read.format(fmt).option("path", p).load().count()

  test("maintained serve equals the frozen-centroid pipeline, hash-strict") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBase(spark, dir)
    VectorMaintenance.ingestAppend(spark, base,
      embAll(dir).filter(col("vec_id") % 13 === 6))
    val served = VectorIndex.serve(spark, VectorMaintenance.vecPath(base), 1)
      .collect().toSeq
    // The frozen-centroid reference: train over the base universe only,
    // assign EVERYTHING against those centroids, search nprobe=1 — the
    // exact semantics the oracle replays with train=eb / assign=e.
    val embBase = Similarity.normalizedDf(
      embAll(dir).filter(col("vec_id") % 13 =!= 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = Similarity.kmeansCentroids(embBase)
    val assigned = Similarity.kmeansAssign(
      Similarity.normalizedDf(embAll(dir)), cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = broadcast(assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vn").as("qv"), col("cell")))
    val want = Similarity.ivfSearch(probes, assigned).collect().toSeq
    assert(served === want)
  }

  test("fence: maintained drift accepted, out-of-band drift refused") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBase(spark, dir)
    val ip = VectorMaintenance.vecPath(base)
    assert(IndexFence.staleness(ip).contains(false))
    VectorMaintenance.ingestAppend(spark, base,
      embAll(dir).filter(col("vec_id") % 13 === 6))
    assert(IndexFence.staleness(ip).contains(false),
      "the transaction's own fence advance accepts maintained drift")
    // Out-of-band append to the managed corpus (the table's encoded
    // row shape): serve must refuse.
    embAll(dir).orderBy(col("vec_id").desc).limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        VectorIndex.enc(transform(col("embedding"), _.cast("double"))).as("embenc"))
      .write.format(fmt)
      .option("path", VectorMaintenance.corpusTable(base))
      .mode("append").save()
    assert(IndexFence.staleness(ip).contains(true))
    val e = intercept[IllegalStateException](
      VectorIndex.serve(spark, ip, 1))
    assert(e.getMessage.contains("STALE"))
  }

  test("refused audit: nothing grows, index stays fresh + servable, no rebuild") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBase(spark, dir)
    val ip = VectorMaintenance.vecPath(base)
    def count(p: String): Long =
      spark.read.format(fmt).option("path", p).load().count()
    def listing(p: String): Set[(String, Long)] = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.isFile).map(f => (f.getName, f.length)).toSet ++
        // Seq-claim markers (`_commits/`) are excluded: a refused stage
        // legitimately leaves its claimed seq behind as a permanent gap
        // — claims are allocation bookkeeping, not logical table state.
        d.listFiles().filter(d2 => d2.isDirectory && d2.getName != "_commits")
          .flatMap(s => s.listFiles().filter(_.isFile)
            .map(f => (s.getName + "/" + f.getName, f.length)))
    }
    val tables = Seq(VectorMaintenance.corpusTable(base), s"$ip/assigned")
    val pre = tables.map(p => p -> count(p)).toMap
    val preFiles = listing(s"$ip/assigned")
    // Replaying an existing vector violates the new-ids audit (decoded
    // back to the raw batch shape ingestAppend takes).
    val existing = spark.read.format(fmt)
      .option("path", VectorMaintenance.corpusTable(base)).load()
      .orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), VectorIndex.dec(col("embenc")).as("embedding"))
    val e = intercept[IllegalStateException](
      VectorMaintenance.ingestAppend(spark, base, existing))
    assert(e.getMessage.contains("already in the corpus"))
    tables.foreach(p => assert(count(p) === pre(p), s"$p must not grow"))
    assert(IndexFence.staleness(ip).contains(false),
      "a refused audit must not stale the fence (manifest-chain fingerprint)")
    assert(VectorIndex.serve(spark, ip, 1).count() > 0)
    assert(listing(s"$ip/assigned") === preFiles,
      "a refused ingest must not rewrite any index file")
  }

  test("serve after maintenance still prunes to probed cells") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = freshDir()
      val base = VectorMaintenance.ensureBase(spark, dir)
      VectorMaintenance.ingestAppend(spark, base,
        embAll(dir).filter(col("vec_id") % 13 === 6))
      val served = VectorIndex.serve(spark, VectorMaintenance.vecPath(base), 1)
      served.collect()
      val scans = served.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }
        .filter(_.scan.description.contains("In(cell"))
      assert(scans.nonEmpty, "expected the probed-cell IN filter")
      val read = scans.map(_.metrics("filesRead").value).max
      val pruned = scans.map(_.metrics("filesPruned").value).max
      assert(pruned > 0 && read < read + pruned,
        s"maintained serve must prune cells: read=$read pruned=$pruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("compaction folds the assigned segments; serve hash-unchanged, fence fresh") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBase(spark, dir)
    VectorMaintenance.ingestAppend(spark, base,
      embAll(dir).filter(col("vec_id") % 13 === 6))
    val ip = VectorMaintenance.vecPath(base)
    val assignedT = s"$ip/assigned"
    val pre = VectorIndex.serve(spark, ip, 1).collect().toSeq
    assert(ManifestFileSink.publishedManifestCount(assignedT) > 1,
      "append must have left a second segment to fold")
    ManifestFileSink.repartitionTable(spark, assignedT, Seq("cell"), 8)
    spark.catalog.refreshByPath(assignedT)
    assert(ManifestFileSink.publishedManifestCount(assignedT) === 1,
      "compaction publishes ONE superseding manifest")
    assert(IndexFence.staleness(ip).contains(false),
      "the corpus never moved — compaction must not touch the fence")
    assert(VectorIndex.serve(spark, ip, 1).collect().toSeq === pre,
      "compaction must not change a single served row")
  }

  test("epoch replay idempotence: fully-applied no-op, torn stage discarded, partial refused") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      java.nio.file.Files.createTempDirectory("graft-vecmaint-base").toString)
    def corpusCount(): Long = spark.read.format(fmt)
      .option("path", VectorMaintenance.corpusTable(base)).load().count()
    val c6 = embAll(dir).filter(col("vec_id") % 13 === 6)
    val e0 = c6.filter(expr("(vec_id div 13) % 2 = 0"))
    val e1 = c6.filter(expr("(vec_id div 13) % 2 = 1"))
    val pre = corpusCount()
    assert(VectorMaintenance.applyEpoch(spark, base, e0, 0L))
    val afterE0 = corpusCount()
    assert(afterE0 === pre + e0.count())
    assert(!VectorMaintenance.applyEpoch(spark, base, e0, 0L),
      "a fully-applied replay must no-op")
    assert(corpusCount() === afterE0)
    assert(IndexFence.staleness(VectorMaintenance.vecPath(base)).contains(false))
    // Torn stage from a crashed attempt of epoch 1: the retry discards
    // it and lands the batch exactly once.
    e1.select(col("vec_id"),
        VectorIndex.enc(transform(col("embedding"), _.cast("double"))).as("embenc"))
      .write.format(fmt)
      .option("path", VectorMaintenance.corpusTable(base))
      .option("wap-id", "vecingest-e1").mode("append").save()
    assert(corpusCount() === afterE0, "staged rows are invisible")
    assert(VectorMaintenance.applyEpoch(spark, base, e1, 1L))
    assert(corpusCount() === afterE0 + e1.count(),
      "the torn stage must not double the batch")
    // Partial overlap straddling an applied boundary (one applied id +
    // one genuinely-new id): refuse loudly.
    val straddle = e0.limit(1).unionByName(
      e0.limit(1).withColumn("vec_id", col("vec_id") + 1000000L))
    val e = intercept[IllegalStateException](
      VectorMaintenance.applyEpoch(spark, base, straddle, 2L))
    assert(e.getMessage.contains("already in the corpus"))
  }

  test("retrain door: marker-gated rebuild over the grown corpus, serve = full-train") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      java.nio.file.Files.createTempDirectory("graft-vecmaint-retrain").toString)
    VectorMaintenance.ingestAppend(spark, base,
      embAll(dir).filter(col("vec_id") % 13 === 6))
    // Frozen-centroid appends advance the FENCE but not the trained-over
    // marker — exactly the drift the retrain door watches.
    assert(IndexFence.staleness(VectorMaintenance.vecPath(base)).contains(false))
    assert(VectorMaintenance.ensureRetrained(spark, base),
      "marker behind the grown corpus: must retrain")
    assert(!VectorMaintenance.ensureRetrained(spark, base),
      "unchanged corpus must no-op (metadata read only)")
    assert(IndexFence.staleness(VectorMaintenance.vecPath(base)).contains(false))
    // Served results equal training over EVERYTHING (the frozen serve
    // would differ: its centroids never saw class 6).
    val emb = Similarity.normalizedDf(embAll(dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assigned = Similarity.kmeansAssign(emb, Similarity.kmeansCentroids(emb))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = broadcast(assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vn").as("qv"), col("cell")))
    val want = Similarity.ivfSearch(probes, assigned).collect().toSeq
    assert(VectorIndex.serve(spark, VectorMaintenance.vecPath(base), 1)
      .collect().toSeq === want)
  }

  test("incremental retrain: partial fold ≡ direct means, absorbs deletes, marker-gated") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      Files.createTempDirectory("graft-vecmaint-inc").toString)
    val ip = VectorMaintenance.vecPath(base)
    VectorMaintenance.ingestAppend(spark, base,
      embAll(dir).filter(col("vec_id") % 13 === 6))

    def centsNow(): Map[Long, Seq[Double]] =
      spark.read.format(fmt).option("path", s"$ip/cents").load()
        .select(col("cent_id"), VectorIndex.dec(col("cvenc")).as("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    // The exactness contract: the cstats fold must equal the means
    // computed DIRECTLY from the assigned table (what a corpus pass
    // would give) — per cell, per component, at the 6-dp grain.
    def directMeans(): Map[Long, Seq[Double]] =
      spark.read.format(fmt).option("path", s"$ip/assigned").load()
        .select(col("cell"), posexplode(VectorIndex.dec(col("vnenc"))).as(Seq("j", "v")))
        .groupBy(col("cell"), col("j")).agg(round(avg(col("v")), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
        .select(col("cell"), transform(col("jm"), x => x.getField("m")).as("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap

    val frozen = centsNow()
    assert(VectorMaintenance.retrainIncremental(spark, base),
      "appended drift must trigger the update")
    val moved = centsNow()
    assert(moved !== frozen, "centroids must move toward the grown corpus")
    assert(moved === directMeans(),
      "the metadata fold must equal a direct corpus-pass mean")
    // Marker-gated idempotence: a second call no-ops.
    assert(!VectorMaintenance.retrainIncremental(spark, base))
    assert(centsNow() === moved)
    // Serve still works against the moved centroids (stored cells lag
    // by one update — the mini-batch trade, by design).
    assert(VectorIndex.serve(spark, ip, 1).collect().nonEmpty)

    // DELETE absorption: negated partials net out the victims, so the
    // next fold equals direct means over the SURVIVORS.
    assert(VectorMaintenance.deleteRange(spark, base, 100L, 300L) > 0)
    assert(VectorMaintenance.retrainIncremental(spark, base),
      "the delete re-drifted the marker")
    assert(centsNow() === directMeans(),
      "negated partials must fold to the survivor means")
    // And the partials table stays mass-consistent: Σn per cell equals
    // the assigned table's live member count.
    val fromParts = spark.read.format(fmt).option("path",
        VectorMaintenance.cstatsTable(ip)).load()
      .filter(col("j") === 0)
      .groupBy(col("cell")).agg(sum(col("n")).as("n"))
      .filter(col("n") =!= 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromAssigned = spark.read.format(fmt).option("path", s"$ip/assigned").load()
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromParts === fromAssigned)
  }

  test("incremental retrain recovers a torn mid-publish before folding (advice-r18 #1)") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      Files.createTempDirectory("graft-vecmaint-torninc").toString)
    val ip = VectorMaintenance.vecPath(base)
    val ct = VectorMaintenance.corpusTable(base)
    VectorMaintenance.ingestAppend(spark, base,
      embAll(dir).filter(col("vec_id") % 13 === 6))
    assert(VectorMaintenance.retrainIncremental(spark, base))

    // Simulate an ingestAppend that crashed MID-PUBLISH: all three
    // tables staged under one wap id, only the HEAD (corpus) published —
    // the decision was taken, so recovery must roll the survivors
    // forward. Shapes replicate ingestAppend's staging bit-for-bit.
    val wapId = "vecingest-crash-sim"
    val b2 = embAll(dir).filter(col("vec_id") % 13 === 7)
    val b2Assigned = VectorIndex.assignNew(spark, ip, b2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b2Cstats = VectorMaintenance.cellPartials(b2Assigned
      .select(col("cell"), VectorIndex.dec(col("vnenc")).as("vn")))
    def stage(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      df.write.format(fmt).option("path", path).option("wap-id", wapId)
        .mode("append").save()
    stage(b2.select(col("vec_id"),
      VectorIndex.enc(transform(col("embedding"), _.cast("double"))).as("embenc")), ct)
    stage(b2Assigned, s"$ip/assigned")
    stage(b2Cstats, VectorMaintenance.cstatsTable(ip))
    ManifestFileSink.wapPublish(ct, wapId) // …and the process dies here.
    spark.catalog.refreshByPath(ct)

    // The STANDALONE verb (no sibling entry point ran first): it must
    // roll the assigned/cstats suffix forward BEFORE folding, or the
    // marker advances past partials the fold never saw.
    assert(VectorMaintenance.retrainIncremental(spark, base),
      "published corpus drift must trigger the update")
    val cents = spark.read.format(fmt).option("path", s"$ip/cents").load()
      .select(col("cent_id"), VectorIndex.dec(col("cvenc")).as("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val want = spark.read.format(fmt).option("path", s"$ip/assigned").load()
      .select(col("cell"), posexplode(VectorIndex.dec(col("vnenc"))).as(Seq("j", "v")))
      .groupBy(col("cell"), col("j")).agg(round(avg(col("v")), 6).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
      .select(col("cell"), transform(col("jm"), x => x.getField("m")).as("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(cents === want,
      "the fold must see the rolled-forward batch's partials")
    // And the recovery published the batch's assignments (not just read
    // around them): both tables hold every batch-2 id.
    val b2Ids = b2.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    for (p <- Seq(ct, s"$ip/assigned")) {
      val have = spark.read.format(fmt).option("path", p).load()
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(b2Ids.subsetOf(have), s"$p missing rolled-forward batch rows")
    }
    assert(IndexFence.staleness(ip).contains(false),
      "recovery re-derives the fence the crash lost")
    b2Assigned.unpersist()
  }

  test("job counts at the benchmark's shape: ingest <= 8, delete <= 4, retrain <= 3") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      Files.createTempDirectory("graft-vecmaint-jobs").toString)
    VectorMaintenance.ingestAppend(spark, base, freshBatch(dir, 0), "jobs-0")
    val b1 = freshBatch(dir, 1)
    val ingest = jobsDuring(VectorMaintenance.ingestAppend(spark, base, b1, "jobs-1"))
    var gone = Seq.empty[Long]
    val delete = jobsDuring {
      gone = VectorMaintenance.deleteRanges(spark, base, Seq((1000000L, 1000008L)))
    }
    assert(gone === Seq(8L))
    VectorMaintenance.purgeDeletes(spark, base)
    var retrained = false
    val retrain = jobsDuring {
      retrained = VectorMaintenance.retrainIncremental(spark, base)
    }
    assert(retrained)
    assert(ingest <= 8, s"ingestAppend ran $ingest jobs")
    assert(delete <= 4, s"deleteRanges ran $delete jobs")
    assert(retrain <= 3, s"retrainIncremental ran $retrain jobs")
  }

  test("ingest audit: a leftover stage under the ingest's WAP id refuses and is discarded") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      Files.createTempDirectory("graft-vecmaint-leftover").toString)
    val ip = VectorMaintenance.vecPath(base)
    val ct = VectorMaintenance.corpusTable(base)
    val wapId = "vecingest-leftover"
    val pre = Seq(ct, s"$ip/assigned").map(p => p -> tableCount(p)).toMap
    // A crashed attempt's corpus rows, left staged under the same id.
    freshBatch(dir, 9).limit(2)
      .select(col("vec_id"),
        VectorIndex.enc(transform(col("embedding"), _.cast("double"))).as("embenc"))
      .write.format(fmt).option("path", ct).option("wap-id", wapId)
      .mode("append").save()
    assert(ManifestFileSink.hasStage(ct, wapId))
    val e = intercept[IllegalStateException](
      VectorMaintenance.ingestAppend(spark, base, freshBatch(dir, 1), wapId))
    assert(e.getMessage.matches(s"(?s).*ingest audit failed: .*corpus staged 10 rows, expected 8.*"),
      e.getMessage)
    assert(!ManifestFileSink.hasStage(ct, wapId), "the refusal discards the leftover stage")
    pre.foreach { case (p, n) => assert(tableCount(p) === n, s"$p must not grow") }
    assert(IndexFence.staleness(ip).contains(false))
  }

  test("delete audit: a zone map claiming a window its file does not hold refuses the delete") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      Files.createTempDirectory("graft-vecmaint-zonelie").toString)
    val ip = VectorMaintenance.vecPath(base)
    val ct = VectorMaintenance.corpusTable(base)
    VectorMaintenance.ingestAppend(spark, base, freshBatch(dir, 0), "zonelie-0")
    // Re-label the batch file that holds the batch's lowest id so its
    // vec_id zone map (column 0) claims [2000000, hi'] instead.
    val manifests = new java.io.File(ct).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("manifest-"))
    val edited = manifests.count { f =>
      val text = Files.readString(f.toPath)
      val lied = text.replaceAll("\t0=1000000,1000(\\d+),", "\t0=2000000,2000$1,")
      if (lied != text) Files.writeString(f.toPath, lied)
      lied != text
    }
    assert(edited === 1, "exactly one manifest lists the batch's lowest id")
    val pre = Seq(ct, s"$ip/assigned").map(p => p -> tableCount(p)).toMap
    val tables = Seq(ct, s"$ip/assigned", VectorMaintenance.cstatsTable(ip),
      IndexMaintenance.delsTable(base))
    val preCommits = tables.map(ManifestFileSink.publishedManifestCount)
    val window = Seq((2000000L, 2000008L))
    assert(ManifestFileSink.strictCounts(ct, window.map { case (lo, hi) =>
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("vec_id", lo),
        org.apache.spark.sql.sources.LessThan("vec_id", hi))
    }).exists(_.head > 0), "the edited zone map proves victims the file does not hold")
    val e = intercept[IllegalStateException](
      VectorMaintenance.deleteRanges(spark, base, window))
    assert(e.getMessage.contains("vector delete audit failed"), e.getMessage)
    pre.foreach { case (p, n) => assert(tableCount(p) === n, s"$p must not shrink") }
    assert(tables.map(ManifestFileSink.publishedManifestCount) === preCommits,
      "a refused delete publishes nothing, the ledger row included")
    tables.foreach(p => assert(!ManifestFileSink.hasStage(p, "vecdelete-2000000-2000008")))
  }

  test("a delete window that cuts through a corpus file counts by query, exactly") {
    val dir = freshDir()
    val base = VectorMaintenance.ensureBaseAt(spark, dir,
      Files.createTempDirectory("graft-vecmaint-straddle").toString)
    val ct = VectorMaintenance.corpusTable(base)
    VectorMaintenance.ingestAppend(spark, base, freshBatch(dir, 0), "straddle-0")
    val windows = Seq((10L, 20L), (1000000L, 1000004L))
    def window(lo: Long, hi: Long) = org.apache.spark.sql.sources.And(
      org.apache.spark.sql.sources.GreaterThanOrEqual("vec_id", lo),
      org.apache.spark.sql.sources.LessThan("vec_id", hi))
    assert(ManifestFileSink.strictCounts(ct, windows.map((window _).tupled)).isEmpty,
      "[10, 20) cuts through the base file: the zone maps cannot decide it")
    val corpus = spark.read.format(fmt).option("path", ct).load()
    val want = windows.map { case (lo, hi) =>
      corpus.filter(col("vec_id") >= lo && col("vec_id") < hi).count() }
    assert(want.forall(_ > 0))
    val preCorpus = tableCount(ct)
    assert(VectorMaintenance.deleteRanges(spark, base, windows) === want)
    assert(tableCount(ct) === preCorpus - want.sum)
    assert(VectorMaintenance.deleteRanges(spark, base, windows) === Seq(0L, 0L),
      "a replay finds only masked victims")
  }
}
