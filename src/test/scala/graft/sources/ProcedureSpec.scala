package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** SQL maintenance procedures (DSv2 ProcedureCatalog): the Iceberg-style
  * `CALL catalog.system.<op>(...)` surface over the sink's maintenance
  * jobs — compact, optimize(clusterBy), vacuum, apply_deletes,
  * migrate_schema — each returning its affected-file count. */
class ProcedureSpec extends SparkTestBase {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-proc").toString
    spark.conf.set("spark.sql.catalog.gproc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gproc.root", r)
    r
  }

  test("CALL compact / optimize / vacuum: full maintenance cycle through SQL") {
    root
    spark.sql("CREATE TABLE gproc.db.ct (id BIGINT, v DOUBLE)")
    (0 until 6).foreach { b =>
      spark.sql(s"INSERT INTO gproc.db.ct VALUES ($b, $b.5), (${b + 100}, ${b + 100}.5)")
    }
    val path = s"$root/db/ct"
    val manifestsBefore = ManifestFileSink.manifests(path).size
    assert(manifestsBefore >= 7) // commit 0 + 6 inserts
    val expect = spark.table("gproc.db.ct").orderBy("id").collect().toSeq

    // compact = MANIFEST folding (metadata compaction / expire-snapshots)
    val compacted = spark.sql("CALL gproc.system.compact(table => 'db.ct')")
      .head().getInt(0)
    assert(compacted > 0)
    assert(ManifestFileSink.manifests(path).size < manifestsBefore)
    assert(spark.table("gproc.db.ct").orderBy("id").collect().toSeq === expect)

    val optimized = spark.sql(
      "CALL gproc.system.optimize(table => 'db.ct', cluster_by => 'id', num_files => 2)")
      .head().getInt(0)
    assert(optimized > 0)
    assert(spark.table("gproc.db.ct").orderBy("id").collect().toSeq === expect)

    // Deferred physical deletion: superseded files wait for vacuum.
    val vacuumed = spark.sql(
      "CALL gproc.system.vacuum(table => 'db.ct', older_than_hours => 0)")
      .head().getInt(0)
    assert(vacuumed > 0, "optimize's superseded originals are vacuum's to reclaim")
    assert(spark.table("gproc.db.ct").orderBy("id").collect().toSeq === expect)
  }

  test("catalog functions: graft.system.dot / cosine from SQL, float arrays cast in") {
    root
    val r = spark.sql(
      """SELECT gproc.system.dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |       gproc.system.cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c0,
        |       gproc.system.cosine(array(2.0D, 0.0D), array(5.0D, 0.0D)) AS c1,
        |       gproc.system.cosine(array(1.0D, 0.0D), CAST(NULL AS ARRAY<DOUBLE>)) AS cn
        |""".stripMargin).head()
    assert(r.getDouble(0) === 32.0)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 1.0)
    assert(r.isNullAt(3))
    // float embeddings cast in at analysis: cosine of a vector with itself = 1
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_fn")
    val selfCos = spark.sql(
      "SELECT gproc.system.cosine(embedding, embedding) AS c FROM emb_fn LIMIT 5")
      .collect().map(_.getDouble(0))
    assert(selfCos.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("CALL apply_deletes purges deletion vectors; bad calls fail loudly") {
    root
    spark.sql("CREATE TABLE gproc.db.pt (id BIGINT)")
    spark.sql("INSERT INTO gproc.db.pt VALUES (1), (2), (3), (4)")
    spark.sql("DELETE FROM gproc.db.pt WHERE id >= 3")
    val purged = spark.sql("CALL gproc.system.apply_deletes(table => 'db.pt')")
      .head().getInt(0)
    assert(purged > 0)
    assert(ManifestFileSink.Snapshot(s"$root/db/pt").dvs.isEmpty,
      "copy-on-write purge folds the vectors away")
    assert(spark.table("gproc.db.pt").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L))

    intercept[Exception](spark.sql("CALL gproc.system.nope(table => 'db.pt')"))
    intercept[Exception](
      spark.sql("CALL gproc.system.compact(table => 'db.missing')").collect())
  }

  test("CALL snapshots lists the commit history, oldest first") {
    root
    spark.sql("CREATE TABLE gproc.db.ht (id BIGINT)")
    spark.sql("INSERT INTO gproc.db.ht VALUES (1)")
    spark.sql("INSERT INTO gproc.db.ht VALUES (2), (3)")
    spark.sql("DELETE FROM gproc.db.ht WHERE id = 1")
    val h = spark.sql("CALL gproc.system.snapshots(table => 'db.ht')").collect()
    assert(h.length === 4) // schema-only create + 2 inserts + delete
    assert(h.map(_.getLong(0)).toSeq === h.map(_.getLong(0)).sorted.toSeq)
    assert(h.last.getBoolean(4), "the DELETE commit carries deletion vectors")
    assert(h.map(r => r.getLong(3)).max === 2, "per-commit row counts are as written")
    // the reported seq round-trips through VERSION AS OF
    val seq2 = h(2).getLong(0) // after both inserts, before the delete
    assert(spark.sql(s"SELECT count(*) FROM gproc.db.ht VERSION AS OF $seq2")
      .head().getLong(0) === 3)
  }

  test("expire_snapshots keeps the newest N travelable; expired travel fails explicitly") {
    root
    spark.sql("CREATE TABLE gproc.db.ex (id BIGINT)")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO gproc.db.ex VALUES ($i)"))
    val before = spark.table("gproc.db.ex").orderBy("id").collect().toSeq
    val h = spark.sql("CALL gproc.system.snapshots(table => 'db.ex')").collect()
    assert(h.length === 6) // create + 5 inserts
    val oldSeq = h(1).getLong(0)  // after the first insert — will expire
    val keptSeq = h(4).getLong(0) // after the 4th insert — inside keep_last=2

    val folded = spark.sql(
      "CALL gproc.system.expire_snapshots(table => 'db.ex', keep_last => 2)")
      .head().getInt(0)
    assert(folded === 4, "create + first 3 inserts fold; the newest 2 are kept")

    // Current state byte-identical; kept snapshot still resolves to the
    // exact file set it sealed; a seq strictly inside the expired range
    // fails loudly; the FOLD-BOUNDARY seq keeps answering with the
    // correct historical content (the combined manifest IS that
    // snapshot's state — review-r14 pinned this boundary explicitly).
    assert(spark.table("gproc.db.ex").orderBy("id").collect().toSeq === before)
    assert(spark.sql(s"SELECT count(*) FROM gproc.db.ex VERSION AS OF $keptSeq")
      .head().getLong(0) === 4)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM gproc.db.ex VERSION AS OF $oldSeq").collect())
    assert(e.getMessage.contains("retired") || e.getMessage.contains("no commit"))
    val boundarySeq = h(3).getLong(0) // newest EXPIRED seq = the fold position
    assert(spark.sql(s"SELECT count(*) FROM gproc.db.ex VERSION AS OF $boundarySeq")
      .head().getLong(0) === 3,
      "the fold-boundary snapshot must stay travelable with its exact state")
    // Idempotent: nothing left to expire at the same retention.
    assert(spark.sql(
      "CALL gproc.system.expire_snapshots(table => 'db.ex', keep_last => 2)")
      .head().getInt(0) === 0)
  }

  test("snapshot_diff: metadata changelog between two refs, no data files opened") {
    root
    spark.sql("CREATE TABLE gproc.db.sd (id BIGINT)")
    spark.sql("INSERT INTO gproc.db.sd VALUES (1), (2)")
    spark.sql("CALL gproc.system.tag(table => 'db.sd', name => 'base')")
    spark.sql("INSERT INTO gproc.db.sd VALUES (3), (4), (5)")
    spark.sql("DELETE FROM gproc.db.sd WHERE id = 1")

    // base → current: 3 rows across added task files, one DV grew by 1.
    val d = spark.sql(
      "CALL gproc.system.snapshot_diff(table => 'db.sd', from_ref => 'base')")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(d.count(_._1 == "added") >= 1, s"expected added files in $d")
    assert(d.filter(_._1 == "added").map(_._2).sum === 3)
    assert(d.filter(_._1 == "dv_grew") === Seq(("dv_grew", 1L)), s"got $d")
    assert(!d.exists(_._1 == "removed"))

    // Reverse direction: the added file reads as removed.
    val h = spark.sql("CALL gproc.system.snapshots(table => 'db.sd')").collect()
    val cur = h.last.getLong(0)
    val r = spark.sql(
      s"CALL gproc.system.snapshot_diff(table => 'db.sd', from_ref => '$cur', " +
        "to_ref => 'base')")
      .collect().map(_.getString(0)).toSeq
    assert(r.contains("removed") && !r.contains("added"))

    // Identical refs diff to nothing.
    assert(spark.sql(
      "CALL gproc.system.snapshot_diff(table => 'db.sd', from_ref => 'base', " +
        "to_ref => 'base')").collect().isEmpty)
  }

  test("tags: named snapshots survive later writes; untag removes; typos fail loudly") {
    root
    spark.sql("CREATE TABLE gproc.db.tt (id BIGINT)")
    spark.sql("INSERT INTO gproc.db.tt VALUES (1), (2)")
    // Tag the current snapshot under a release name.
    val tagged = spark.sql(
      "CALL gproc.system.tag(table => 'db.tt', name => 'v1')").head()
    assert(tagged.getString(0) === "v1" && tagged.getString(1).startsWith("manifest-"))
    // The table moves on; the tag does not.
    spark.sql("INSERT INTO gproc.db.tt VALUES (3)")
    spark.sql("DELETE FROM gproc.db.tt WHERE id = 1")
    assert(spark.sql("SELECT count(*) FROM gproc.db.tt").head().getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM gproc.db.tt VERSION AS OF 'v1'")
      .head().getLong(0) === 2)
    assert(spark.sql("SELECT id FROM gproc.db.tt VERSION AS OF 'v1' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // Tagging a specific historical seq works too.
    val h = spark.sql("CALL gproc.system.snapshots(table => 'db.tt')").collect()
    val firstInsertSeq = h(1).getLong(0)
    spark.sql(s"CALL gproc.system.tag(table => 'db.tt', name => 'audit', " +
      s"version => '$firstInsertSeq')")
    assert(spark.sql("SELECT count(*) FROM gproc.db.tt VERSION AS OF 'audit'")
      .head().getLong(0) === 2)
    // A typo'd version is an explicit error, never an empty table.
    val e = intercept[Exception](
      spark.sql("SELECT * FROM gproc.db.tt VERSION AS OF 'v2'").collect())
    assert(e.getMessage.contains("neither a tag nor a manifest"))
    // untag removes the name; the data is untouched.
    assert(spark.sql("CALL gproc.system.untag(table => 'db.tt', name => 'v1')")
      .head().getBoolean(0))
    intercept[Exception](
      spark.sql("SELECT * FROM gproc.db.tt VERSION AS OF 'v1'").collect())
    assert(spark.sql("SELECT count(*) FROM gproc.db.tt").head().getLong(0) === 2)
  }

  test("partition-spec evolution: declaration changes, data does not, results never do") {
    root
    import spark.implicits._
    spark.sql("CREATE TABLE gproc.db.pe (id BIGINT, grp BIGINT, v DOUBLE)")
    // ONE file holding both groups — the genuinely pre-evolution layout
    // (a multi-row VALUES insert would demux one file per task and every
    // file would prove its value even before the spec exists).
    Seq((1L, 0L, 0.5), (2L, 1L, 1.5), (3L, 0L, 2.5)).toDF("id", "grp", "v")
      .coalesce(1).write.format(classOf[ManifestFileSink].getName)
      .option("path", s"$root/db/pe").mode("append").save()
    val expectPre = spark.table("gproc.db.pe").orderBy("id").collect().toSeq

    // Evolve the spec — metadata-only, the old multi-group file stays.
    assert(spark.sql(
      "CALL gproc.system.set_partition_spec(table => 'db.pe', spec => 'grp')")
      .head().getString(0) === "grp")
    // Mixed state: results identical, and the metadata GROUP BY refuses
    // (the old file proves no single grp value) — answered by a real scan.
    assert(spark.table("gproc.db.pe").orderBy("id").collect().toSeq === expectPre)
    val g = spark.sql("SELECT grp, count(*) AS n FROM gproc.db.pe GROUP BY grp")
    assert(!g.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "one unprovable (pre-evolution) file must refuse the metadata GROUP BY")
    assert(g.orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((0L, 2L), (1L, 1L)))

    // New writes demux under the new spec immediately.
    spark.sql("INSERT INTO gproc.db.pe VALUES (4, 1, 3.5)")
    assert(spark.sql("SELECT count(*) FROM gproc.db.pe").head().getLong(0) === 4)

    // The paid rewrite restores the exchange-free properties: after
    // repartition_table, every live file proves one grp value and the
    // metadata GROUP BY derivation turns back on.
    spark.sql(
      "CALL gproc.system.repartition_table(table => 'db.pe', spec => 'grp', num_files => 2)")
    val g2 = spark.sql("SELECT grp, count(*) AS n FROM gproc.db.pe GROUP BY grp")
    assert(g2.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "post-rewrite, the metadata GROUP BY must answer with zero data IO:\n" +
        g2.queryExecution.executedPlan.toString)
    assert(g2.orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((0L, 2L), (1L, 2L)))
    // Typo'd spec column refuses.
    intercept[Exception](spark.sql(
      "CALL gproc.system.set_partition_spec(table => 'db.pe', spec => 'nope')"))
  }

  test("files + constraints procedures report live per-file and table metadata") {
    root
    spark.sql("""CREATE TABLE gproc.db.ft (id BIGINT, v DOUBLE)
      TBLPROPERTIES('check.nonneg' = 'v >= 0')""")
    spark.sql("INSERT INTO gproc.db.ft VALUES (1, 0.5), (2, 1.5), (3, 2.5)")
    spark.sql("DELETE FROM gproc.db.ft WHERE id = 2")
    val fs = spark.sql("CALL gproc.system.files(table => 'db.ft')").collect()
    assert(fs.nonEmpty)
    assert(fs.map(_.getLong(1)).sum === 3, "total written rows")
    assert(fs.map(_.getLong(2)).sum === 1, "one retracted position")
    assert(fs.forall(_.getBoolean(3)), "zone-map stats present on data files")
    val cs = spark.sql("CALL gproc.system.constraints(table => 'db.ft')").collect()
    assert(cs.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("nonneg", "v >= 0")))
  }

  test("rollback: state returns to the target; later history retires; writes continue") {
    root
    spark.sql("CREATE TABLE gproc.db.rb (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gproc.db.rb VALUES (1, 1.5)")
    spark.sql("INSERT INTO gproc.db.rb VALUES (2, 2.5)")
    spark.sql("CALL gproc.system.tag(table => 'db.rb', name => 'good')")
    val goodState = spark.table("gproc.db.rb").orderBy("id").collect().toSeq
    // Later history to retract: an append, a row-level delete.
    spark.sql("INSERT INTO gproc.db.rb VALUES (3, 3.5)")
    spark.sql("DELETE FROM gproc.db.rb WHERE id = 1")
    val retiredSeq = spark.sql("CALL gproc.system.snapshots(table => 'db.rb')")
      .agg(max(col("seq"))).head().getLong(0)
    assert(spark.table("gproc.db.rb").orderBy("id").collect().toSeq !== goodState)

    val n = spark.sql("CALL gproc.system.rollback(table => 'db.rb', ref => 'good')")
      .head().getInt(0)
    assert(n === 2, "an append and a delete were rolled back")
    assert(spark.table("gproc.db.rb").orderBy("id").collect().toSeq === goodState,
      "current state must equal the tagged snapshot exactly")

    // The rolled-back snapshots are retired: explicit error, never empty.
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM gproc.db.rb VERSION AS OF $retiredSeq").collect())
    assert(e.getMessage.contains("retired") || e.getMessage.contains("never published"),
      s"unexpected: ${e.getMessage}")
    // The target itself stays travelable through its tag.
    assert(spark.sql("SELECT * FROM gproc.db.rb VERSION AS OF 'good'")
      .orderBy("id").collect().toSeq === goodState)

    // The table keeps working: fresh commits land on the rolled-back state.
    spark.sql("INSERT INTO gproc.db.rb VALUES (4, 4.5)")
    assert(spark.table("gproc.db.rb").orderBy("id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    // Rolling back to the current state is a no-op …
    spark.sql("CALL gproc.system.tag(table => 'db.rb', name => 'now')")
    assert(spark.sql("CALL gproc.system.rollback(table => 'db.rb', ref => 'now')")
      .head().getInt(0) === 0)
    // … and a bogus ref fails loudly.
    val bad = intercept[Exception](
      spark.sql("CALL gproc.system.rollback(table => 'db.rb', ref => 'nope')")
        .collect())
    assert(bad.getMessage.contains("neither a seq, a tag, nor a manifest"))
  }

  test("stable_manifest: the finality handles as one ops row") {
    root
    spark.sql("CREATE TABLE gproc.db.sm (id BIGINT)")
    spark.sql("INSERT INTO gproc.db.sm VALUES (1)")
    spark.sql("INSERT INTO gproc.db.sm VALUES (2)")
    val path = s"$root/db/sm"
    // Quiet table: stable == latest, nothing pending.
    val quiet = spark.sql("CALL gproc.system.stable_manifest(table => 'db.sm')").head()
    assert(quiet.getString(0) === quiet.getString(1),
      "no in-flight claims: the stable handle IS the latest")
    assert(quiet.getInt(2) === 0)
    // A writer stalls in its claim->rename window; a faster one publishes.
    val next = ManifestFileSink.manifests(path)
      .map(ManifestFileSink.readManifest(_).meta.seq).max + 1
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "_commits"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, "_commits", f"$next%020d"))
    spark.sql("INSERT INTO gproc.db.sm VALUES (3)")
    val held = spark.sql("CALL gproc.system.stable_manifest(table => 'db.sm')").head()
    assert(held.getString(0) !== held.getString(1),
      "a live claim must hold the stable handle under the latest")
    assert(held.getString(1) === quiet.getString(0),
      "the stable handle stays at the last pre-claim manifest")
    assert(held.getInt(2) === 1)
  }
}
