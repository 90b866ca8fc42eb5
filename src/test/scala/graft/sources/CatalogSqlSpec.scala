package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

/** The named-SQL surface over manifest tables: a DSv2 TableCatalog plus
  * SupportsDelete, so CREATE / INSERT / SELECT / DELETE flow through
  * `spark.sql` while the path API sees the SAME table (one feature set,
  * two addressings). */
class CatalogSqlSpec extends SparkTestBase {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  test("CREATE / INSERT / SELECT / DELETE round-trip through SQL") {
    root
    spark.sql("CREATE TABLE graft.db.people (id BIGINT, name STRING, score DOUBLE)")
    // Empty but real: the schema-only commit makes SELECT work immediately.
    assert(spark.sql("SELECT * FROM graft.db.people").count() === 0)
    // Catalog tables resolve inserts through TableOutputResolver: bare
    // decimal literals store-assign to the DOUBLE column, names align
    // positionally — the SQL contract, not ACCEPT_ANY_SCHEMA's.
    spark.sql("INSERT INTO graft.db.people VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")
    assert(spark.sql("SELECT count(*) FROM graft.db.people").head().getLong(0) === 3)

    // SQL DELETE runs the distributed merge-on-read match scan (3VL).
    spark.sql("DELETE FROM graft.db.people WHERE id = 2 OR name = 'c'")
    assert(spark.sql("SELECT id FROM graft.db.people ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))

    // The path API sees the same table: deletion vectors, not rewrites.
    val path = s"$root/db/people"
    assert(ManifestFileSink.Snapshot(path).dvs.nonEmpty,
      "SQL DELETE published deletion vectors on the same manifest table")
    assert(spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load().count() === 1)
  }

  test("catalog lifecycle: list, rename, drop; unsupported shapes refuse cleanly") {
    root
    spark.sql("CREATE TABLE graft.db.t1 (id BIGINT)")
    spark.sql("INSERT INTO graft.db.t1 VALUES (7)")
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).toSet.contains("t1"))

    // Rename target is CATALOG-RELATIVE (db.t2), per the v2 command.
    spark.sql("ALTER TABLE graft.db.t1 RENAME TO db.t2")
    assert(spark.sql("SELECT id FROM graft.db.t2").head().getLong(0) === 7)
    intercept[Exception](spark.sql("SELECT * FROM graft.db.t1").collect())

    // Duplicate create refuses; unsupported transforms, duplicate
    // partition columns, and non-integral/string types refuse (identity
    // and bucket transforms are the SPJ layouts,
    // StoragePartitionedJoinSpec).
    intercept[Exception](spark.sql("CREATE TABLE graft.db.t2 (id BIGINT)"))
    intercept[Exception](
      spark.sql("CREATE TABLE graft.db.tp (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))"))
    intercept[Exception](
      spark.sql("CREATE TABLE graft.db.tp (id BIGINT, j BIGINT) PARTITIONED BY (id, id)"))
    intercept[Exception](
      spark.sql("CREATE TABLE graft.db.tp (id BIGINT, d DOUBLE) PARTITIONED BY (d)"))
    intercept[Exception](
      spark.sql("CREATE TABLE graft.db.tp (id BIGINT, d DOUBLE) PARTITIONED BY (bucket(8, d))"))
    // Two-column identity partitioning is a supported layout (round 11).
    spark.sql("CREATE TABLE graft.db.tp2 (id BIGINT, j BIGINT) PARTITIONED BY (id, j)")
    assert(ManifestFileSink.partitionColumns(s"$root/db/tp2") === Seq("id", "j"))
    // bucket(n, col) round-trips through the DDL and the DESCRIBE surface
    // (round 12; the join/demux behavior is StoragePartitionedJoinSpec's).
    spark.sql("CREATE TABLE graft.db.tpb (id BIGINT, j BIGINT) PARTITIONED BY (bucket(8, id), j)")
    assert(ManifestFileSink.partitionColumns(s"$root/db/tpb") === Seq("bucket:8:id", "j"))
    val parts = spark.sql("DESCRIBE TABLE EXTENDED graft.db.tpb")
      .filter(org.apache.spark.sql.functions.col("col_name").startsWith("Part "))
      .select("data_type")
      .collect().map(_.getString(0)).toSeq
    assert(parts === Seq("bucket(8, id)", "j"), s"DESCRIBE partition surface: $parts")

    spark.sql("DROP TABLE graft.db.t2")
    intercept[Exception](spark.sql("SELECT * FROM graft.db.t2").collect())
  }

  test("column pruning reaches the manifest scan (ReadSchema shrinks)") {
    root
    spark.sql("CREATE TABLE graft.db.wide (id BIGINT, a STRING, b STRING, c DOUBLE)")
    spark.sql("INSERT INTO graft.db.wide VALUES (1, 'x', 'y', 1.0), (2, 'p', 'q', 2.0)")
    val df = spark.sql("SELECT id, c FROM graft.db.wide WHERE c > 0.5")
    val scanSchemas = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSeq
    }
    assert(scanSchemas == Seq(Seq("id", "c")),
      s"scan must read only the projected+filtered columns, got $scanSchemas")
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy(_._1) === Seq((1L, 1.0), (2L, 2.0)))

    // Pruning composes with evolution AND deletion vectors: a pruned read
    // over files written under different schemas, minus deleted rows.
    spark.sql("DELETE FROM graft.db.wide WHERE id = 1")
    assert(spark.sql("SELECT a FROM graft.db.wide").collect()
      .map(_.getString(0)).toSeq === Seq("p"))
  }

  test("VERSION AS OF pins a snapshot: repeatable, read-only, seq or name") {
    root
    spark.sql("CREATE TABLE graft.db.tt (id BIGINT)")
    spark.sql("INSERT INTO graft.db.tt VALUES (1)")
    val seqAfterFirstInsert = 2L // 1 = CREATE's schema-only commit
    spark.sql("INSERT INTO graft.db.tt VALUES (2)")
    spark.sql("DELETE FROM graft.db.tt WHERE id = 1")
    assert(spark.sql("SELECT id FROM graft.db.tt ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // The pre-delete, pre-second-insert snapshot still answers [1].
    assert(spark.sql(s"SELECT id FROM graft.db.tt VERSION AS OF $seqAfterFirstInsert")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // A pinned snapshot is a value: mutation refuses.
    val err = intercept[Exception](
      spark.sql(s"DELETE FROM graft.db.tt VERSION AS OF $seqAfterFirstInsert WHERE id = 1"))
    assert(err.getMessage.toLowerCase.contains("version as of"))
    // TIMESTAMP AS OF refuses with guidance (mtimes don't order commits).
    val ts = intercept[Exception](
      spark.sql("SELECT * FROM graft.db.tt TIMESTAMP AS OF '2026-01-01'").collect())
    assert(ts.getMessage.contains("VERSION AS OF"))
  }

  test("streaming reads work against catalog tables (readStream.table)") {
    root
    spark.sql("CREATE TABLE graft.db.s (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.s VALUES (1, 1.0), (2, 2.0)")
    val ck = Files.createTempDirectory("graft-cat-ck").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.table("graft.db.s").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen ++= b.collect().map(_.getLong(0)); ()
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.sorted.toSeq === Seq(1L, 2L),
      "the manifest micro-batch stream must serve catalog tables")
  }

  test("INSERT OVERWRITE is one atomic commit; TRUNCATE deletes all as vectors") {
    root
    spark.sql("CREATE TABLE graft.db.ow (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.ow VALUES (1, 1.0), (2, 2.0)")
    val preOverwrite = ManifestFileSink.latestManifest(s"$root/db/ow").get
    val manifestsBefore = ManifestFileSink.manifests(s"$root/db/ow").size

    spark.sql("INSERT OVERWRITE graft.db.ow VALUES (7, 7.0)")
    assert(spark.sql("SELECT id FROM graft.db.ow").collect()
      .map(_.getLong(0)).toSeq === Seq(7L))
    assert(ManifestFileSink.manifests(s"$root/db/ow").size === manifestsBefore + 1,
      "the overwrite (retraction + insert) is ONE commit")
    // History intact: the pre-overwrite snapshot still answers.
    assert(spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", s"$root/db/ow").option("asOfManifest", preOverwrite)
      .load().count() === 2)

    spark.sql("TRUNCATE TABLE graft.db.ow")
    assert(spark.sql("SELECT * FROM graft.db.ow").count() === 0)
    assert(ManifestFileSink.Snapshot(s"$root/db/ow").dvs.nonEmpty,
      "truncate is merge-on-read: vectors, not file deletion — history intact")
  }

  test("SQL UPDATE: delta rewrite lands vectors + new file in one commit") {
    root
    spark.sql("CREATE TABLE graft.db.up (id BIGINT, name STRING, score DOUBLE)")
    spark.sql("INSERT INTO graft.db.up VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    val before = ManifestFileSink.manifests(s"$root/db/up").size

    spark.sql("UPDATE graft.db.up SET score = score * 10, name = concat(name, '!') WHERE id >= 2")
    assert(spark.sql("SELECT id, name, score FROM graft.db.up ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "a", 1.0), (2L, "b!", 20.0), (3L, "c!", 30.0)))
    assert(ManifestFileSink.manifests(s"$root/db/up").size === before + 1,
      "the update (retractions + reinserts) is ONE commit")
    assert(ManifestFileSink.Snapshot(s"$root/db/up").dvs.values.map(_.length).sum === 2,
      "updated rows retract through deletion vectors, untouched rows stay in place")
    // No-match update publishes nothing.
    spark.sql("UPDATE graft.db.up SET score = 0.0 WHERE id = 999")
    assert(ManifestFileSink.manifests(s"$root/db/up").size === before + 1)
  }

  test("SQL MERGE INTO: matched update, matched delete, not-matched insert — atomic") {
    root
    spark.sql("CREATE TABLE graft.db.mt (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.mt VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("CREATE TABLE graft.db.ms (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.ms VALUES (2, 22.0), (3, -1.0), (4, 4.0)")
    val before = ManifestFileSink.manifests(s"$root/db/mt").size

    spark.sql("""MERGE INTO graft.db.mt t USING graft.db.ms s ON t.id = s.id
                |WHEN MATCHED AND s.v < 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db.mt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.0), (2L, 22.0), (4L, 4.0)))
    assert(ManifestFileSink.manifests(s"$root/db/mt").size === before + 1,
      "the whole MERGE is ONE commit")
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE: the full three-clause merge") {
    root
    spark.sql("CREATE TABLE graft.db.m3t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.m3t VALUES (1, 1.0), (2, 2.0), (3, 3.0), (9, 9.0)")
    spark.sql("CREATE TABLE graft.db.m3s (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.m3s VALUES (2, 22.0), (4, 4.0)")
    // Rows absent from the source either update (flagged) or delete —
    // the SCD-style full-sync merge shape.
    spark.sql("""MERGE INTO graft.db.m3t t USING graft.db.m3s s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
                |WHEN NOT MATCHED BY SOURCE AND t.id >= 9 THEN DELETE
                |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -t.v""".stripMargin)
    assert(spark.sql("SELECT id, v FROM graft.db.m3t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, -1.0), (2L, 22.0), (3L, -3.0), (4L, 4.0)))
  }

  test("namespaces: CREATE / SHOW / metadata / DROP through SQL") {
    root
    spark.sql("CREATE NAMESPACE graft.nsx")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nsx"))
    intercept[Exception](spark.sql("CREATE NAMESPACE graft.nsx"))
    spark.sql("CREATE TABLE graft.nsx.t (id BIGINT)")
    spark.sql("INSERT INTO graft.nsx.t VALUES (5)")
    // non-empty namespace refuses a bare drop, cascade removes all
    intercept[Exception](spark.sql("DROP NAMESPACE graft.nsx"))
    spark.sql("DROP NAMESPACE graft.nsx CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nsx"))
    intercept[Exception](spark.sql("SELECT * FROM graft.nsx.t").collect())
  }

  test("metadata columns _file/_pos are queryable (row lineage for free)") {
    root
    spark.sql("CREATE TABLE graft.db.md (id BIGINT)")
    spark.sql("INSERT INTO graft.db.md VALUES (10), (11)")
    val rows = spark.sql("SELECT id, _file, _pos FROM graft.db.md ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length === 2)
    assert(rows.forall(_._3 >= 0L), "positions are 0-based in-file")
    assert(rows.map(r => (r._2, r._3)).distinct.length === 2,
      "(_file, _pos) is a unique row id")
    assert(rows.forall(_._2.startsWith("part-")), "file names are the task files")
  }

  test("runtime filtering: a broadcast join's keys prune files through zone maps") {
    root
    spark.sql("CREATE TABLE graft.db.rf (id BIGINT, v DOUBLE)")
    // Three disjoint-range single-row files (one commit each).
    for (base <- Seq(1L, 100L, 200L))
      spark.sql(s"INSERT INTO graft.db.rf VALUES ($base, 1.0)")
    assert(new java.io.File(s"$root/db/rf/data").listFiles().length === 3)

    import spark.implicits._
    // AQE wraps stages in query-stage nodes that hide the scan from plan
    // collection; turn it off for the observability of THIS assertion
    // (the pruning itself is AQE-independent).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // The DPP planner injects a runtime filter only when the build side
      // carries a SELECTIVE predicate — and it must SURVIVE optimization,
      // so the probe is a table (a filtered local relation constant-folds
      // to nothing selective).
      spark.sql("CREATE TABLE graft.db.rfprobe (k BIGINT)")
      spark.sql("INSERT INTO graft.db.rfprobe VALUES (1), (999)")
      val probe = spark.table("graft.db.rfprobe").where($"k" < 500L)
      val joined = spark.table("graft.db.rf")
        .join(org.apache.spark.sql.functions.broadcast(probe), $"id" === $"k")
      val rows = joined.collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L))
      // The scan must carry runtime filters and, after execution, have
      // planned only the one admitted file.
      val scans = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty)
      assert(scans.exists(_.runtimeFilters.nonEmpty),
        s"expected runtime filters on the manifest scan:\n${joined.queryExecution.executedPlan}")
      assert(scans.exists(PlannedFiles.of(_) === 1),
        "runtime key IN [1] must zone-map-prune to the single admitted file")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("DELETE with a NULL-involving predicate keeps ANSI 3VL semantics") {
    root
    spark.sql("CREATE TABLE graft.db.n (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.n VALUES (1, 1.0), (2, NULL), (3, 3.0)")
    // v > 2.0 is NULL for row 2 — ANSI DELETE must keep it.
    spark.sql("DELETE FROM graft.db.n WHERE v > 2.0")
    assert(spark.sql("SELECT id FROM graft.db.n ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }
}
