package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The custom DSv2 write path and its manifest commit protocol: atomic
  * job-level visibility, orphaned-attempt invisibility, task/job abort
  * cleanup, and append accumulation. */
class ManifestSinkSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-manifest").toString

  test("write-read roundtrip; appends accumulate one manifest per job") {
    import spark.implicits._
    val dir = freshDir()
    val df1 = Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "\\N", -1.0))
      .toDF("id", "name", "score")
    df1.repartition(3).write.format(fmt).option("path", dir).mode("append").save()
    val back1 = spark.read.format(fmt).option("path", dir).load()
    assert(back1.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted
      === Array((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, null, -1.0)).sorted)

    Seq((4L, "gamma", 4.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(spark.read.format(fmt).option("path", dir).load().count() === 4)
    assert(ManifestFileSink.manifests(dir).size === 2, "one manifest per job")
  }

  test("orphaned attempt files are invisible: readers resolve via manifests only") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 1.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    // A speculative/failed attempt that wrote bytes but never reached a
    // commit message: physically present, logically absent.
    Files.writeString(Paths.get(dir, "data", "part-99999-424242"), "666\tghost\t6.66\n")
    val back = spark.read.format(fmt).option("path", dir).load().collect()
    assert(back.length === 1 && back.head.getString(1) === "a",
      s"orphaned attempt leaked into the read: ${back.mkString(",")}")
  }

  test("task abort deletes the attempt's file; job abort deletes committed files") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir, "data"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING")
    val factory = new ManifestWriterFactory(dir, schema)
    // Task-level abort.
    val w = factory.createWriter(0, 7L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      1L, org.apache.spark.unsafe.types.UTF8String.fromString("x")))
    w.abort()
    assert(new java.io.File(s"$dir/data").listFiles().isEmpty,
      "task abort left its attempt file behind")
    // Job-level abort: two committed tasks, then the driver aborts.
    val m1 = { val a = factory.createWriter(1, 11L); a.write(
      org.apache.spark.sql.catalyst.InternalRow(2L,
        org.apache.spark.unsafe.types.UTF8String.fromString("y"))); a.commit() }
    val m2 = { val b = factory.createWriter(2, 12L); b.write(
      org.apache.spark.sql.catalyst.InternalRow(3L,
        org.apache.spark.unsafe.types.UTF8String.fromString("z"))); b.commit() }
    assert(new java.io.File(s"$dir/data").listFiles().length === 2)
    new ManifestBatchWrite(dir, schema).abort(Array(m1, m2))
    assert(new java.io.File(s"$dir/data").listFiles().isEmpty,
      "job abort left committed-but-unpublished files behind")
    assert(ManifestFileSink.manifests(dir).isEmpty, "abort must not publish a manifest")
  }

  test("time travel: asOfManifest pins the snapshot sealed by that commit") {
    import spark.implicits._
    val dir = freshDir()
    def append(id: Long): Unit = {
      Seq((id, s"row$id", id.toDouble)).toDF("id", "name", "score")
        .write.format(fmt).option("path", dir).mode("append").save()
      Thread.sleep(5) // keep publication mtimes distinct on coarse filesystems
    }
    append(1L)
    append(2L)
    val secondSnapshot = ManifestFileSink.latestManifest(dir).get
    append(3L)

    val asOf = spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", secondSnapshot).load()
    assert(asOf.collect().map(_.getLong(0)).sorted === Array(1L, 2L),
      "snapshot read must exclude appends after the pinned manifest")
    assert(spark.read.format(fmt).option("path", dir).load().count() === 3,
      "default read sees the full table")
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", "manifest-never-published").load().count() === 0,
      "an unknown manifest resolves to the empty snapshot")
  }

  test("compaction folds all manifests into one; interrupted compaction never double-reads") {
    import spark.implicits._
    val dir = freshDir()
    (1L to 3L).foreach { i =>
      Seq((i, s"r$i", i.toDouble)).toDF("id", "name", "score")
        .write.format(fmt).option("path", dir).mode("append").save()
      Thread.sleep(5)
    }
    assert(ManifestFileSink.manifests(dir).size === 3)
    // Interrupted compaction: the combined manifest published but the
    // inputs were not yet deleted — every file is listed twice.
    val combined = ManifestFileSink.Snapshot.headers(dir).published.map(_.file)
    val schemaLine = Files.readAllLines(combined.last.toPath).get(1)
    val allEntries = combined.flatMap(m =>
      scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(m.toPath)).asScala.drop(2))
    Files.write(Paths.get(dir, "manifest-zz-interrupted"),
      scala.jdk.CollectionConverters.SeqHasAsJava(
        s"#graft\tseq=99\tfolded=${combined.map(_.getName).mkString(",")}" +:
          schemaLine +: allEntries).asJava)
    assert(spark.read.format(fmt).option("path", dir).load().count() === 3,
      "duplicate manifest listings must not double-read immutable files")
    // The interrupted inputs are structurally superseded (their names are
    // in the combined manifest's folded header) — the next compact
    // garbage-collects them rather than re-folding.
    assert(ManifestFileSink.compact(dir) === 3)
    assert(ManifestFileSink.manifests(dir).size === 1)
    assert(spark.read.format(fmt).option("path", dir).load()
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    // The table keeps working: append after compaction.
    Seq((4L, "r4", 4.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(spark.read.format(fmt).option("path", dir).load().count() === 4)
  }

  test("streaming write: one epoch manifest per micro-batch, all rows visible") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val cp = freshDir()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val q = in.toDF().toDF("id", "name", "score")
      .writeStream.format(fmt).option("path", dir)
      .option("checkpointLocation", cp).outputMode("append").start()
    try {
      in.addData((1L, "a", 1.0), (2L, "b", 2.0)); q.processAllAvailable()
      in.addData((3L, "c", 3.0)); q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.count() === 3)
    val names = ManifestFileSink.manifests(dir).map(_.getName)
    assert(names.size === 2 && names.forall(_.startsWith("manifest-e")),
      s"expected one epoch manifest per micro-batch, got $names")
  }

  test("replayed epoch is idempotent: first commit wins, duplicates are discarded") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir, "data"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING")
    val sw = new ManifestStreamingWrite(dir, schema)
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    def runAttempt(taskId: Long, v: String) = {
      val w = sw.createStreamingWriterFactory(info).createWriter(0, taskId, 7L)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        1L, org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      w.commit()
    }
    sw.commit(7L, Array(runAttempt(500L, "first")))
    // Driver failover: epoch 7 replays with fresh task attempts.
    sw.commit(7L, Array(runAttempt(501L, "replay")))
    assert(ManifestFileSink.manifests(dir).size === 1,
      "replayed epoch must not publish a second manifest")
    val back = spark.read.format(fmt).option("path", dir).load().collect()
    assert(back.length === 1 && back.head.getString(1) === "first",
      s"replay leaked or clobbered: ${back.mkString(",")}")
    assert(new java.io.File(s"$dir/data").listFiles().length === 1,
      "the replay's duplicate task file must be deleted on the skipped commit")
  }

  test("a commit that crashed between tmp-write and rename does not wedge the replay") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir, "data"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING")
    // The crashed attempt's orphan: tmp written, rename never happened.
    Files.writeString(Paths.get(dir, ".manifest-e000000000003.tmp"), "garbage\n")
    val sw = new ManifestStreamingWrite(dir, schema)
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    val w = sw.createStreamingWriterFactory(info).createWriter(0, 900L, 3L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      5L, org.apache.spark.unsafe.types.UTF8String.fromString("ok")))
    sw.commit(3L, Array(w.commit())) // must not throw on the stale tmp
    val back = spark.read.format(fmt).option("path", dir).load().collect()
    assert(back.length === 1 && back.head.getString(1) === "ok")
    assert(!Files.exists(Paths.get(dir, ".manifest-e000000000003.tmp")),
      "stale tmp must be consumed by the successful replay")
  }

  test("duplicate attempts cannot clobber: only the committed attempt is visible") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir, "data"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING")
    val factory = new ManifestWriterFactory(dir, schema)
    // Same partition, two attempts (distinct taskIds — Spark guarantees
    // attempt-unique ids): both write, only attempt A reaches the driver.
    val a = factory.createWriter(0, 100L)
    a.write(org.apache.spark.sql.catalyst.InternalRow(1L,
      org.apache.spark.unsafe.types.UTF8String.fromString("winner")))
    val committed = a.commit()
    val b = factory.createWriter(0, 101L)
    b.write(org.apache.spark.sql.catalyst.InternalRow(1L,
      org.apache.spark.unsafe.types.UTF8String.fromString("loser")))
    b.commit() // commits at the task level, but its message is never delivered
    new ManifestBatchWrite(dir, schema).commit(Array(committed))
    val back = spark.read.format(fmt).option("path", dir).load().collect()
    assert(back.length === 1 && back.head.getString(1) === "winner",
      s"duplicate attempt leaked: ${back.mkString(",")}")
    assert(new java.io.File(s"$dir/data").listFiles().length === 2,
      "attempt files must not clobber each other")
  }

  test("publication order is the commit sequence, not mtime: same-tick commits stay ordered") {
    import spark.implicits._
    val dir = freshDir()
    (1L to 4L).foreach { i =>
      Seq((i, s"r$i", i.toDouble)).toDF("id", "name", "score")
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    // Coarse-mtime filesystem: every manifest lands in the same tick.
    val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    ManifestFileSink.manifests(dir).foreach(m => Files.setLastModifiedTime(m.toPath, t))
    val ordered = ManifestFileSink.Snapshot.headers(dir).published
    assert(ordered.map(_.meta.seq) === Seq(1L, 2L, 3L, 4L),
      "publication order must come from the embedded sequence")
    // Time travel at the 2nd commit is exact despite identical mtimes.
    val second = ordered(1).name
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", second).load().collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
  }

  test("epoch replay AFTER compaction is still idempotent (folded names fence it)") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir, "data"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, name STRING")
    val sw = new ManifestStreamingWrite(dir, schema)
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    def runAttempt(taskId: Long, epoch: Long, v: String) = {
      val w = sw.createStreamingWriterFactory(info).createWriter(0, taskId, epoch)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        epoch, org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      w.commit()
    }
    sw.commit(7L, Array(runAttempt(600L, 7L, "e7")))
    sw.commit(8L, Array(runAttempt(601L, 8L, "e8")))
    assert(ManifestFileSink.compact(dir) === 2)
    // Recovery from an old checkpoint replays epoch 7 — its manifest is
    // gone (folded), and republishing would double-read under new names.
    sw.commit(7L, Array(runAttempt(602L, 7L, "e7-replay")))
    val back = spark.read.format(fmt).option("path", dir).load().collect()
    assert(back.length === 2 &&
      back.map(_.getString(1)).sorted === Array("e7", "e8"),
      s"replayed epoch republished after compaction: ${back.mkString(",")}")
    assert(new java.io.File(s"$dir/data").listFiles().length === 2,
      "the replay's duplicate task files must be deleted, not retained")
  }

  test("compaction refuses mixed schemas instead of reparsing old files under new DDL") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 1.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    Seq((2L, "b")).toDF("id", "name") // ACCEPT_ANY_SCHEMA lets this land
      .write.format(fmt).option("path", dir).mode("append").save()
    val e = intercept[IllegalStateException](ManifestFileSink.compact(dir))
    assert(e.getMessage.contains("distinct schemas"))
    assert(ManifestFileSink.manifests(dir).size === 2, "refusal must not delete inputs")
  }

  test("time travel to a compaction-retired snapshot errors explicitly") {
    import spark.implicits._
    val dir = freshDir()
    (1L to 2L).foreach { i =>
      Seq((i, s"r$i", i.toDouble)).toDF("id", "name", "score")
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    val retired = ManifestFileSink.Snapshot.headers(dir).published.head.name
    ManifestFileSink.compact(dir)
    val e = intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfManifest", retired).load().collect()
    }
    assert(e.getMessage.contains("retired by compaction"))
    // Unknown names still answer empty — only RETIRED ones error.
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", "manifest-never-published").load().count() === 0)
  }

  test("large data file streams through the scan (no whole-file buffering)") {
    import spark.implicits._
    val dir = freshDir()
    val n = 50000L
    spark.range(n).select(col("id"), concat(lit("payload-"), col("id")).as("name"),
      (col("id") * 1.5).as("score"))
      .coalesce(1).write.format(fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(fmt).option("path", dir).load()
    val r = back.agg(count(lit(1)), sum("id"), max("score")).head()
    assert(r.getLong(0) === n)
    assert(r.getLong(1) === n * (n - 1) / 2)
    assert(r.getDouble(2) === (n - 1) * 1.5)
  }

  test("change feed: sinceManifest reads exactly the commits after the resume point") {
    import spark.implicits._
    val dir = freshDir()
    (1L to 4L).foreach { i =>
      Seq((i, s"r$i", i.toDouble)).toDF("id", "name", "score")
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    val ordered = ManifestFileSink.Snapshot.headers(dir).published.map(_.file)
    // Changes after commit 2 = commits 3 and 4.
    assert(spark.read.format(fmt).option("path", dir)
      .option("sinceManifest", ordered(1).getName).load()
      .collect().map(_.getLong(0)).sorted === Array(3L, 4L))
    // Bounded window: since commit 1, as of commit 3 = commits 2..3.
    assert(spark.read.format(fmt).option("path", dir)
      .option("sinceManifest", ordered(0).getName)
      .option("asOfManifest", ordered(2).getName).load()
      .collect().map(_.getLong(0)).sorted === Array(2L, 3L))
    // Since the newest commit = empty (caught up).
    assert(spark.read.format(fmt).option("path", dir)
      .option("sinceManifest", ordered(3).getName).load().count() === 0)
    // An unknown resume point fails loudly — "empty baseline" would
    // replay the whole table into the consumer.
    val e = intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", dir)
        .option("sinceManifest", "manifest-never-published").load().collect()
    }
    assert(e.getMessage.contains("not a published manifest"))
    // A resume point retired by compaction fails with the retirement error.
    val retired = ordered.head.getName
    ManifestFileSink.compact(dir)
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", dir)
        .option("sinceManifest", retired).load().collect()
    }
    assert(e2.getMessage.contains("retired by compaction"))
  }

  test("e2e: streaming epochs + compact mid-stream + time travel across the boundary") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val cp = freshDir()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val q = in.toDF().toDF("id", "name", "score")
      .writeStream.format(fmt).option("path", dir)
      .option("checkpointLocation", cp).outputMode("append").start()
    try {
      in.addData((1L, "a", 1.0)); q.processAllAvailable()
      in.addData((2L, "b", 2.0)); q.processAllAvailable()
      // Maintenance runs while the stream is live.
      assert(ManifestFileSink.compact(dir) === 2)
      in.addData((3L, "c", 3.0)); q.processAllAvailable()
      in.addData((4L, "d", 4.0)); q.processAllAvailable()
    } finally q.stop()
    // All epochs visible; post-compaction epochs appended cleanly.
    assert(spark.read.format(fmt).option("path", dir).load()
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L))
    // The combined manifest is itself a valid time-travel anchor: it seals
    // epochs 0-1; the post-compaction snapshot timeline works across the
    // boundary (pre-compaction epoch manifests are retired by contract).
    val ordered = ManifestFileSink.Snapshot.headers(dir).published.map(_.file)
    assert(ordered.size === 3, s"combined + 2 fresh epochs, got ${ordered.map(_.getName)}")
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", ordered.head.getName).load()
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L),
      "the combined manifest must seal exactly the pre-compaction table")
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", ordered(1).getName).load()
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }

  test("a manifest without a #graft header fails, naming the file") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 1.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    // Strip the header line: the schema DDL is then line 0.
    val m = ManifestFileSink.manifests(dir).head
    val lines = Files.readAllLines(m.toPath)
    assert(lines.get(0).startsWith("#graft"))
    Files.write(m.toPath, lines.subList(1, lines.size()))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val readErr = intercept[Exception](
      spark.read.format(fmt).option("path", dir).load().collect())
    assert(messages(readErr).contains(s"no #graft header): $m"), messages(readErr))
    val writeErr = intercept[Exception](Seq((2L, "b", 2.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("append").save())
    assert(messages(writeErr).contains(m.getName), messages(writeErr))
    assert(ManifestFileSink.manifests(dir) === Seq(m), "the refused append published nothing")
  }

  test("concurrent publishes mint distinct, dense seq values (commit lock)") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir, "data"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = ManifestFileSink.publish(
            dir, f"manifest-race-$i%05d", schema,
            Array.empty[org.apache.spark.sql.connector.write.WriterCommitMessage])
        })
      }
      assert(futures.forall(_.get()), "every distinct-name publish must land")
    } finally pool.shutdown()
    val seqs = ManifestFileSink.manifests(dir).map(ManifestFileSink.readManifest(_).meta.seq)
    assert(seqs.sorted === (1L to n.toLong),
      s"concurrent publishes must serialize to dense unique seqs, got $seqs")
  }

  test("streaming source: whole-commit admission; folds skip behind, read ahead, fail straddling") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = freshDir()
    def append(rows: (Long, String, Double)*): Unit =
      rows.toDF("id", "name", "score").coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
    append((1L, "a", 1.0), (2L, "b", 2.0)) // seq 1: one file, 2 rows
    append((3L, "c", 3.0))                 // seq 2: one file, 1 row
    append((4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0)) // seq 3: 3 rows

    val stream = new ManifestMicroBatchStream(
      dir, ManifestFileSink.storedSchema(dir).get)
    val s0 = stream.initialOffset()
    // maxRows(2): the first commit alone reaches the budget — admission
    // lands exactly on its seq, never mid-commit.
    val o1 = stream.latestOffset(s0, ReadLimit.maxRows(2))
    assert(o1.json() === "1", s"expected commit edge 1, got ${o1.json()}")
    assert(stream.planInputPartitions(s0, o1).length === 1)
    // maxRows(3): commit 2 (1 row) leaves budget → commit 3 joins the
    // batch (overshoot to the commit edge, whole commits only).
    val o2 = stream.latestOffset(o1, ReadLimit.maxRows(3))
    assert(o2.json() === "3", s"expected commit edge 3, got ${o2.json()}")
    assert(stream.planInputPartitions(o1, o2).length === 2)

    // Fold wholly BEHIND the consumer (everything consumed): the combined
    // manifest advances the offset but plans zero partitions — compaction
    // behind a caught-up consumer is invisible.
    assert(ManifestFileSink.compact(dir) === 3)
    val o3 = stream.latestOffset(o2, ReadLimit.allAvailable())
    assert(o3.json() === "4")
    assert(stream.planInputPartitions(o2, o3).isEmpty,
      "a fully-consumed fold must be skipped, not re-read")

    append((7L, "g", 7.0)) // seq 5
    val o4 = stream.latestOffset(o3, ReadLimit.allAvailable())
    assert(o4.json() === "5")
    assert(stream.planInputPartitions(o3, o4).length === 1)

    // Fold wholly AHEAD of the consumer: bounded compact folds only the
    // unconsumed commits; the stream reads their files from the combined
    // manifest exactly once.
    append((8L, "h", 8.0)) // seq 6
    append((9L, "i", 9.0)) // seq 7
    assert(ManifestFileSink.compact(dir, aboveSeq = 5L) === 2)
    val o5 = stream.latestOffset(o4, ReadLimit.allAvailable())
    assert(o5.json() === "8")
    assert(stream.planInputPartitions(o4, o5).length === 2,
      "an all-ahead fold re-lists exactly the pending files")

    // Fold STRADDLING the consumer's offset (absorbs consumed commit ≤5
    // and unconsumed 6–7): reading double-consumes, skipping drops — the
    // stream must fail loudly.
    assert(ManifestFileSink.compact(dir) === 3)
    val o6 = stream.latestOffset(o4, ReadLimit.allAvailable())
    val ex = intercept[IllegalStateException](stream.planInputPartitions(o4, o6))
    assert(ex.getMessage.contains("straddling"), ex.getMessage)
  }
}
