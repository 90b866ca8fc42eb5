package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, In, IsNull, LessThan, Not}
import graft.SparkTestBase

/** Row-level deletes on the manifest table: merge-on-read deletion
  * vectors (`deleteWhere`), the copy-on-write purge (`applyDeletes`),
  * time travel across a delete, ANSI NULL semantics in the predicate,
  * and the `ignoreDeletes` fence on the change feed. */
class DeleteVectorSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-dv").toString

  private def append(dir: String, rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("id", "name", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
  }

  private def ids(dir: String, opts: (String, String)*): Seq[Long] = {
    val r = opts.foldLeft(spark.read.format(fmt).option("path", dir)) {
      case (b, (k, v)) => b.option(k, v)
    }
    r.load().select("id").collect().map(_.getLong(0)).toSeq.sorted
  }

  test("deleteWhere is merge-on-read: vectors published, data files untouched") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    append(dir, Seq((4L, "d", 4.0), (5L, "e", 5.0)))
    val before = new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet

    val n = ManifestFileSink.deleteWhere(dir, In("id", Array(2L, 4L)))
    assert(n === 2)
    assert(ids(dir) === Seq(1L, 3L, 5L))
    // Data files are physically untouched; the delete is one manifest.
    assert(new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet === before)
    assert(ManifestFileSink.manifests(dir).size === 3, "delete = one commit")
    // Re-running the same delete is a no-op: no rows, no manifest.
    assert(ManifestFileSink.deleteWhere(dir, In("id", Array(2L, 4L))) === 0)
    assert(ManifestFileSink.manifests(dir).size === 3)
  }

  test("the match scan is a Spark job: the driver opens no data file") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val before = ManifestFileSink.driverMatchFileReads.get()
    assert(ManifestFileSink.deleteWhere(dir, GreaterThan("id", 1L)) === 2)
    assert(ManifestFileSink.driverMatchFileReads.get() === before,
      "deleteWhere's match must run executor-side (zero driver data-file reads)")
    // The counter is live, not vacuously zero: the same kernel invoked
    // OUTSIDE a task (no TaskContext) trips it.
    val file = new java.io.File(s"$dir/data").listFiles().head.getName
    val schema = ManifestFileSink.asNullable(
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT,name STRING,score DOUBLE"))
    MatchScan.fileKeys(dir, file, schema, "id")
    assert(ManifestFileSink.driverMatchFileReads.get() === before + 1,
      "a task-less invocation of the scan kernel must count as a driver read")
  }

  test("a fractional double literal against a long column compares exactly (no truncation)") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // longValue() truncation would turn id < 2.5 into id < 2 and spare id=2.
    assert(ManifestFileSink.deleteWhere(dir, LessThan("id", 2.5)) === 2,
      "ids 1 AND 2 are below 2.5")
    assert(ids(dir) === Seq(3L))
    // Zone-map side must agree: a file spanning [3,3] is prunable for
    // id < 2.5 but NOT for id < 3.5 — the exact compare, both directions.
    assert(ManifestFileSink.deleteWhere(dir, LessThan("id", 3.5)) === 1)
    assert(ids(dir) === Seq())
  }

  test("time travel: a pre-delete snapshot still sees the deleted rows") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val preDelete = ManifestFileSink.latestManifest(dir).get
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 1L))
    assert(ids(dir) === Seq(2L))
    assert(ids(dir, "asOfManifest" -> preDelete) === Seq(1L, 2L))
  }

  test("ANSI NULL semantics: comparisons and NOT never delete NULL rows; IS NULL does") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, Some(1.0)), (2L, None: Option[Double]), (3L, Some(3.0)))
      .toDF("id", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    // score > 2.0 is NULL for row 2 — not TRUE, so row 2 survives.
    assert(ManifestFileSink.deleteWhere(dir, GreaterThan("score", 2.0)) === 1)
    assert(ids(dir) === Seq(1L, 2L))
    // NOT(score = 1.0) is NULL for row 2 — row 2 still survives.
    assert(ManifestFileSink.deleteWhere(dir, Not(EqualTo("score", 1.0))) === 0)
    assert(ids(dir) === Seq(1L, 2L))
    // IS NULL is definitively TRUE for row 2.
    assert(ManifestFileSink.deleteWhere(dir, IsNull("score")) === 1)
    assert(ids(dir) === Seq(1L))
  }

  test("overlapping deletes union; a fully-deleted file is dropped unopened") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    append(dir, Seq((3L, "c", 3.0)))
    assert(ManifestFileSink.deleteWhere(dir, EqualTo("id", 1L)) === 1)
    assert(ManifestFileSink.deleteWhere(dir,
      And(GreaterThan("id", 0L), Not(EqualTo("id", 3L)))) === 1) // deletes id=2 only
    // File 1 now fully deleted: the scan must plan zero splits for it.
    assert(ids(dir) === Seq(3L))
    val dvs = ManifestFileSink.Snapshot(dir).dvs
    assert(dvs.values.map(_.length).sum === 2)
  }

  test("zone-map skip: a predicate outside every file's bounds deletes nothing") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val manifestsBefore = ManifestFileSink.manifests(dir).size
    assert(ManifestFileSink.deleteWhere(dir, EqualTo("id", 999L)) === 0)
    assert(ManifestFileSink.manifests(dir).size === manifestsBefore,
      "a no-op delete must not publish a commit")
  }

  test("applyDeletes purges copy-on-write: vectors folded, originals gone, history retired") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    append(dir, Seq((4L, "d", 4.0)))
    val preDelete = ManifestFileSink.latestManifest(dir).get
    ManifestFileSink.deleteWhere(dir, In("id", Array(2L, 4L)))
    assert(ManifestFileSink.applyDeletes(dir) === 2, "two files carried vectors")

    assert(ids(dir) === Seq(1L, 3L), "read unchanged by the purge")
    assert(ManifestFileSink.Snapshot(dir).dvs.isEmpty, "vectors folded away")
    assert(ManifestFileSink.manifests(dir).size === 1, "one combined manifest")
    // Originals stay for vacuum (deferred physical deletion protects
    // in-flight scans of the prior snapshot); unreferenced now.
    assert(ManifestFileSink.vacuum(dir, olderThanMs = 0L) === 2)
    val files = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(files.forall(_.startsWith("purge-")) && files.length === 1,
      s"file 2 was fully deleted, file 1 rewritten; got ${files.mkString(",")}")
    // Purge retires prior snapshots, like compact.
    val err = intercept[IllegalArgumentException] {
      ids(dir, "asOfManifest" -> preDelete)
    }
    assert(err.getMessage.contains("retired"))
    // Purge with nothing visible is a no-op.
    assert(ManifestFileSink.applyDeletes(dir) === 0)
  }

  test("zone maps stay sound after a purge (bounds widen, never lie)") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (100L, "b", 2.0)))
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 100L))
    ManifestFileSink.applyDeletes(dir)
    // Recorded bounds still claim [1,100]; a probe for 100 admits the file
    // (conservative), the row-level filter then drops it.
    assert(ids(dir) === Seq(1L))
    assert(spark.read.format(fmt).option("path", dir).load()
      .where("id = 100").count() === 0)
  }

  test("crash window: a superseded manifest left on disk never double-reads rewritten files") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val origManifest = ManifestFileSink.manifests(dir).head
    val origLines = Files.readAllLines(origManifest.toPath)
    val origData = new java.io.File(s"$dir/data").listFiles().head
    val origBytes = Files.readAllBytes(origData.toPath)
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 2L))
    ManifestFileSink.applyDeletes(dir)
    // Simulate the crash-before-cleanup window: the purged input manifest
    // and its data file come back from the dead.
    Files.write(origManifest.toPath, origLines)
    Files.write(Paths.get(dir, "data", origData.getName), origBytes)
    assert(ids(dir) === Seq(1L),
      "superseded manifest contributed entries: rewritten rows double-read")
  }

  test("change feed fence: DELETE in the window fails loudly; ignoreDeletes opts into appends-only") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0)))
    val resume = ManifestFileSink.latestManifest(dir).get
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 1L))
    append(dir, Seq((2L, "b", 2.0)))

    val err = intercept[IllegalStateException] {
      ids(dir, "sinceManifest" -> resume)
    }
    assert(err.getMessage.contains("ignoreDeletes"))
    // Opt-in: the feed lists exactly the appended files, as committed.
    assert(ids(dir, "sinceManifest" -> resume, "ignoreDeletes" -> "true") === Seq(2L))
    // A delete BEHIND the resume point is outside the window: no fence.
    val resume2 = ManifestFileSink.latestManifest(dir).get
    append(dir, Seq((3L, "c", 3.0)))
    assert(ids(dir, "sinceManifest" -> resume2) === Seq(3L))
  }

  test("streaming source fence: a DELETE commit fails the stream unless ignoreDeletes") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0)))
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 1L))
    append(dir, Seq((2L, "b", 2.0)))

    def run(ignore: Boolean): Seq[Long] = {
      val out = Files.createTempDirectory("graft-dv-out").toString
      val ck = Files.createTempDirectory("graft-dv-ck").toString
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("ignoreDeletes", ignore.toString).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSeq.sorted
    }
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ignore = false)
    }
    assert(err.getMessage.contains("ignoreDeletes") ||
      Option(err.getCause).exists(_.getMessage.contains("ignoreDeletes")))
    assert(run(ignore = true) === Seq(1L, 2L),
      "append-only feed: both appends, the retraction ignored")
  }

  test("deletes survive metadata compaction: vectors carried through compact()") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    append(dir, Seq((3L, "c", 3.0)))
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 2L))
    assert(ManifestFileSink.compact(dir) === 3)
    assert(ids(dir) === Seq(1L, 3L), "vector lost in compaction")
    assert(ManifestFileSink.Snapshot(dir).dvs.values.map(_.length).sum === 1)
  }
}
