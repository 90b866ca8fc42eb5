package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import graft.SparkTestBase

/** `replaceWhere` (atomic predicate-scoped overwrite — the backfill
  * primitive) and `optimize` (range-clustered live-row rewrite restoring
  * file-count and zone-map selectivity). */
class ReplaceOptimizeSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-ro").toString

  private def append(dir: String, rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("id", "part", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
  }

  private def state(dir: String): Seq[(Long, String, Double)] =
    spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)

  test("replaceWhere: scoped retraction + insert in one atomic commit") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "jan", 1.0), (2L, "feb", 2.0), (3L, "feb", 3.0)))
    val preBackfill = ManifestFileSink.latestManifest(dir).get

    // Backfill February: both old feb rows out, corrected rows in.
    val (retracted, inserted) = ManifestFileSink.replaceWhere(dir,
      EqualTo("part", "feb"),
      Seq((2L, "feb", 20.0), (3L, "feb", 30.0), (4L, "feb", 40.0))
        .toDF("id", "part", "score"))
    assert((retracted, inserted) === (2L, 3L))
    assert(state(dir) === Seq((1L, "jan", 1.0), (2L, "feb", 20.0),
      (3L, "feb", 30.0), (4L, "feb", 40.0)))
    assert(ManifestFileSink.manifests(dir).size === 2, "backfill is ONE commit")
    // Pre-backfill snapshot intact.
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", preBackfill).load().count() === 3)
    // Replaying the identical backfill converges.
    val (r2, i2) = ManifestFileSink.replaceWhere(dir,
      EqualTo("part", "feb"),
      Seq((2L, "feb", 20.0), (3L, "feb", 30.0), (4L, "feb", 40.0))
        .toDF("id", "part", "score"))
    assert((r2, i2) === (3L, 3L))
    assert(state(dir) === Seq((1L, "jan", 1.0), (2L, "feb", 20.0),
      (3L, "feb", 30.0), (4L, "feb", 40.0)))
  }

  test("optimize: clustered rewrite folds deletes, restores skipping, retires history") {
    val dir = freshDir()
    // Many small interleaved commits: id ranges overlap across every file,
    // so zone maps prune nothing.
    (0 until 6).foreach { i =>
      append(dir, Seq((i.toLong, "a", i * 1.0), ((100 - i).toLong, "b", i * 2.0)))
    }
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 3L))
    val before = state(dir)
    assert(ManifestFileSink.manifests(dir).size === 7)

    val produced = ManifestFileSink.optimize(spark, dir, "id", numFiles = 3)
    assert(produced > 0 && produced <= 3)
    assert(state(dir) === before, "optimize must not change visible rows")
    assert(ManifestFileSink.manifests(dir).size === 1, "one superseding manifest")
    assert(ManifestFileSink.Snapshot(dir).dvs.isEmpty, "vectors folded away")
    // Physical deletion is DEFERRED: superseded originals stay on disk so
    // an in-flight scan planned against the prior snapshot finishes its
    // read; they are unreferenced now and vacuum reclaims them.
    val all = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(all.count(_.startsWith("part-o")) === produced)
    assert(all.length > produced, "originals deferred to vacuum, not deleted in-commit")
    assert(ManifestFileSink.vacuum(dir, olderThanMs = 0L) === all.length - produced)
    val files = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(files.forall(_.startsWith("part-o")) && files.length === produced,
      s"after vacuum only the rewrite remains: ${files.mkString(",")}")

    // Fresh zone maps are selective again: a narrow id probe opens 1 file.
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          PlannedFiles.of(b)
      }.sum
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(planned(t.filter(col("id") === 1L)) === 1,
      "range-clustered rewrite must restore single-file equality pruning")
    // The table keeps working after optimize.
    append(dir, Seq((200L, "c", 5.0)))
    assert(state(dir).size === before.size + 1)
  }

  test("optimize refuses when the table advances past its pinned snapshot") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0)))
    val stalePin = ManifestFileSink.latestManifest(dir).get
    // A commit lands between the pinned read and the fold: the guarded
    // section must refuse (folding would swallow the new commit's rows).
    append(dir, Seq((2L, "b", 2.0)))
    val err = intercept[IllegalStateException] {
      ManifestFileSink.optimizePinned(spark, dir, "id", 2, stalePin)
    }
    assert(err.getMessage.contains("advanced past"))
    assert(state(dir) === Seq((1L, "a", 1.0), (2L, "b", 2.0)),
      "refused optimize must leave the table untouched")
    // A retry over the settled table succeeds.
    assert(ManifestFileSink.optimize(spark, dir, "id", numFiles = 2) >= 1)
    assert(state(dir) === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("vacuum reclaims unreferenced files; retention spares young ones; commits survive") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0)))
    // Orphans: an aborted attempt's file and a refused optimize's output.
    // Back-date the orphans: vacuum's retention compares mtime < cutoff
    // strictly, and with olderThanMs=0 an orphan written in the SAME
    // clock tick as the vacuum call reads as "young" and survives — a
    // flake that only fires under load (observed once in a full-suite
    // run with two concurrent Spark JVMs; deterministic in intent, so
    // pin the intent).
    for (n <- Seq("part-orphan-1" -> "9\tz\t9.9\n", "part-o-orphan-2" -> "8\ty\t8.8\n")) {
      val p = java.nio.file.Paths.get(dir, "data", n._1)
      java.nio.file.Files.writeString(p, n._2)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
    }
    // Retention fence: everything is younger than 7 days — nothing deleted.
    assert(ManifestFileSink.vacuum(dir) === 0)
    // With the fence dropped, exactly the orphans go; committed data stays.
    assert(ManifestFileSink.vacuum(dir, olderThanMs = 0L) === 2)
    assert(state(dir) === Seq((1L, "a", 1.0)))
    assert(new java.io.File(s"$dir/data").listFiles().length === 1)
    // Idempotent.
    assert(ManifestFileSink.vacuum(dir, olderThanMs = 0L) === 0)
  }

  test("scan reports statistics from metadata: live rows and bytes") {
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    ManifestFileSink.deleteWhere(dir, EqualTo("id", 2L))
    val df = spark.read.format(fmt).option("path", dir).load()
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val stats = scan.computeStats()
    assert(stats.rowCount.contains(BigInt(2)),
      s"expected 2 live rows (3 written, 1 deleted), got ${stats.rowCount}")
    assert(stats.sizeInBytes > 0, "size must come from the visible files")
  }
}
