package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Zone-map data skipping on the manifest table: per-file min/max/null
  * stats recorded at write commit, file-level pruning driven by pushed
  * filters at read planning. The assertions pin the SCALE property — the
  * number of files an executor opens — not just result correctness (which
  * the full-scan fallback would also satisfy).
  */
class ZoneMapSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-zonemap").toString

  /** Files the scan under `df`'s plan would actually open. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => PlannedFiles.of(b)
    }
    assert(scans.nonEmpty, s"no BatchScanExec in:\n${df.queryExecution.executedPlan}")
    scans.sum
  }

  /** 8 range-disjoint files over id 0..799 (repartitionByRange keeps each
    * task's id interval tight, so the zone maps are selective). */
  private def writeRanged(dir: String): Unit = {
    import spark.implicits._
    (0L until 800L).map(i => (i, s"name_$i", i * 1.5)).toDF("id", "name", "score")
      .repartitionByRange(8, col("id"))
      .write.format(fmt).option("path", dir).mode("append").save()
  }

  test("range predicate opens only the files whose [min,max] intersect it") {
    val dir = freshDir()
    writeRanged(dir)
    val all = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(all) === 8, "baseline: no predicate, all files")

    val narrow = all.filter(col("id") >= 100L && col("id") <= 150L)
    assert(plannedFiles(narrow) <= 2,
      "a 51-id window over 8 range-disjoint 100-id files must open at most 2")
    assert(narrow.count() === 51)
    assert(narrow.agg(sum("id")).collect()(0).getLong(0) === (100L to 150L).sum)
  }

  test("equality and IN prune to single files; impossible predicates open zero") {
    val dir = freshDir()
    writeRanged(dir)
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("id") === 42L)) === 1)
    assert(plannedFiles(t.filter(col("id").isin(42L, 43L))) === 1)
    assert(plannedFiles(t.filter(col("id") === 100000L)) === 0)
    assert(t.filter(col("id") === 100000L).count() === 0)
    // Double column stats prune too.
    assert(plannedFiles(t.filter(col("score") < 15.0)) === 1)
    assert(t.filter(col("score") < 15.0).count() === 10)
  }

  test("disjunctions keep every file either side admits; string filters never prune") {
    val dir = freshDir()
    writeRanged(dir)
    val t = spark.read.format(fmt).option("path", dir).load()
    val orQ = t.filter(col("id") === 5L || col("id") === 705L)
    assert(plannedFiles(orQ) === 2)
    assert(orQ.count() === 2)
    // Strings carry stats too now — but LEXICOGRAPHIC ranges, so numeric
    // suffixes overlap across the id-ranged files: "name_123" falls inside
    // file 0's [name_0, name_99] band as well as file 1's. The point is
    // soundness (right answer) plus SOME pruning, not single-file.
    val sQ = t.filter(col("name") === "name_123")
    assert(plannedFiles(sQ) <= 2, "lexicographic bands admit at most 2 of 8 files")
    assert(sQ.count() === 1)
  }

  test("string zone maps: equality, range, prefix, and impossible probes") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "apple"), (2L, "banana"), (3L, "cherry")).toDF("id", "w").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    Seq((4L, "mango"), (5L, "melon"), (6L, "peach")).toDF("id", "w").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("w") === "banana")) === 1)
    assert(t.filter(col("w") === "banana").count() === 1)
    assert(plannedFiles(t.filter(col("w") === "zebra")) === 0)
    assert(plannedFiles(t.filter(col("w") > "d")) === 1)
    assert(t.filter(col("w") > "d").count() === 3)
    assert(plannedFiles(t.filter(col("w").startsWith("mel"))) === 1)
    assert(t.filter(col("w").startsWith("mel")).count() === 1)
    assert(plannedFiles(t.filter(col("w").startsWith("zz"))) === 0)
    assert(plannedFiles(t.filter(col("w").isin("apple", "peach"))) === 2)
  }

  test("string stats escape structural characters and skip long/empty bounds") {
    import spark.implicits._
    val dir = freshDir()
    // Bounds containing every delimiter of the stats/line format.
    Seq((1L, "a|b=c,d%e"), (2L, "k|x=y")).toDF("id", "w").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(t.count() === 2, "escaped stats must not corrupt the manifest line")
    assert(plannedFiles(t.filter(col("w") === "a|b=c,d%e")) === 1)
    assert(t.filter(col("w") === "a|b=c,d%e").count() === 1)
    assert(plannedFiles(t.filter(col("w") === "zzz")) === 0)

    // Long (>24B) bounds and empty-string minimums claim nothing.
    val dir2 = freshDir()
    Seq((1L, "x" * 40), (2L, "y" * 40)).toDF("id", "w").coalesce(1)
      .write.format(fmt).option("path", dir2).mode("append").save()
    Seq((3L, ""), (4L, "short")).toDF("id", "w").coalesce(1)
      .write.format(fmt).option("path", dir2).mode("append").save()
    val t2 = spark.read.format(fmt).option("path", dir2).load()
    assert(plannedFiles(t2.filter(col("w") === "absent")) === 2,
      "no-claim files must never be pruned")
    assert(t2.filter(col("w") === "").count() === 1)
    assert(t2.filter(col("w") === "short").count() === 1)
  }

  test("IS NULL prunes files without nulls; all-null columns defeat equality") {
    import spark.implicits._
    val dir = freshDir()
    // File A: no nulls in v. File B: some nulls. File C: all-null v.
    Seq((1L, Some(10L)), (2L, Some(20L))).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    Seq((3L, Some(30L)), (4L, None: Option[Long])).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    Seq((5L, None: Option[Long]), (6L, None: Option[Long])).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("v").isNull)) === 2, "no-null file pruned")
    assert(t.filter(col("v").isNull).count() === 3)
    // v = 30 can only live in file B; the all-null file C is provably empty
    // for ANY equality/range predicate on v.
    assert(plannedFiles(t.filter(col("v") === 30L)) === 1)
    assert(plannedFiles(t.filter(col("v") > 0L)) === 2, "all-null file pruned")
  }

  test("v2 entries without stats are never pruned (format back-compat)") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    // Strip the stats field from every entry line — the pre-zone-map format.
    val m = ManifestFileSink.manifests(dir).head
    val lines = Files.readAllLines(m.toPath).asScala.toSeq
    val body = ManifestFileSink.readManifest(m).body
    val rewritten = lines.dropRight(body.size) ++
      body.map(_.split("\t").take(2).mkString("\t"))
    Files.write(m.toPath, rewritten.asJava)
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("id") === 99L)) === 1,
      "stats-free file must stay visible to every predicate")
    assert(t.filter(col("id") === 1L).count() === 1)
  }

  test("zone maps survive compaction and time travel") {
    val dir = freshDir()
    writeRanged(dir)
    val snapshotName = ManifestFileSink.latestManifest(dir).get
    // Second append widens the table; compaction folds both manifests.
    import spark.implicits._
    (800L until 900L).map(i => (i, s"name_$i", i * 1.5)).toDF("id", "name", "score")
      .coalesce(1).write.format(fmt).option("path", dir).mode("append").save()
    assert(ManifestFileSink.compact(dir) === 2)
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("id") === 42L)) === 1,
      "stats must ride through the compacted manifest")
    assert(t.count() === 900)
    // The pre-compaction snapshot was retired — but the stats path must not
    // have broken the retired-snapshot error contract.
    val err = intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfManifest", snapshotName).load().count()
    }
    assert(err.getMessage.contains("retired by compaction"))
  }

  test("pushed filters surface in the plan description") {
    val dir = freshDir()
    writeRanged(dir)
    val t = spark.read.format(fmt).option("path", dir).load()
    val p = t.filter(col("id") >= 100L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), s"expected pushed-filter evidence in:\n$p")
  }
}
