package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Per-file Bloom-filter index on the manifest table: the point-lookup
  * complement to zone maps. Zone maps prune by [min,max] — useless when a
  * high-cardinality key is SCATTERED across files (every file's range
  * admits every probe). A per-column Bloom recorded at write commit
  * refutes equality/IN probes per file with no IO beyond the manifest
  * metadata already in hand. Designation is per table via the `_bloom`
  * control file ([[ManifestFileSink.setBloomIndex]]), the Delta
  * per-column-property model.
  */
class BloomIndexSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-bloom").toString

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => PlannedFiles.of(b)
    }
    assert(scans.nonEmpty, s"no BatchScanExec in:\n${df.queryExecution.executedPlan}")
    scans.sum
  }

  /** 4 files whose id ranges FULLY OVERLAP (ids interleaved mod 4, evens
    * only): zone maps admit every file for every in-range probe; only the
    * blooms can tell files apart. */
  private def writeInterleaved(dir: String): Unit = {
    import spark.implicits._
    ManifestFileSink.setBloomIndex(dir, Seq("id", "name"))
    // Evens mod 8 ∈ {0,2,4,6}: range-partitioning the residue yields
    // exactly 4 non-empty files, each spanning ~[r, 792+r].
    (0L until 800L by 2L).map(i => (i, s"user_$i")).toDF("id", "name")
      .repartitionByRange(4, pmod(col("id"), lit(8)))
      .write.format(fmt).option("path", dir).mode("append").save()
  }

  test("bloom refutes in-range equality probes zone maps cannot") {
    val dir = freshDir()
    writeInterleaved(dir)
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t) === 4, "baseline: no predicate, all files")
    // Zone maps alone keep ALL files for any in-range id (every file spans
    // ~[0, 798]); the bloom narrows a present key to its one true file
    // (+ deterministic fp slack).
    assert(plannedFiles(t.filter(col("id") === 42L)) <= 2,
      "bloom must refute the files not holding key 42")
    assert(t.filter(col("id") === 42L).count() === 1)
    // An ABSENT key inside every file's range: blooms refute everywhere.
    assert(plannedFiles(t.filter(col("id") === 37L)) <= 1,
      "odd key 37 is in-range of all files but present in none")
    assert(t.filter(col("id") === 37L).count() === 0)
    // IN-list: per-value bloom tests union.
    assert(plannedFiles(t.filter(col("id").isin(42L, 44L))) <= 3)
    assert(t.filter(col("id").isin(42L, 44L)).count() === 2)
  }

  test("bloom membership has no false negatives: every present key found") {
    val dir = freshDir()
    writeInterleaved(dir)
    val t = spark.read.format(fmt).option("path", dir).load()
    // Sample of present keys across all 4 residue files — each must
    // return its row (a false negative would silently drop it).
    Seq(0L, 2L, 4L, 6L, 100L, 398L, 400L, 798L).foreach { k =>
      assert(t.filter(col("id") === k).count() === 1, s"key $k lost to a false negative")
    }
    // String column blooms: present probes hit, absent probes prune.
    assert(t.filter(col("name") === "user_42").count() === 1)
    assert(plannedFiles(t.filter(col("name") === "user_37")) <= 1)
    assert(t.filter(col("name") === "user_37").count() === 0)
  }

  test("long string bounds: rangeless bloom carrier still prunes, never lies") {
    import spark.implicits._
    val dir = freshDir()
    ManifestFileSink.setBloomIndex(dir, Seq("token"))
    // > 24-byte strings: zone maps refuse to record bounds, so without the
    // rangeless carrier the column would have NO file-level index at all.
    (0L until 100L).map(i => (i, s"document_identifier_padding_$i"))
      .toDF("id", "token").repartition(4, col("id") % 4)
      .write.format(fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("token") === "document_identifier_padding_17")) <= 2)
    assert(t.filter(col("token") === "document_identifier_padding_17").count() === 1)
    assert(plannedFiles(t.filter(col("token") === "document_identifier_padding_999")) <= 1)
    assert(t.filter(col("token") === "document_identifier_padding_999").count() === 0)
    // The rangeless entry must not poison non-equality semantics: the
    // pushed IsNotNull alongside equality, bare IS NOT NULL, and prefix
    // scans all still see every row.
    assert(t.filter(col("token").isNotNull).count() === 100)
    assert(t.filter(col("token").startsWith("document_")).count() === 100)
  }

  test("no _bloom config: no index, no manifest bloat, full-scan fallback") {
    import spark.implicits._
    val dir = freshDir()
    (0L until 800L by 2L).map(i => (i, s"user_$i")).toDF("id", "name")
      .repartitionByRange(4, pmod(col("id"), lit(8)))
      .write.format(fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(fmt).option("path", dir).load()
    // Ranges fully overlap and there is no bloom: every file stays.
    assert(plannedFiles(t.filter(col("id") === 42L)) === 4)
    assert(t.filter(col("id") === 42L).count() === 1)
    // Entry lines carry no bloom part (idx=min,max,null only).
    val m = ManifestFileSink.manifests(dir).head
    val entries = ManifestFileSink.readManifest(m).body
    entries.foreach { line =>
      line.split("\t")(2).split("\\|").foreach { part =>
        assert(part.count(_ == ',') === 2, s"unexpected bloom part in: $part")
      }
    }
  }

  test("blooms survive compaction and stats round-trip exactly") {
    import spark.implicits._
    val dir = freshDir()
    writeInterleaved(dir)
    // A second commit so compact has two manifests to fold.
    Seq((9999L, "user_9999")).toDF("id", "name").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(ManifestFileSink.compact(dir) >= 1)
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(plannedFiles(t.filter(col("id") === 37L)) <= 1,
      "compaction must carry the bloom field through")
    assert(t.filter(col("id") === 42L).count() === 1)
    // Encode/decode identity for a bloomed + a rangeless stat entry.
    val bits = Array.fill(ManifestFileSink.BloomBits / 64)(0L)
    ManifestFileSink.bloomSet(bits, ManifestFileSink.bloomHashLong(7L))
    val stats = Map(
      0 -> ManifestFileSink.ColStats("1", "9", hasNull = false, Some(bits)),
      1 -> ManifestFileSink.ColStats("", "", hasNull = true, Some(bits), rangeless = true),
      2 -> ManifestFileSink.ColStats("a%b", "z|c", hasNull = false))
    val rt = ManifestFileSink.decodeStats(ManifestFileSink.encodeStats(stats))
    assert(rt(0).min === "1" && rt(0).bloom.get.sameElements(bits) && !rt(0).rangeless)
    assert(rt(1).rangeless && rt(1).hasNull && rt(1).bloom.get.sameElements(bits))
    assert(rt(2).min === "a%b" && rt(2).max === "z|c" && rt(2).bloom.isEmpty)
    assert(ManifestFileSink.bloomMightContain(bits, ManifestFileSink.bloomHashLong(7L)))
  }

  test("runtime join-key filters prune through blooms (dynamic file skipping)") {
    import spark.implicits._
    val dir = freshDir()
    writeInterleaved(dir)
    // AQE's stage wrapping hides the scan from plan collection; the
    // pruning itself is AQE-independent (CatalogSqlSpec's pattern). The
    // probe must be a TABLE with a surviving selective predicate, or the
    // DPP planner skips injection.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probeDir = freshDir()
      Seq(42L, 44L, 9999L).toDF("k").coalesce(1)
        .write.format(fmt).option("path", probeDir).mode("append").save()
      val probe = spark.read.format(fmt).option("path", probeDir).load()
        .where(col("k") < 500L)
      val t = spark.read.format(fmt).option("path", dir).load()
      val joined = t.join(broadcast(probe), col("id") === col("k"))
      assert(joined.collect().length === 2)
      val scans = joined.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }
      assert(scans.exists(_.runtimeFilters.nonEmpty),
        s"expected runtime filters on the manifest scan:\n${joined.queryExecution.executedPlan}")
      // 42 and 44 live in different residue files; every file's RANGE
      // admits both keys, so ≤3 partitions proves the BLOOMS did the
      // dynamic pruning (+1 fp slack).
      assert(scans.exists(b => b.runtimeFilters.nonEmpty && PlannedFiles.of(b) <= 3),
        "runtime IN over {42,44} must bloom-prune the non-holding files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
