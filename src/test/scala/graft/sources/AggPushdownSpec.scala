package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Metadata-answered aggregates (SupportsPushDownAggregates):
  * count(*)/min/max with no WHERE and no GROUP BY resolve from manifest
  * entries + zone maps with ZERO data-file IO. The proof of zero IO is
  * physical: the data files are DELETED from disk and the aggregates
  * still answer. Conservative refusal (deletion vectors, missing stats)
  * is pinned too — the same query silently reverts to a real scan and
  * stays correct. */
class AggPushdownSpec extends SparkTestBase {

  import spark.implicits._

  private def load(path: String) =
    spark.read.format(classOf[ManifestFileSink].getName).option("path", path).load()

  private def append(path: String, df: DataFrame): Unit =
    df.coalesce(1).write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()

  /** `agg` answered from metadata (asserted from the plan) and through the
    * real scan: the table's rows collected, then aggregated by Spark over
    * a local relation. Rows are compared in a stable order. */
  private def assertSameAnswer(path: String)(agg: DataFrame => DataFrame): Seq[Row] = {
    val pushed = agg(load(path))
    assert(pushed.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "expected a metadata answer:\n" + pushed.queryExecution.executedPlan)
    val got = pushed.collect().toSeq.sortBy(_.toString)
    val rows = load(path).collect().toSeq
    val local = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), load(path).schema)
    assert(got === agg(local).collect().toSeq.sortBy(_.toString),
      "metadata answer must equal the scanned aggregate")
    got
  }

  test("count/min/max answer from metadata even with data files gone") {
    val path = Files.createTempDirectory("graft-aggpd").toString
    (0 until 3).foreach { b =>
      spark.range(b * 10, b * 10 + 10)
        .select($"id", concat(lit("name-"), lpad($"id".cast("string"), 3, "0")).as("tag"),
          ($"id" * 1.5).as("score"))
        .coalesce(1)
        .write.format(classOf[ManifestFileSink].getName)
        .option("path", path).mode("append").save()
    }
    // Ground truth BEFORE removing the files.
    val expect = load(path)
      .agg(count(lit(1)), min($"id"), max($"id"), min($"tag"), max($"tag"),
        min($"score"), max($"score")).head()

    // Physically delete every data file: only metadata remains.
    val dataDir = Paths.get(path, "data")
    val walk = Files.list(dataDir)
    try walk.forEach(f => { Files.delete(f); () }) finally walk.close()

    val got = load(path)
      .agg(count(lit(1)), min($"id"), max($"id"), min($"tag"), max($"tag"),
        min($"score"), max($"score")).head()
    assert(got === expect, "aggregates must be served from manifest metadata")

    // And a full scan, honestly, now fails — the files really are gone.
    intercept[Exception](load(path).collect())
  }

  test("plan shows the metadata scan; group-by and filters keep the real scan") {
    val path = Files.createTempDirectory("graft-aggpd2").toString
    spark.range(0, 100).select($"id", ($"id" % 7).as("g"))
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()

    val pushed = load(path).agg(count(lit(1)).as("n"))
    assert(pushed.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "no-filter global aggregate must push to metadata")
    assert(pushed.head().getLong(0) === 100)

    val grouped = load(path).groupBy($"g").agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
    assert(grouped.agg(sum($"n")).head().getLong(0) === 100)

    val filtered = load(path).filter($"id" < 50).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
    assert(filtered.head().getLong(0) === 50)
  }

  test("GROUP BY identity partition column answers from metadata — zero data files opened") {
    val path = Files.createTempDirectory("graft-aggpd4").toString
    ManifestFileSink.setPartitionColumns(path, Seq("g"))
    spark.range(0, 100).select(($"id" % 5).as("g"), $"id", ($"id" * 2.0).as("v"))
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()
    val expect = load(path).groupBy($"g")
      .agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"v").as("mx"))
      .orderBy($"g").collect().toSeq

    // The proof of zero IO is physical: delete every data file.
    val dataDir = Paths.get(path, "data")
    val walk = Files.list(dataDir)
    try walk.forEach(f => { Files.delete(f); () }) finally walk.close()

    val grouped = load(path).groupBy($"g")
      .agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"v").as("mx"))
    assert(grouped.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "partition-column GROUP BY must push to metadata:\n" +
        grouped.queryExecution.executedPlan.toString)
    assert(grouped.orderBy($"g").collect().toSeq === expect,
      "per-group metadata answers must equal the real aggregation")

    // Grouping by a NON-partition column still refuses (files are gone,
    // so the honest scan fails loudly rather than answering wrong).
    val byOther = load(path).groupBy($"id").agg(count(lit(1)))
    assert(!byOther.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
  }

  test("an unprovable file refuses the grouped shortcut; results stay exact") {
    val path = Files.createTempDirectory("graft-aggpd5").toString
    // Write WITHOUT the layout declared: mixed-value files, no proofs.
    spark.range(0, 30).select(($"id" % 3).as("g"), $"id").coalesce(1)
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()
    ManifestFileSink.setPartitionColumns(path, Seq("g"))
    val grouped = load(path).groupBy($"g").agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "a file that cannot prove its group must keep the real scan")
    assert(grouped.orderBy($"g").collect().map(_.getLong(1)).toSeq === Seq(10L, 10L, 10L))
  }

  test("deletion vectors refuse the shortcut; results stay exact") {
    val path = Files.createTempDirectory("graft-aggpd3").toString
    spark.range(0, 40).select($"id")
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()
    ManifestFileSink.deleteWhere(path,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 35L))
    val agg = load(path).agg(count(lit(1)), min($"id"), max($"id"))
    assert(!agg.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "a deleted row may have been the extreme: metadata answer is unsound")
    val r = agg.head()
    assert(r.getLong(0) === 35 && r.getLong(1) === 0 && r.getLong(2) === 34)
  }

  test("bare COUNT(*) survives deletion vectors: live = rows − |dv|, zero data IO") {
    val path = Files.createTempDirectory("graft-aggpd4").toString
    spark.range(0, 40).select($"id")
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()
    ManifestFileSink.deleteWhere(path,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 35L))
    val cnt = load(path).agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "positions are distinct by construction, so the live count is exactly " +
        "derivable from metadata even under row-level deletes")
    assert(cnt.head().getLong(0) === 35)
    // Physical proof: delete the data files, the count still answers.
    val walk = Files.list(Paths.get(path, "data"))
    try walk.forEach(f => { Files.delete(f); () }) finally walk.close()
    assert(load(path).agg(count(lit(1))).head().getLong(0) === 35)
  }

  test("MIN/MAX over a column an older file lacks match the scan") {
    val path = Files.createTempDirectory("graft-aggpd6").toString
    append(path, Seq(1L, 50L).toDF("id"))
    append(path, Seq((2L, 7.5, "k"), (9L, -1.0, "a")).toDF("id", "v", "s"))
    append(path, Seq((3L, 0.25, "m")).toDF("id", "v", "s"))
    assertSameAnswer(path)(_.agg(count(lit(1)), min($"id"), max($"id"),
      min($"v"), max($"v"), min($"s"), max($"s")))
  }

  test("a file whose column is all NULL contributes no extreme") {
    val path = Files.createTempDirectory("graft-aggpd7").toString
    append(path, Seq[(Long, Option[Double], Option[String])](
      (1L, None, None), (2L, None, None)).toDF("id", "v", "s"))
    val onlyNulls = assertSameAnswer(path)(_.agg(count(lit(1)), min($"v"), max($"s")))
    assert(onlyNulls === Seq(Row(2L, null, null)))
    append(path, Seq[(Long, Option[Double], Option[String])](
      (3L, Some(2.5), Some("b")), (4L, Some(-0.5), None)).toDF("id", "v", "s"))
    assertSameAnswer(path)(_.agg(count(lit(1)), min($"v"), max($"v"), min($"s"), max($"s")))
  }

  test("a table emptied by overwrite and applyDeletes answers one row") {
    val path = Files.createTempDirectory("graft-aggpd8").toString
    append(path, Seq((1L, 1.5, "a"), (2L, 2.5, "b")).toDF("id", "v", "s"))
    append(path, Seq((3L, 3.5, "c")).toDF("id", "v", "s"))
    Seq.empty[(Long, Double, String)].toDF("id", "v", "s")
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("overwrite").save()
    ManifestFileSink.applyDeletes(path)
    assert(ManifestFileSink.Snapshot(path).dvs.isEmpty)
    val r = assertSameAnswer(path)(_.agg(count(lit(1)), min($"id"), max($"v"), max($"s")))
    assert(r === Seq(Row(0L, null, null, null)))
  }

  test("count() over a BOOLEAN-only table answers without a zone map") {
    val path = Files.createTempDirectory("graft-aggpd9").toString
    append(path, Seq(true, false, true).toDF("b"))
    append(path, Seq(false).toDF("b"))
    assert(ManifestFileSink.Snapshot(path).visible.forall(_._3.statsText.isEmpty),
      "a BOOLEAN column records no zone map")
    assert(assertSameAnswer(path)(_.agg(count(lit(1)))) === Seq(Row(4L)))
    assert(load(path).count() === 4L)
  }

  test("grouped MAX over a Double and a String column match the scan") {
    val path = Files.createTempDirectory("graft-aggpd10").toString
    ManifestFileSink.setPartitionColumns(path, Seq("g"))
    // Two files per group. U+FF21 sorts below U+1F600 in UTF-8 byte
    // order but above it in UTF-16 code-unit order.
    append(path, Seq((0L, -2.5, "\uFF21"), (1L, 4.0, "b"), (0L, 1.0, "a"))
      .toDF("g", "d", "s"))
    append(path, Seq((0L, -7.0, "\uD83D\uDE00"), (1L, 9.5, "\uFF21z"), (1L, -1.0, "c"))
      .toDF("g", "d", "s"))
    val r = assertSameAnswer(path)(_.groupBy($"g").agg(max($"d"), max($"s"), min($"d"), min($"s")))
    assert(r === Seq(Row(0L, 1.0, "\uD83D\uDE00", -7.0, "a"), Row(1L, 9.5, "\uFF21z", -1.0, "b")))
  }
}
