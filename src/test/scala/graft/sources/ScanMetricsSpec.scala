package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DSv2 custom scan metrics: the Spark UI numbers that let an operator
  * VERIFY the sink's economics per query — zone-map pruning working
  * (`filesPruned`), merge-on-read debt (`dvRowsSkipped`), real IO
  * (`filesRead`). Asserted through BatchScanExec's SQLMetrics after
  * execution, i.e. exactly the values the UI renders. */
class ScanMetricsSpec extends SparkTestBase {

  import spark.implicits._

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head

  test("filesRead / filesPruned / dvRowsSkipped surface as SQL metrics") {
    val path = Files.createTempDirectory("graft-metrics").toString
    // 4 single-range files: appends land one file each (coalesce(1)).
    (0 until 4).foreach { b =>
      spark.range(b * 10, b * 10 + 10).select($"id", lit(s"b$b").as("tag"))
        .coalesce(1)
        .write.format(classOf[ManifestFileSink].getName)
        .option("path", path).mode("append").save()
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def load() = spark.read.format(classOf[ManifestFileSink].getName)
        .option("path", path).load()

      // Selective point filter: zone maps admit exactly one file.
      val sel = load().filter($"id" === 15L)
      assert(sel.collect().length === 1)
      val m1 = scanOf(sel).metrics
      assert(m1("filesRead").value === 1, s"expected 1 file read, got ${m1("filesRead").value}")
      assert(m1("filesPruned").value === 3, s"expected 3 files pruned, got ${m1("filesPruned").value}")
      assert(m1("splitsPlanned").value === 1)
      assert(m1("dvRowsSkipped").value === 0)

      // Merge-on-read: deleted rows show up as skipped-row debt.
      ManifestFileSink.deleteWhere(path,
        org.apache.spark.sql.sources.In("id", Array(11L, 12L, 33L)))
      val full = load()
      assert(full.collect().length === 37)
      val m2 = scanOf(full).metrics
      assert(m2("filesRead").value === 4)
      assert(m2("dvRowsSkipped").value === 3,
        s"3 deletion-vector rows must be reported, got ${m2("dvRowsSkipped").value}")
      assert(m2("filesPruned").value === 0)

      // Pushed LIMIT: 10 rows need only the first file's 10 live rows...
      val lim = load().limit(10)
      assert(lim.collect().length === 10)
      assert(scanOf(lim).metrics("filesRead").value === 1,
        "LIMIT 10 over 10-row files must open exactly one file")
      // ...and 25 rows need three files (10 + 7-after-deletes + 10 >= 25).
      val lim2 = load().limit(25)
      assert(lim2.collect().length === 25)
      assert(scanOf(lim2).metrics("filesRead").value === 3)
      // A filter keeps the full scan: residual row-filtering makes a
      // file-prefix cut unsound, and Spark never pushes that limit.
      val flim = load().filter($"id" >= 5L).limit(30)
      assert(flim.collect().length === 30)
      assert(scanOf(flim).metrics("filesRead").value === 4)

      // Pushed TOP-N: ORDER BY id LIMIT 5 on the range-disjoint layout
      // proves via zone maps that only the lowest file can matter...
      val top = load().orderBy($"id").limit(5)
      assert(top.collect().map(_.getLong(0)).toSeq === (0L until 5L))
      assert(scanOf(top).metrics("filesRead").value === 1,
        "ascending top-5 must open only the lowest-range file")
      // ...descending reads only the highest file (33 is deleted, stays out)...
      val bot = load().orderBy($"id".desc).limit(5)
      assert(bot.collect().map(_.getLong(0)).toSeq === Seq(39L, 38L, 37L, 36L, 35L))
      assert(scanOf(bot).metrics("filesRead").value === 1)
      // ...and top-15 needs two files (10 live + 8 live after deletes).
      val top15 = load().orderBy($"id").limit(15)
      assert(top15.collect().map(_.getLong(0)).toSeq ===
        ((0L until 10L) ++ Seq(10L, 13L, 14L, 15L, 16L)))
      assert(scanOf(top15).metrics("filesRead").value === 2)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** Top-N over `col` against a full sort of the collected rows, with the
    * number of files the pruned scan opened. */
  private def topNFilesRead(
      path: String, order: org.apache.spark.sql.Column, n: Int): (Seq[Any], Seq[Any], Long) = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val load = spark.read.format(classOf[ManifestFileSink].getName).option("path", path).load()
      val top = load.orderBy(order).limit(n)
      val got = top.collect().map(_.get(0)).toSeq
      val all = load.collect().toSeq
      val truth = spark.createDataFrame(spark.sparkContext.parallelize(all, 1), load.schema)
        .orderBy(order).limit(n).collect().map(_.get(0)).toSeq
      (got, truth, scanOf(top).metrics("filesRead").value)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("top-N over a String column prunes by zone maps in byte order") {
    val path = Files.createTempDirectory("graft-topn-s").toString
    // Three range-disjoint files. In UTF-8 byte order "a…" < "\uFF21…" <
    // "\uD83D\uDE00…"; UTF-16 code-unit order puts the last two the other way.
    Seq("a", "\uFF21", "\uD83D\uDE00").foreach { p =>
      (1 to 5).map(i => s"$p$i").toDF("s").coalesce(1)
        .write.format(classOf[ManifestFileSink].getName)
        .option("path", path).mode("append").save()
    }
    val (desc, descTruth, descFiles) = topNFilesRead(path, $"s".desc, 3)
    assert(desc === descTruth)
    assert(desc === Seq("\uD83D\uDE005", "\uD83D\uDE004", "\uD83D\uDE003"))
    assert(descFiles === 1, "descending top-3 must open only the highest-range file")
    val (asc, ascTruth, ascFiles) = topNFilesRead(path, $"s", 7)
    assert(asc === ascTruth)
    assert(ascFiles === 2, "ascending top-7 needs the two lowest-range files")
  }

  test("top-N over a Double column prunes by zone maps") {
    val path = Files.createTempDirectory("graft-topn-d").toString
    Seq(Seq(10.0, 20.0, 15.5), Seq(-5.5, -1.0, -3.25), Seq(0.5, 4.5, 2.0)).foreach { vs =>
      vs.toDF("d").coalesce(1)
        .write.format(classOf[ManifestFileSink].getName)
        .option("path", path).mode("append").save()
    }
    val (asc, ascTruth, ascFiles) = topNFilesRead(path, $"d", 2)
    assert(asc === ascTruth && asc === Seq(-5.5, -3.25))
    assert(ascFiles === 1, "ascending top-2 must open only the lowest-range file")
    val (desc, descTruth, descFiles) = topNFilesRead(path, $"d".desc, 4)
    assert(desc === descTruth && desc === Seq(20.0, 15.5, 10.0, 4.5))
    assert(descFiles === 2)
  }
}
