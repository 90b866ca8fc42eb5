package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualTo, In, Or}
import graft.SparkTestBase

/** The reference's own job on the path API — repeated full overwrites of
  * one table — and every other always-true retraction door. A full
  * overwrite retracts the old generation from manifest metadata alone:
  * one job per overwrite (the write), no old data file opened, and one
  * `0-(n-1)` run per retracted file in the manifest. */
class FullOverwriteSpec extends SparkTestBase with JobCounting {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-ow").toString

  private type Row3 = (Long, String, Double)

  /** Push `k`: `n` rows with ids disjoint from every other push. */
  private def pushRows(k: Int, n: Int): Seq[Row3] =
    (0 until n).map(i => (k * 1000L + i, s"p$k-$i", i * 0.5))

  private def overwrite(dir: String, rows: Seq[Row3]): Unit = {
    import spark.implicits._
    rows.toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
  }

  private def read(dir: String, asOf: Option[String] = None): Seq[Row3] = {
    val r = spark.read.format(fmt).option("path", dir)
    asOf.fold(r)(m => r.option("asOfManifest", m)).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sortBy(_._1)
  }

  /** (file, count, runs) of every deletion-vector line of one manifest. */
  private def dvLines(dir: String, manifest: String): Set[(String, String, String)] =
    Files.readAllLines(Paths.get(dir, manifest)).asScala
      .filter(_.startsWith(ManifestFileSink.DvMarker + "\t"))
      .map { l => val p = l.split("\t"); (p(1), p(2), p(3)) }.toSet

  private def entries(dir: String, manifest: String): Seq[(String, Long)] =
    ManifestFileSink.readManifest(new File(dir, manifest)).entries.map(e => (e.file, e.rows))

  private def wholeRun(rows: Long): String = if (rows == 1) "0" else s"0-${rows - 1}"

  test("path-API overwrite x3: readback, time travel, one run per file, one job, purge") {
    val dir = freshDir()
    val pushes = Seq(300, 500, 700).zipWithIndex.map { case (n, k) => pushRows(k, n) }
    val published = scala.collection.mutable.ArrayBuffer.empty[String]
    pushes.foreach { rows =>
      val retracted = published.lastOption
        .map(m => entries(dir, m).filter(_._2 > 0))
        .getOrElse(Nil)
      val driverReads = ManifestFileSink.driverMatchFileReads.get()
      assert(jobsDuring(overwrite(dir, rows)) === 1,
        "an overwrite runs its write job only: no match scan of the old rows")
      assert(ManifestFileSink.driverMatchFileReads.get() === driverReads)
      val m = ManifestFileSink.latestManifest(dir).get
      published += m
      assert(read(dir) === rows)
      assert(dvLines(dir, m) ===
        retracted.map { case (f, n) => (f, n.toString, wholeRun(n)) }.toSet)
    }
    assert(published.size === 3)
    published.zip(pushes).foreach { case (m, rows) =>
      assert(read(dir, Some(m)) === rows, s"time travel to $m")
    }

    val live = entries(dir, published.last).map(_._1).toSet
    val old = published.init.flatMap(m => entries(dir, m))
      .map(_._1).toSet
    assert(ManifestFileSink.applyDeletes(dir) === old.size, "every old file dropped")
    assert(ManifestFileSink.Snapshot(dir).visible.map(_._1).toSet === live)
    assert(ManifestFileSink.Snapshot(dir).dvs.isEmpty)
    assert(read(dir) === pushes.last)
  }

  test("an overwrite retracts only what is still live; the runs show the gaps") {
    val dir = freshDir()
    import spark.implicits._
    pushRows(0, 10).toDF("id", "name", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(ManifestFileSink.deleteWhere(dir, In("id", Array(3L, 4L))) === 2)
    val file = ManifestFileSink.Snapshot(dir).visible.head._1
    overwrite(dir, pushRows(1, 5))
    assert(dvLines(dir, ManifestFileSink.latestManifest(dir).get) ===
      Set((file, "8", "0-2,5-9")))
    assert(ManifestFileSink.Snapshot(dir).dvs(file).toSeq === (0L until 10L))
    assert(read(dir) === pushRows(1, 5))
  }

  test("scan statistics count the bytes of files with live rows only") {
    val dir = freshDir()
    Seq(300, 500, 700).zipWithIndex.foreach { case (n, k) => overwrite(dir, pushRows(k, n)) }
    val live = entries(dir, ManifestFileSink.latestManifest(dir).get).map(_._1)
    val liveBytes = live.map(f => Files.size(Paths.get(dir, "data", f))).sum
    val stats = spark.read.format(fmt).option("path", dir).load()
      .queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats
      }.get
    assert(stats.sizeInBytes === BigInt(liveBytes))
    assert(stats.rowCount === Some(BigInt(700)))
  }

  test("every always-true door retracts without a match job; a real filter still scans") {
    val root = Files.createTempDirectory("graft-ow-cat").toString
    spark.conf.set("spark.sql.catalog.graftow", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftow.root", root)
    val path = s"$root/db/t"
    def ids(): Seq[Long] =
      spark.sql("SELECT id FROM graftow.db.t").collect().map(_.getLong(0)).toSeq.sorted
    spark.sql("CREATE TABLE graftow.db.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graftow.db.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")

    assert(jobsDuring(spark.sql("INSERT OVERWRITE graftow.db.t VALUES (4, 4.0), (5, 5.0)")) === 1)
    assert(ids() === Seq(4L, 5L))
    assert(jobsDuring(spark.sql("DELETE FROM graftow.db.t")) === 0)
    assert(ids() === Nil)
    spark.sql("INSERT INTO graftow.db.t VALUES (6, 6.0)")
    assert(jobsDuring(spark.sql("TRUNCATE TABLE graftow.db.t")) === 0)
    assert(ids() === Nil)

    import spark.implicits._
    spark.sql("INSERT INTO graftow.db.t VALUES (7, 7.0)")
    val src = Seq((8L, 8.0), (9L, 9.0)).toDF("id", "v")
    assert(jobsDuring(ManifestFileSink.replaceWhere(path, AlwaysTrue(), src)) === 1)
    assert(ids() === Seq(8L, 9L))
    assert(jobsDuring(ManifestFileSink.deleteWhere(path,
      Or(AlwaysTrue(), And(AlwaysTrue(), AlwaysTrue())))) === 0)
    assert(ids() === Nil)

    spark.sql("INSERT INTO graftow.db.t VALUES (10, 10.0), (11, 11.0)")
    assert(jobsDuring(ManifestFileSink.deleteWhere(path, EqualTo("id", 10L))) === 1,
      "a predicate that reads a column still runs the match scan")
    assert(ids() === Seq(11L))
    assert(jobsDuring(spark.sql(
      "REPLACE TABLE graftow.db.t AS SELECT CAST(id AS BIGINT) AS id FROM range(3)")) === 1)
    assert(ids() === Seq(0L, 1L, 2L))
  }

  test("isAlwaysTrue accepts AlwaysTrue trees only") {
    import org.apache.spark.sql.sources.{AlwaysFalse, Not}
    val t = AlwaysTrue()
    assert(ManifestFileSink.isAlwaysTrue(t))
    assert(ManifestFileSink.isAlwaysTrue(And(t, t)))
    assert(ManifestFileSink.isAlwaysTrue(Or(t, And(t, t))))
    assert(!ManifestFileSink.isAlwaysTrue(And(t, EqualTo("id", 1L))))
    assert(!ManifestFileSink.isAlwaysTrue(Or(t, EqualTo("id", 1L))),
      "the shape test is conservative: any column leaf takes the scan")
    assert(!ManifestFileSink.isAlwaysTrue(Not(AlwaysFalse())))
    assert(!ManifestFileSink.isAlwaysTrue(AlwaysFalse()))
  }
}
