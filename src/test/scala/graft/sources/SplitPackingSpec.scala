package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In
import graft.SparkTestBase

/** Byte-sized scan splits: a table of many small commits reads in about
  * one task per core ([[FileGroup.pack]], Spark's file-source rule), not
  * one task per file, while every per-file property — deletion vectors,
  * the DDL a file was written under, the change-feed weight, `_file` and
  * `_pos` — still holds file by file inside a packed task. */
class SplitPackingSpec extends SparkTestBase {

  import spark.implicits._

  private def fmt = classOf[ManifestFileSink].getName

  /** 48 appends of one to three rows each, one file per append; ids
    * 0..95 in commit order. Returns the table dir and each file's ids. */
  private def smallCommits(): (String, Seq[Seq[Long]]) = {
    val dir = Files.createTempDirectory("graft-pack").toString
    var next = 0L
    val files = (0 until 48).map { i =>
      val batch = (0 until 1 + i % 3).map(_ => { next += 1; next - 1 })
      batch.map(id => (id, s"n$id")).toDF("id", "name").coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
      batch
    }
    (dir, files)
  }

  private lazy val plain = smallCommits()

  private def load(dir: String): DataFrame =
    spark.read.format(fmt).option("path", dir).load()

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head

  private def groupsOf(df: DataFrame): Seq[Seq[FileSplit]] =
    scanOf(df).inputRDD.partitions.toSeq.collect {
      case p: DataSourceRDDPartition => p.inputPartitions.collect {
        case g: FileGroup => g.files
      }.flatten
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def noAqe[T](body: => T): T = withConf("spark.sql.adaptive.enabled" -> "false")(body)

  test("48 small commits plan at most 3 tasks per core and read every row once") {
    val (dir, files) = plain
    noAqe {
      val df = load(dir).select("id")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === files.flatten)
      val scan = scanOf(df)
      val cap = spark.sparkContext.defaultParallelism * 3
      assert(scan.inputRDD.getNumPartitions <= cap,
        s"${scan.inputRDD.getNumPartitions} partitions for 48 files (cap $cap)")
      assert(scan.metrics("filesRead").value === 48)
      assert(PlannedFiles.of(scan) === 48)
      assert(groupsOf(df).flatten.map(_.file).sorted ===
        ManifestFileSink.Snapshot(dir).visible.map(_._1).sorted)
    }
  }

  test("_file/_pos name each row's own file and line inside a packed task") {
    val (dir, files) = plain
    val ids = files.flatten
    val rows = load(dir).select(col("id"), col("_file"), col("_pos")).collect()
    assert(rows.length === ids.size)
    rows.foreach { r =>
      val lines = Files.readAllLines(Paths.get(dir, "data", r.getString(1))).asScala
      assert(lines(r.getLong(2).toInt).split("\t")(0) === r.getLong(0).toString,
        s"row ${r.getLong(0)} is not at ${r.getString(1)}:${r.getLong(2)}")
    }
  }

  test("LIMIT and top-N pushdown return correct rows over packed files") {
    val (dir, files) = plain
    val ids = files.flatten
    val some = load(dir).limit(5).collect().map(_.getLong(0))
    assert(some.length === 5 && some.distinct.length === 5 && some.forall(ids.contains))
    assert(load(dir).orderBy(col("id")).limit(7).collect().map(_.getLong(0)).toSeq ===
      ids.sorted.take(7))
    assert(load(dir).orderBy(col("id").desc).limit(4).collect().map(_.getLong(0)).toSeq ===
      ids.sorted.reverse.take(4))
  }

  test("deletion vectors skip exactly the deleted rows; fully deleted files are not read") {
    val (dir, files) = smallCommits()
    val ids = files.flatten
    // Every 7th id, and the whole first two files (1 row, then 2 rows).
    val dead = (ids.filter(_ % 7 == 3) ++ Seq(0L, 1L, 2L)).distinct
    ManifestFileSink.deleteWhere(dir, In("id", dead.toArray[Any]))
    val live = files.filterNot(_.forall(dead.contains))
    assert(live.size < 46, "fixture: some 1-row files hold a 7th id")
    noAqe {
      val df = load(dir).select("id")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === ids.filterNot(dead.contains))
      val m = scanOf(df).metrics
      assert(m("filesRead").value === live.size)
      // Fully deleted files are never opened, so their rows are not skipped.
      assert(m("dvRowsSkipped").value === live.flatten.count(dead.contains))
      assert(scanOf(df).inputRDD.getNumPartitions <= spark.sparkContext.defaultParallelism * 3)
    }
  }

  test("files of two schemas backfill NULL, also when packed into one task") {
    val dir = Files.createTempDirectory("graft-pack-evo").toString
    (0 until 48).foreach { i =>
      val rows = (0 until 1 + i % 3).map(j => i * 3L + j)
      if (i < 24) rows.map(id => (id, s"n$id")).toDF("id", "name").coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
      else rows.map(id => (id, s"n$id", id * 0.5)).toDF("id", "name", "score").coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    val expected = (0 until 48).flatMap { i =>
      (0 until 1 + i % 3).map { j =>
        val id = i * 3L + j
        (id, s"n$id", if (i < 24) None else Some(id * 0.5))
      }
    }
    def read(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1).toSeq
    noAqe {
      assert(read(load(dir)) === expected)
      // One core's worth: the 32 largest of the 48 files share the first
      // task, so both schemas meet in it.
      withConf("spark.sql.files.minPartitionNum" -> "1") {
        val df = load(dir)
        assert(read(df) === expected)
        val ddls = groupsOf(df).map(_.map(_.ddl).distinct.size)
        assert(ddls.exists(_ == 2), s"no task mixes both schemas: $ddls")
      }
    }
  }

  test("a weighted sinceManifest feed packs +1 and -1 files and keeps every weight") {
    val (dir, files) = smallCommits()
    val ids = files.flatten
    val resume = ManifestFileSink.latestManifest(dir).get
    val appended = 1000L until 1010L
    appended.foreach(id => Seq((id, s"n$id")).toDF("id", "name").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save())
    // Deletes before the resume point and of an appended row: the feed
    // reads appended files as committed (+1) and each deleted row's
    // image back from its file's vector (-1).
    val dead = ids.filter(_ % 5 == 0) :+ 1003L
    ManifestFileSink.deleteWhere(dir, In("id", dead.toArray[Any]))
    val expected = (appended.map(_ -> 1) ++ dead.map(_ -> -1)).sorted
    noAqe {
      val feed = spark.read.format(fmt).option("path", dir)
        .option("changeFeedWeights", "true").option("sinceManifest", resume).load()
      val got = feed.select(col("id"), col("_change_weight")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(got === expected)
      val groups = groupsOf(feed)
      assert(groups.exists(g => g.exists(_.weight < 0) && g.exists(_.weight > 0)),
        "no task mixes +1 and -1 files")
      assert(groups.size < groups.flatten.size,
        s"${groups.size} tasks for ${groups.flatten.size} files")
    }
  }

  test("a streaming micro-batch packs its commits' files") {
    val (dir, files) = plain
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val ck = Files.createTempDirectory("graft-pack-ck").toString
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.add((b.rdd.getNumPartitions, b.count())); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = seen.asScala.toSeq.filter(_._2 > 0)
    assert(batches.map(_._2).sum === files.flatten.size)
    assert(batches.forall(_._1 <= spark.sparkContext.defaultParallelism * 3), s"$batches")
  }

  test("a few large files keep one task each") {
    val dir = Files.createTempDirectory("graft-pack-big").toString
    (0 until 4).foreach { b =>
      (b * 5000L until (b + 1) * 5000L).map(id => (id, s"name_$id")).toDF("id", "name")
        .coalesce(1).write.format(fmt).option("path", dir).mode("append").save()
    }
    noAqe {
      val df = load(dir)
      assert(df.count() === 20000L)
      val groups = groupsOf(df.select("id", "name"))
      assert(groups.size === 4 && groups.forall(_.size == 1), s"$groups")
    }
  }
}
