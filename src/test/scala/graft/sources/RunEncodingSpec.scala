package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.sources.In
import graft.SparkTestBase

/** Deletion-vector positions are written as inclusive runs (`0-39999`,
  * `3,7-9`); a bare position is a one-element run, so manifests written
  * in the older plain comma-list form read unchanged. */
class RunEncodingSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def roundTrip(ps: Array[Long]): Array[Long] =
    ManifestFileSink.decodeRuns(ManifestFileSink.encodeRuns(ps))

  test("encode/decode round trip: empty, single positions, runs and a mix") {
    val cases = Seq(
      Array.empty[Long] -> "",
      Array(5L) -> "5",
      Array(0L, 1L) -> "0-1",
      (0L until 40000L).toArray -> "0-39999",
      Array(3L, 7L, 8L, 9L, 12L, 14L, 15L) -> "3,7-9,12,14-15",
      Array(0L, 2L, 4L) -> "0,2,4")
    cases.foreach { case (ps, enc) =>
      assert(ManifestFileSink.encodeRuns(ps) === enc)
      assert(roundTrip(ps).toSeq === ps.toSeq)
    }
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val ps = (0L until 500L).filter(_ => rnd.nextInt(3) > 0).toArray
      assert(roundTrip(ps).toSeq === ps.toSeq)
    }
    // The older plain comma list is the same grammar.
    assert(ManifestFileSink.decodeRuns("3,7,8,9,12").toSeq === Seq(3L, 7L, 8L, 9L, 12L))
  }

  test("per-file union of overlapping deltas is sorted and distinct") {
    val u = ManifestFileSink.unionPositions(Seq(
      "f" -> Array(5L, 1L), "g" -> Array(2L), "f" -> Array(1L, 3L)))
    assert(u.view.mapValues(_.toSeq).toMap === Map("f" -> Seq(1L, 3L, 5L), "g" -> Seq(2L)))
  }

  test("a manifest hand-written in the old comma-list form reads the same rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-runs").toString
    (0L until 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(ManifestFileSink.deleteWhere(dir, In("id", Array(2L, 3L, 4L, 7L))) === 4)
    def ids(): Seq[Long] = spark.read.format(fmt).option("path", dir).load()
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val expected = Seq(0L, 1L, 5L, 6L, 8L, 9L)
    assert(ids() === expected)
    val dvsBefore = ManifestFileSink.deleteVectors(dir).view.mapValues(_.toSeq).toMap

    val m = Paths.get(dir, ManifestFileSink.latestManifest(dir).get)
    val lines = Files.readAllLines(m).asScala.toSeq
    val dv = lines.filter(_.startsWith(ManifestFileSink.DvMarker + "\t"))
    assert(dv.size === 1)
    assert(dv.head.split("\t")(3) === "2-4,7", "new vectors are written as runs")
    Files.write(m, lines.map { l =>
      if (l == dv.head) l.split("\t").take(3).mkString("\t") + "\t2,3,4,7" else l
    }.asJava)
    assert(ids() === expected)
    assert(ManifestFileSink.deleteVectors(dir).view.mapValues(_.toSeq).toMap === dvsBefore)
  }

  test("weighted change feed across a full overwrite: every old image at -1") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-runs-wcf").toString
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "score")
      .coalesce(1).write.format(fmt).option("path", dir).mode("append").save()
    val resume = ManifestFileSink.latestManifest(dir).get
    Seq((4L, "d", 4.0)).toDF("id", "name", "score")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val rows = spark.read.format(fmt).option("path", dir)
      .option("changeFeedWeights", "true").option("sinceManifest", resume).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
    assert(rows.toSeq === Seq(
      (1L, "a", 1.0, -1), (2L, "b", 2.0, -1), (3L, "c", 3.0, -1), (4L, "d", 4.0, 1)))
  }
}
