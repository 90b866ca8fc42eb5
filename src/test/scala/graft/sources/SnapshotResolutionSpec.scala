package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.In
import graft.SparkTestBase

/** One read per manifest: a query resolves the table's
  * [[ManifestFileSink.Snapshot]] once and every planning step reads it, a
  * commit and a maintenance verb list the table once. Opens are counted in
  * the one manifest reader ([[ManifestFileSink.manifestReads]]) over a
  * table of N one-row appends, i.e. N manifests. A read pays the load
  * door's `inferSchema` (N headers + the newest DDL) plus one scan
  * resolution (N whole manifests): at most 2N + 2. */
class SnapshotResolutionSpec extends SparkTestBase {

  private val N = 24

  private def fmt = classOf[ManifestFileSink].getName

  private def append(dir: String, id: Long): Unit = {
    import spark.implicits._
    Seq((id, s"r$id")).toDF("id", "name")
      .write.format(fmt).option("path", dir).mode("append").save()
  }

  /** A fresh table of `n` one-row appends, ids 0 until n. */
  private def table(n: Int): String = {
    val dir = Files.createTempDirectory("graft-snap").toString
    (0 until n).foreach(i => append(dir, i.toLong))
    dir
  }

  private def load(dir: String, asOf: Option[String] = None): DataFrame = {
    val r = spark.read.format(fmt).option("path", dir)
    asOf.fold(r)(m => r.option("asOfManifest", m)).load()
  }

  /** Manifest opens while `body` runs, with its result. */
  private def opens[T](body: => T): (Long, T) = {
    val before = ManifestFileSink.manifestReads.get()
    val out = body
    (ManifestFileSink.manifestReads.get() - before, out)
  }

  private val bound = 2L * N + 2

  test("count, point lookup and time-travel count each open at most 2N + 2 manifests") {
    val dir = table(N)
    assert(ManifestFileSink.publishedManifestCount(dir) === N)

    val (c, n) = opens(load(dir).count())
    assert(n === N)
    assert(c <= bound, s"count opened $c manifests (N = $N)")
    info(s"count: $c opens")

    val (l, rows) = opens(load(dir).filter(col("id") === 7L).collect().toSeq)
    assert(rows.map(r => (r.getLong(0), r.getString(1))) === Seq((7L, "r7")))
    assert(l <= bound, s"point lookup opened $l manifests (N = $N)")
    info(s"point lookup: $l opens")

    val tenth = ManifestFileSink.Snapshot.headers(dir).published(9).name
    val (a, past) = opens(load(dir, Some(tenth)).count())
    assert(past === 10)
    assert(a <= bound, s"asOfManifest count opened $a manifests (N = $N)")
    info(s"asOfManifest count: $a opens")
  }

  test("stableManifest opens at most N manifests, an append at most 2N + 2") {
    val dir = table(N)
    val (s, stable) = opens(ManifestFileSink.stableManifest(dir))
    assert(stable === ManifestFileSink.latestManifest(dir))
    assert(s <= N, s"stableManifest opened $s manifests (N = $N)")
    info(s"stableManifest: $s opens")

    val (w, _) = opens(append(dir, N.toLong))
    assert(ManifestFileSink.publishedManifestCount(dir) === N + 1)
    assert(w <= bound, s"append opened $w manifests (N = $N)")
    info(s"append: $w opens")
  }

  test("a second count on one DataFrame sees the commit that landed in between") {
    val dir = table(N)
    val df = load(dir)
    assert(df.count() === N)
    append(dir, N.toLong)
    assert(df.count() === N + 1)
  }

  test("a metadata-answered count after a DELETE stays exact") {
    val dir = table(N)
    assert(ManifestFileSink.deleteWhere(dir, In("id", Array(1L, 2L, 3L))) === 3)
    assert(ManifestFileSink.Snapshot(dir).dvs.values.map(_.length).sum === 3)
    val df = load(dir)
    assert(df.groupBy().count().queryExecution.executedPlan.toString
      .contains("metadata-answered"), "the count is answered from the manifests")
    val (c, n) = opens(df.count())
    assert(n === N - 3)
    // N appends plus the delete commit.
    assert(c <= 2L * (N + 1) + 2, s"count opened $c manifests (N + 1 = ${N + 1})")
    info(s"count over deletion vectors, schema already inferred: $c opens")
  }
}
