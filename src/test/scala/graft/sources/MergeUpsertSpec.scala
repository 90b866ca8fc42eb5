package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Atomic MERGE (upsert) on the manifest table: matched keys replaced and
  * new keys inserted in ONE commit — deletion vectors and new data files
  * in the same manifest, snapshot-atomic, time-travelable, and visible to
  * the weighted change feed as one z-set window. */
/** Cross-thread sync for the schema-fence race test — a top-level object
  * so the executor-side closure references it statically instead of
  * capturing a (non-serializable) latch. */
object MergeFenceSync {
  val started = new java.util.concurrent.CountDownLatch(1)
  val evolved = new java.util.concurrent.CountDownLatch(1)
}

class MergeUpsertSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def freshDir(): String =
    Files.createTempDirectory("graft-merge").toString

  private def append(dir: String, rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("id", "name", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
  }

  private def state(dir: String): Seq[(Long, String, Double)] =
    spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)

  test("merge replaces matched keys and inserts new ones in one commit") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val preMerge = ManifestFileSink.latestManifest(dir).get

    val batch = Seq((2L, "b2", 22.0), (4L, "d", 4.0)).toDF("id", "name", "score")
    val (retracted, inserted) = ManifestFileSink.mergeUpsert(dir, batch, "id")
    assert((retracted, inserted) === (1L, 2L))
    assert(state(dir) === Seq((1L, "a", 1.0), (2L, "b2", 22.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    assert(ManifestFileSink.manifests(dir).size === 2, "the merge is ONE commit")
    // Time travel: the pre-merge snapshot still has the old image.
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", preMerge).load()
      .where("id = 2").collect().map(_.getString(1)).toSeq === Seq("b"))
  }

  test("merge into an empty table is a plain atomic insert") {
    import spark.implicits._
    val dir = freshDir()
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val (retracted, inserted) = ManifestFileSink.mergeUpsert(
      dir, Seq((1L, "a", 1.0)).toDF("id", "name", "score"), "id")
    assert((retracted, inserted) === (0L, 1L))
    assert(state(dir) === Seq((1L, "a", 1.0)))
  }

  test("repeated merge of the same batch converges (replace, not accumulate)") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0)))
    val batch = Seq((1L, "a9", 9.0)).toDF("id", "name", "score")
    assert(ManifestFileSink.mergeUpsert(dir, batch, "id") === ((1L, 1L)))
    assert(ManifestFileSink.mergeUpsert(dir, batch, "id") === ((1L, 1L)))
    assert(state(dir) === Seq((1L, "a9", 9.0)), "second merge re-replaced, state stable")
  }

  test("the weighted change feed sees a merge as one z-set window") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val resume = ManifestFileSink.latestManifest(dir).get
    ManifestFileSink.mergeUpsert(
      dir, Seq((2L, "b2", 22.0), (3L, "c", 3.0)).toDF("id", "name", "score"), "id")
    val feed = spark.read.format(fmt).option("path", dir)
      .option("changeFeedWeights", "true").option("sinceManifest", resume).load()
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
      .sortBy(r => (r._1, r._3))
    assert(feed.toSeq === Seq((2L, 2.0, -1), (2L, 22.0, 1), (3L, 3.0, 1)),
      "old image retracted, new image + insert at +1")
  }

  test("a multi-partition source batch merges distributed, zero driver data-file reads") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, (1L to 100L).map(i => (i, s"n$i", i * 1.0)))
    val before = ManifestFileSink.driverMatchFileReads.get()
    val batch = (50L to 149L).map(i => (i, s"m$i", i * 2.0))
      .toDF("id", "name", "score").repartition(4)
    val (retracted, inserted) = ManifestFileSink.mergeUpsert(dir, batch, "id")
    assert((retracted, inserted) === (51L, 100L))
    val st = state(dir)
    assert(st.size === 149)
    assert(st.filter(_._1 >= 50L).forall(_._2.startsWith("m")), "matched keys replaced")
    assert(st.filter(_._1 < 50L).forall(_._2.startsWith("n")), "unmatched keys untouched")
    assert(ManifestFileSink.manifests(dir).size === 2, "still ONE commit")
    assert(ManifestFileSink.driverMatchFileReads.get() === before,
      "the retraction semi-join must run executor-side — no data file on the driver")
  }

  test("merge refuses when the schema evolves between its write job and its commit") {
    import spark.implicits._
    val dir = freshDir()
    append(dir, Seq((1L, "a", 1.0)))
    // A concurrent writer lands a schema-evolving commit WHILE the merge's
    // distributed write job is running (i.e. before the merge takes the
    // commit lock): the merge's files carry the old layout, so publishing
    // them under the new DDL would misalign columns — it must refuse.
    val evolver = new Thread(() => {
      MergeFenceSync.started.await()
      Seq((9L, "z", 9.0, true)).toDF("id", "name", "score", "flag").coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
      MergeFenceSync.evolved.countDown()
    })
    evolver.start()
    val batch = Seq((1L, "a2", 2.0)).toDF("id", "name", "score")
      .as[(Long, String, Double)]
      .mapPartitions { it =>
        MergeFenceSync.started.countDown()
        MergeFenceSync.evolved.await()
        it
      }.toDF("id", "name", "score")
    val err = intercept[IllegalStateException] {
      ManifestFileSink.mergeUpsert(dir, batch, "id")
    }
    evolver.join()
    assert(err.getMessage.contains("schema evolved during merge"))
    assert(spark.read.format(fmt).option("path", dir).load().count() === 2,
      "refused merge publishes nothing; the evolving commit's row is visible")
  }

  test("merge after purge and over evolved files still matches by key") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a")).toDF("id", "name").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    Seq((2L, "b", 2.0)).toDF("id", "name", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    val (retracted, inserted) = ManifestFileSink.mergeUpsert(
      dir, Seq((1L, "a2", 11.0)).toDF("id", "name", "score"), "id")
    assert((retracted, inserted) === (1L, 1L))
    assert(state(dir) === Seq((1L, "a2", 11.0), (2L, "b", 2.0)))
    // Maintenance pipeline over the merge: migrate old-schema files, then
    // purge — the migrated file's single row was retracted, so it drops.
    assert(ManifestFileSink.migrateSchema(dir) === 1)
    assert(ManifestFileSink.applyDeletes(dir) === 1)
    assert(state(dir) === Seq((1L, "a2", 11.0), (2L, "b", 2.0)))
  }

  test("merge keyed on a String column retracts every matched key") {
    import spark.implicits._
    val dir = freshDir()
    // One file per key. U+FF21 sorts below U+1F600 in UTF-8 byte order
    // (the zone maps' order) but above it in UTF-16 code-unit order.
    Seq((1L, "a", 1.0), (2L, "\uFF21x", 2.0), (3L, "\uD83D\uDE00y", 3.0))
      .foreach(r => append(dir, Seq(r)))
    // Two source files, so the key range folds across files.
    val batch = spark.sparkContext
      .parallelize(Seq((12L, "\uFF21x", 12.0), (13L, "\uD83D\uDE00y", 13.0)), 2)
      .toDF("id", "name", "score")
    assert(batch.rdd.getNumPartitions === 2)
    assert(ManifestFileSink.mergeUpsert(dir, batch, "name") === ((2L, 2L)))
    assert(state(dir) === Seq((1L, "a", 1.0), (12L, "\uFF21x", 12.0),
      (13L, "\uD83D\uDE00y", 13.0)))
  }
}
