package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

/** Write-audit-publish (the Iceberg `wap.id` → cherry-pick flow) over
  * staged commits: an append under `.option("wap-id", x)` is INVISIBLE
  * to every main-line reader until `CALL graft.system.wap_publish`
  * cherry-picks it; `VERSION AS OF 'wap:x'` is the audit view (main +
  * stage); `wap_discard` removes stage and data. Staging is
  * append-only — overwrites refuse — so publish is sound no matter how
  * far main advanced while the audit ran. */
class WapSpec extends SparkTestBase {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-wap").toString
    spark.conf.set("spark.sql.catalog.gwap", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwap.root", r)
    r
  }

  test("stage → audit → publish: invisible, then auditable, then live in order") {
    root
    spark.sql("CREATE TABLE gwap.db.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gwap.db.t VALUES (1, 1.5), (2, 2.5)")

    // Stage two commits under one WAP id.
    import spark.implicits._
    Seq((10L, 10.5), (11L, 11.5)).toDF("id", "v")
      .writeTo("gwap.db.t").option("wap-id", "batch7").append()
    Seq((12L, 12.5)).toDF("id", "v")
      .writeTo("gwap.db.t").option("wap-id", "batch7").append()

    // Main line: staged rows invisible — to queries AND to maintenance.
    assert(spark.table("gwap.db.t").count() == 2,
      "staged commits leaked into the main line")
    val path = s"$root/db/t"
    assert(ManifestFileSink.Snapshot.headers(path).stagedIds == Seq("batch7"))
    // The operability listing sees the stage: 2 commits, 3 rows.
    val stages = spark.sql("CALL gwap.system.wap_stages(table => 'db.t')").collect()
    assert(stages.length == 1 && stages.head.getString(0) == "batch7" &&
      stages.head.getLong(1) == 2 && stages.head.getLong(2) == 3)

    // Audit view: main + stage, read-only.
    val audit = spark.read.option("versionAsOf", "wap:batch7").table("gwap.db.t")
    assert(audit.count() == 5, "audit view must see base + staged rows")

    // A concurrent main-line commit lands while the audit runs.
    spark.sql("INSERT INTO gwap.db.t VALUES (3, 3.5)")
    assert(spark.table("gwap.db.t").count() == 3)

    // Publish: both staged commits cherry-pick onto the advanced main.
    val published = spark.sql(
      "CALL gwap.system.wap_publish(table => 'db.t', id => 'batch7')")
      .head().getInt(0)
    assert(published == 2)
    assert(spark.table("gwap.db.t").count() == 6)
    assert(ManifestFileSink.Snapshot.headers(path).stagedIds.isEmpty)
    assert(spark.table("gwap.db.t").select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 10L, 11L, 12L))

    // Publish is not replayable: the stage is gone.
    val err = intercept[Exception] {
      spark.sql("CALL gwap.system.wap_publish(table => 'db.t', id => 'batch7')").collect()
    }
    assert(err.getMessage.contains("no staged commits"))
  }

  test("discard removes the stage and its data files; typo'd audit id fails loudly") {
    root
    spark.sql("CREATE TABLE gwap.db.d (id BIGINT)")
    spark.sql("INSERT INTO gwap.db.d VALUES (1)")
    import spark.implicits._
    Seq(100L, 101L).toDF("id").writeTo("gwap.db.d").option("wap-id", "no").append()
    val path = s"$root/db/d"
    val dataBefore = new java.io.File(path, "data").listFiles().length

    val discarded = spark.sql(
      "CALL gwap.system.wap_discard(table => 'db.d', id => 'no')").head().getInt(0)
    assert(discarded == 1)
    assert(ManifestFileSink.Snapshot.headers(path).stagedIds.isEmpty)
    assert(new java.io.File(path, "data").listFiles().length < dataBefore,
      "the discarded stage's data files must be reclaimed")
    assert(spark.table("gwap.db.d").count() == 1)

    val err = intercept[Exception] {
      spark.read.option("versionAsOf", "wap:nope").table("gwap.db.d").count()
    }
    assert(err.getMessage.contains("no staged commits under WAP id 'nope'"))
  }

  test("staged STREAMING backfill: epochs invisible, audit sees them, publish in order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    root
    spark.sql("CREATE TABLE gwap.db.s (id BIGINT)")
    spark.sql("INSERT INTO gwap.db.s VALUES (1)")
    val path = s"$root/db/s"

    // Two epochs of a staged stream — the blue/green backfill.
    val in = MemoryStream[Long]
    val q = in.toDF().select($"value".as("id"))
      .writeStream.format(classOf[ManifestFileSink].getName)
      .option("path", path).option("wap-id", "bg1")
      .option("checkpointLocation",
        Files.createTempDirectory("gwap-s").toString)
      .start()
    in.addData(10L, 11L); q.processAllAvailable()
    in.addData(12L); q.processAllAvailable()
    q.stop()

    // Invisible to the main line; visible to the audit view.
    assert(spark.table("gwap.db.s").count() == 1,
      "staged streaming epochs leaked into the main line")
    assert(ManifestFileSink.Snapshot.headers(path).stagedIds == Seq("bg1"))
    assert(spark.read.option("versionAsOf", "wap:bg1").table("gwap.db.s")
      .count() == 4)

    // A main-line commit lands mid-audit; publish still lands cleanly.
    spark.sql("INSERT INTO gwap.db.s VALUES (2)")
    val n = spark.sql("CALL gwap.system.wap_publish(table => 'db.s', id => 'bg1')")
      .head().getInt(0)
    assert(n == 2, s"expected 2 published epoch commits, got $n")
    assert(spark.table("gwap.db.s").orderBy("id").as[Long].collect().toSeq ===
      Seq(1L, 2L, 10L, 11L, 12L))
    assert(ManifestFileSink.Snapshot.headers(path).stagedIds.isEmpty)
  }

  test("WAP refuses non-append writes") {
    root
    spark.sql("CREATE TABLE gwap.db.r (id BIGINT)")
    spark.sql("INSERT INTO gwap.db.r VALUES (1)")
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(9L).toDF("id").writeTo("gwap.db.r").option("wap-id", "x")
        .overwrite(org.apache.spark.sql.functions.lit(true))
    }
    assert(err.getMessage.contains("appends only"))
    // And the refusal left nothing behind — no stage, no main-line change.
    assert(ManifestFileSink.Snapshot.headers(s"$root/db/r").stagedIds.isEmpty)
    assert(spark.table("gwap.db.r").count() == 1)
  }
}
