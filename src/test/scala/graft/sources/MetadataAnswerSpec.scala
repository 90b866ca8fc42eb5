package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A metadata-answered aggregate is planned as rows on the driver: every
  * action on it runs zero Spark jobs, counted by a SparkListener. Each
  * answer is checked against the truth scanned BEFORE the data files are
  * deleted, so the zero-job answer provably comes from manifest metadata.
  * A parent operator (a join or a union side) still gets the rows, through
  * one single-partition RDD. */
class MetadataAnswerSpec extends SparkTestBase with JobCounting {

  import spark.implicits._

  private def fmt = classOf[ManifestFileSink].getName

  private def load(path: String, asOf: Option[String] = None): DataFrame = {
    val r = spark.read.format(fmt).option("path", path)
    asOf.fold(r)(m => r.option("asOfManifest", m)).load()
  }

  private def append(path: String, from: Long, until: Long): Unit =
    spark.range(from, until)
      .select($"id", concat(lit("t-"), lpad($"id".cast("string"), 3, "0")).as("tag"),
        ($"id" % 3).as("g"))
      .coalesce(1)
      .write.format(fmt).option("path", path).mode("append").save()

  /** Three appends of 10 rows; returns the manifest of the first. */
  private def table(): (String, String) = {
    val path = Files.createTempDirectory("graft-metaans").toString
    append(path, 0, 10)
    val first = ManifestFileSink.latestManifest(path).get
    append(path, 10, 20)
    append(path, 20, 30)
    (path, first)
  }

  private def dropData(path: String): Unit = {
    val walk = Files.list(Paths.get(path, "data"))
    try walk.forEach(f => { Files.delete(f); () }) finally walk.close()
  }

  /** `action`'s result, asserting it started no Spark job. */
  private def noJob[T](what: String)(action: => T): T = {
    var out: Option[T] = None
    val jobs = jobsDuring { out = Some(action) }
    assert(jobs === 0, s"$what ran $jobs jobs")
    out.get
  }

  private def countN(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"))

  test("count, asOf count and min/max over zone maps run no job; answers equal the scan") {
    val (path, first) = table()
    val rows = load(path).collect()
    val ids = rows.map(_.getLong(0))
    val tags = rows.map(_.getString(1))
    val asOfRows = load(path, Some(first)).collect().length
    dropData(path)

    assert(noJob("count")(load(path).count()) === rows.length)
    assert(noJob("asOf count")(load(path, Some(first)).count()) === asOfRows)
    val mm = noJob("min/max")(load(path)
      .agg(min($"id"), max($"id"), min($"tag"), max($"tag")).head())
    assert(mm === Row(ids.min, ids.max, tags.min, tags.max))
  }

  test("partition-column GROUP BY runs no job") {
    val path = Files.createTempDirectory("graft-metaans-part").toString
    ManifestFileSink.setPartitionColumns(path, Seq("g"))
    append(path, 0, 30)
    val truth = load(path).collect().groupBy(_.getLong(2)).toSeq
      .map { case (g, rs) => Row(g, rs.length.toLong, rs.map(_.getLong(0)).max) }.sortBy(_.getLong(0))
    dropData(path)
    val got = noJob("grouped")(load(path).groupBy($"g")
      .agg(count(lit(1)).as("n"), max($"id").as("mx")).collect())
    assert(got.sortBy(_.getLong(0)).toSeq === truth)
  }

  test("COUNT(*) under deletion vectors runs no job") {
    val (path, _) = table()
    ManifestFileSink.deleteWhere(path,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 25L))
    val truth = load(path).collect().length
    assert(truth === 25)
    dropData(path)
    assert(noJob("count under deletion vectors")(load(path).count()) === truth)
  }

  test("SELECT count(*) through the catalog runs no job") {
    val root = Files.createTempDirectory("graft-metaans-cat").toString
    spark.conf.set("spark.sql.catalog.graftma", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftma.root", root)
    spark.sql("CREATE TABLE graftma.db.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graftma.db.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("INSERT INTO graftma.db.t VALUES (4, 4.0)")
    val truth = spark.sql("SELECT id FROM graftma.db.t").collect().length
    dropData(s"$root/db/t")
    val got = noJob("catalog count")(spark.sql("SELECT count(*) FROM graftma.db.t").collect())
    assert(got.toSeq === Seq(Row(truth.toLong)))
  }

  test("head, take, tail and collect return the rows without a job") {
    val path = Files.createTempDirectory("graft-metaans-act").toString
    ManifestFileSink.setPartitionColumns(path, Seq("g"))
    append(path, 0, 30)
    dropData(path)
    val one = countN(load(path))
    assert(noJob("head")(one.head()) === Row(30L))
    assert(noJob("take")(one.take(5)).toSeq === Seq(Row(30L)))
    assert(noJob("tail")(one.tail(1)).toSeq === Seq(Row(30L)))
    assert(noJob("collect")(one.collect()).toSeq === Seq(Row(30L)))
    // Three groups: take and tail cut the same row order collect returns.
    val grouped = load(path).groupBy($"g").agg(count(lit(1)).as("n"))
    val all = noJob("grouped collect")(grouped.collect()).toSeq
    assert(all.map(_.getLong(1)) === Seq(10L, 10L, 10L))
    assert(noJob("grouped take")(grouped.take(2)).toSeq === all.take(2))
    assert(noJob("grouped tail")(grouped.tail(2)).toSeq === all.takeRight(2))
  }

  test("a filter over the result keeps or drops its row without a job") {
    val (path, _) = table()
    dropData(path)
    assert(noJob("kept")(countN(load(path)).filter($"n" > 5).collect()).toSeq === Seq(Row(30L)))
    assert(noJob("dropped")(countN(load(path)).filter($"n" > 50).collect()).isEmpty)
    assert(noJob("projected")(countN(load(path)).select(($"n" * 2).as("m")).head()) === Row(60L))
  }

  test("as one side of a join or a union the rows flow through the parent") {
    val (path, _) = table()
    dropData(path)
    val agg = countN(load(path))
    val joined = Seq((30L, "thirty"), (31L, "other")).toDF("n", "name").join(agg, "n")
    assert(joined.collect().toSeq === Seq(Row(30L, "thirty")))
    val both = agg.union(load(path).agg(max($"id").as("n")))
    assert(both.collect().map(_.getLong(0)).sorted.toSeq === Seq(29L, 30L))
    assert(both.queryExecution.executedPlan.collect { case m: MetadataAnswerExec => m }.size === 2)
  }

  test("the plan names the metadata scan") {
    val (path, _) = table()
    val plan = countN(load(path)).queryExecution.executedPlan
    assert(plan.isInstanceOf[MetadataAnswerExec], plan.toString)
    assert(plan.toString.contains(s"ManifestAggScan($path, metadata-answered: "), plan.toString)
  }
}
