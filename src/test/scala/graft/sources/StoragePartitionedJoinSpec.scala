package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Storage-partitioned joins over identity-partitioned manifest tables:
  * `PARTITIONED BY (col)` makes writers demultiplex one data file per
  * partition value, the scan derives each file's value from its zone map
  * (min == max) and reports `KeyGroupedPartitioning`, and two tables
  * partitioned on the join key sort-merge join with ZERO exchanges —
  * the DSv2 answer to bucketed layout. Degradation is part of the
  * contract: any file that cannot prove single-valuedness turns the
  * report off while results stay identical. */
class StoragePartitionedJoinSpec extends SparkTestBase {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-spj").toString
    spark.conf.set("spark.sql.catalog.gspj", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspj.root", r)
    r
  }

  private val sf = "/root/testdata/sf0.001"

  private def withSpjConf[A](f: => A): A = {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("partitioned write splits one data file per partition value") {
    root
    spark.sql("CREATE TABLE gspj.spj.cust (c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE) PARTITIONED BY (c_nationkey)")
    spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .writeTo("gspj.spj.cust").append()
    val path = s"$root/spj/cust"
    val files = ManifestFileSink.Snapshot(path).visible.map(_._1)
    assert(files.nonEmpty)
    // every file holds exactly one c_nationkey value
    val df = spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load()
      .select(col("_file"), col("c_nationkey"))
      .groupBy(col("_file"))
      .agg(countDistinct(col("c_nationkey")).as("nv"))
    assert(df.filter(col("nv") =!= 1).count() === 0,
      "a partitioned table's data files must be single-valued")
    // and the clustered write distribution produced one file per value
    val nValues = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_nationkey").distinct().count()
    assert(files.size === nValues,
      s"clustered distribution should yield one file per value: ${files.size} vs $nValues")
  }

  test("co-partitioned tables join with zero exchanges; parity with plain join") {
    root
    spark.sql("CREATE TABLE gspj.spj.supp (s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE) PARTITIONED BY (s_nationkey)")
    spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_nationkey", "s_acctbal")
      .writeTo("gspj.spj.supp").append()

    withSpjConf {
      val joined = spark.table("gspj.spj.cust")
        .join(spark.table("gspj.spj.supp"),
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("c_acctbal") + col("s_acctbal")).as("tot"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join in:\n$plan")
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"storage-partitioned join must not shuffle either side:\n$plan")

      val plain = spark.read.parquet(s"$sf/customer.parquet")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .join(spark.read.parquet(s"$sf/supplier.parquet")
            .select("s_suppkey", "s_nationkey", "s_acctbal"),
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("c_acctbal") + col("s_acctbal")).as("tot"))
      // parquet stores c_nationkey as INT32; the catalog column is BIGINT —
      // compare values, not boxed types
      val got = joined.orderBy("c_nationkey").collect().toSeq
      val want = plain.orderBy("c_nationkey").collect().toSeq
      assert(got.map(r => (r.get(0).toString, r.getLong(1))) ===
        want.map(r => (r.get(0).toString, r.getLong(1))))
    }
  }

  test("row-level deletes keep SPJ and keep results exact") {
    root
    withSpjConf {
      spark.sql("DELETE FROM gspj.spj.cust WHERE c_custkey % 3 = 0")
      val joined = spark.table("gspj.spj.cust")
        .join(spark.table("gspj.spj.supp"),
          col("c_nationkey") === col("s_nationkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange"),
        s"deletion vectors must not break the partitioning claim:\n$plan")
      val plain = spark.read.parquet(s"$sf/customer.parquet")
        .filter(col("c_custkey") % 3 =!= 0)
        .join(spark.read.parquet(s"$sf/supplier.parquet"),
          col("c_nationkey") === col("s_nationkey"))
        .count()
      assert(joined.head().getLong(0) === plain)
    }
  }

  test("partitioned CTAS joins shuffle-free; plain RTAS un-declares the layout") {
    root
    spark.sql(
      """CREATE TABLE gspj.spj.nat PARTITIONED BY (k) AS
        |SELECT CAST(id % 3 AS BIGINT) AS k, id AS payload FROM range(30)""".stripMargin)
    spark.sql(
      """CREATE TABLE gspj.spj.natdim PARTITIONED BY (k) AS
        |SELECT CAST(id AS BIGINT) AS k, CAST(id * 100 AS BIGINT) AS w FROM range(3)""".stripMargin)
    withSpjConf {
      val j = spark.table("gspj.spj.nat").join(spark.table("gspj.spj.natdim"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"partitioned CTAS output must join shuffle-free:\n$p")
      assert(j.count() === 30)
    }
    // REPLACE without PARTITIONED BY defines the whole table: the layout
    // declaration goes away with the old rows.
    spark.sql("REPLACE TABLE gspj.spj.nat AS SELECT CAST(id AS BIGINT) AS k FROM range(5)")
    assert(ManifestFileSink.partitionColumn(s"$root/spj/nat").isEmpty,
      "an unpartitioned RTAS must drop the _partition declaration")
    assert(spark.table("gspj.spj.nat").count() === 5)
  }

  test("streaming writes demultiplex too: SPJ survives a writeStream epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    root
    spark.sql("CREATE TABLE gspj.spj.str (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    val path = s"$root/spj/str"
    val in = MemoryStream[Long]
    in.addData(0L until 20L: _*)
    val q = in.toDF().select(($"value" % 2).as("k"), $"value".as("v"))
      .coalesce(1) // one task carrying BOTH partition values
      .writeStream.format(classOf[ManifestFileSink].getName)
      .option("path", path)
      .option("checkpointLocation", Files.createTempDirectory("gspj-ck").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val perFile = spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load()
      .groupBy(col("_file")).agg(countDistinct(col("k")).as("nv"))
    assert(perFile.count() === 2 && perFile.filter(col("nv") =!= 1).count() === 0,
      "the streaming epoch must write one single-valued file per partition value")
    spark.sql("CREATE TABLE gspj.spj.dim2 (k BIGINT, d STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.dim2 VALUES (0, 'even'), (1, 'odd')")
    withSpjConf {
      val j = spark.table("gspj.spj.str")
        .join(spark.table("gspj.spj.dim2"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"stream-written partitioned table must keep SPJ:\n$p")
      assert(j.count() === 20)
    }
  }

  test("mismatched partition-value sets: joins stay exact, outer sides survive") {
    // The correctness corner of group-based SPJ: one side missing values
    // the other has. Spark either pads the missing groups
    // (pushPartValues) or falls back to exchanges — both legal; RESULTS
    // must be identical either way, including outer-join rows whose
    // partition value exists on only one side.
    root
    spark.sql("CREATE TABLE gspj.spj.ml (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("CREATE TABLE gspj.spj.mr (k BIGINT, w BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.ml SELECT CAST(id % 6 AS BIGINT), id FROM range(60)")
    // right side holds only the EVEN values
    spark.sql("INSERT INTO gspj.spj.mr SELECT CAST(id * 2 AS BIGINT), id * 100 FROM range(3)")
    withSpjConf {
      val inner = spark.table("gspj.spj.ml").join(spark.table("gspj.spj.mr"), "k")
      assert(inner.count() === 30, "10 left rows per matching even value × 3 values")
      val left = spark.table("gspj.spj.ml")
        .join(spark.table("gspj.spj.mr"), Seq("k"), "left_outer")
      assert(left.count() === 60, "left rows with odd k must survive unmatched")
      assert(left.filter(col("w").isNull).count() === 30)
    }
  }

  test("groupBy on the partition column aggregates without an exchange") {
    // KeyGroupedPartitioning satisfies the aggregate's clustered
    // distribution requirement too: a partitioned table's
    // GROUP BY <partition col> runs with NO shuffle at all.
    root
    withSpjConf {
      val agg = spark.table("gspj.spj.cust")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("c_acctbal")).as("tot"))
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"partition-keyed aggregate must reuse the storage partitioning:\n$p")
      val expect = spark.read.parquet(s"$sf/customer.parquet")
        .filter(col("c_custkey") % 3 =!= 0) // earlier delete test removed these
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(agg.count() === expect.count())
    }
  }

  // ---- round 11: multi-column identity partitioning ------------------

  test("two-column PARTITIONED BY demultiplexes one file per value PAIR") {
    root
    spark.sql("CREATE TABLE gspj.spj.mc (k BIGINT, sub STRING, v BIGINT) PARTITIONED BY (k, sub)")
    spark.sql(
      """INSERT INTO gspj.spj.mc
        |SELECT CAST(id % 3 AS BIGINT) AS k,
        |       CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS sub,
        |       id AS v
        |FROM range(60)""".stripMargin)
    val path = s"$root/spj/mc"
    val files = ManifestFileSink.Snapshot(path).visible.map(_._1)
    assert(ManifestFileSink.partitionColumns(path) === Seq("k", "sub"))
    val perFile = spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load()
      .groupBy(col("_file"))
      .agg(countDistinct(col("k"), col("sub")).as("nv"))
    assert(perFile.filter(col("nv") =!= 1).count() === 0,
      "every data file must hold exactly one (k, sub) pair")
    assert(files.size === 6,
      s"clustered write should yield one file per (k, sub) pair: ${files.size} vs 6")
  }

  test("two-column co-partitioned tables join on BOTH keys with zero exchanges") {
    root
    spark.sql("CREATE TABLE gspj.spj.mcdim (k BIGINT, sub STRING, w BIGINT) PARTITIONED BY (k, sub)")
    spark.sql(
      """INSERT INTO gspj.spj.mcdim
        |SELECT CAST(id % 3 AS BIGINT), CASE WHEN id < 3 THEN 'a' ELSE 'b' END,
        |       id * 100 FROM range(6)""".stripMargin)
    withSpjConf {
      val j = spark.table("gspj.spj.mc")
        .join(spark.table("gspj.spj.mcdim"), Seq("k", "sub"))
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"composite-key SPJ must not shuffle either side:\n$p")
      assert(j.count() === 60, "every (k, sub) pair of the fact matches one dim row")
    }
  }

  test("join on the LEADING key alone stays exchange-free (join keys ⊂ partition keys)") {
    root
    // A dim partitioned on k only; the fact is partitioned on (k, sub).
    spark.sql("CREATE TABLE gspj.spj.mck (k BIGINT, d STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.mck VALUES (0, 'x'), (1, 'y'), (2, 'z')")
    withSpjConf {
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled", "true")
      // Co-partition check must accept join keys ⊂ partition keys.
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      try {
        val j = spark.table("gspj.spj.mc").join(spark.table("gspj.spj.mck"), "k")
        val p = j.queryExecution.executedPlan.toString
        val i = p.indexOf("SortMergeJoin")
        assert(i >= 0 && !p.substring(i).contains("Exchange"),
          s"leading-key join over a (k, sub)-partitioned table must stay SPJ:\n$p")
        assert(j.count() === 60)
      } finally {
        spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
        spark.conf.unset(
          "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled")
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      }
    }
  }

  test("partition-filter pruning answers at plan time; filesPruned reports it") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    root
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 6 single-pair files; a filter on the LEADING partition column must
      // open only the matching value's files — the metric proves the prune.
      val sel = spark.table("gspj.spj.mc").filter(col("k") === 1L)
      assert(sel.collect().length === 20) // collect(): execute THIS queryExecution
      val scan = sel.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head
      assert(scan.metrics("filesPruned").value === 4,
        s"k=1 must prune the 4 files of k∈{0,2}, got ${scan.metrics("filesPruned").value}")
      assert(scan.metrics("filesRead").value === 2)
      // Set semantics beyond the range band: IN (0, 2) straddles k=1's
      // range, but the PROVEN partition value evaluates membership
      // exactly, so k=1's files never open.
      val in = spark.table("gspj.spj.mc")
        .filter(col("k").isin(0L, 2L))
      assert(in.collect().length === 40)
      val scan2 = in.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head
      assert(scan2.metrics("filesPruned").value === 2,
        s"IN (0,2) must prune k=1's 2 files, got ${scan2.metrics("filesPruned").value}")
      // Both partition columns participate: the pair filter opens ONE file.
      val pair = spark.table("gspj.spj.mc")
        .filter(col("k") === 2L && col("sub") === "b")
      assert(pair.collect().length === 10)
      val scan3 = pair.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head
      assert(scan3.metrics("filesRead").value === 1 &&
        scan3.metrics("filesPruned").value === 5,
        s"(k,sub) point filter must open exactly one file, got " +
          s"read=${scan3.metrics("filesRead").value} pruned=${scan3.metrics("filesPruned").value}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("a mixed-value file degrades the report, never the results") {
    root
    val path = s"$root/spj/mixed"
    spark.sql("CREATE TABLE gspj.spj.mixed (k BIGINT, v STRING) PARTITIONED BY (k)")
    spark.sql("CREATE TABLE gspj.spj.dim (k BIGINT, d STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.dim VALUES (1, 'x'), (2, 'y')")
    // The PATH API writes without the catalog's distribution; a single
    // coalesced task writing two values still demultiplexes (the writer
    // is the correctness backstop), so SPJ survives.
    spark.createDataFrame(Seq((1L, "a"), (2L, "b")))
      .toDF("k", "v").coalesce(1)
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()
    withSpjConf {
      val j1 = spark.table("gspj.spj.mixed").join(spark.table("gspj.spj.dim"), "k")
      val p1 = j1.queryExecution.executedPlan.toString
      val i1 = p1.indexOf("SortMergeJoin")
      assert(i1 >= 0 && !p1.substring(i1).contains("Exchange"),
        s"demuxed path-API write keeps SPJ:\n$p1")
      assert(j1.count() === 2)

      // Now FORGE a genuinely mixed file by dropping the control file,
      // appending, and restoring it — simulating data written before the
      // table was declared partitioned.
      Files.delete(java.nio.file.Paths.get(path, "_partition"))
      spark.createDataFrame(Seq((1L, "c"), (2L, "d")))
        .toDF("k", "v").coalesce(1)
        .write.format(classOf[ManifestFileSink].getName)
        .option("path", path).mode("append").save()
      ManifestFileSink.setPartitionColumn(path, "k")
      spark.catalog.clearCache()
      val j2 = spark.table("gspj.spj.mixed").join(spark.table("gspj.spj.dim"), "k")
      val p2 = j2.queryExecution.executedPlan.toString
      val i2 = p2.indexOf("SortMergeJoin")
      assert(i2 >= 0 && p2.substring(i2).contains("Exchange"),
        s"a mixed file must degrade to a shuffled join:\n$p2")
      assert(j2.count() === 4, "degraded plan still returns exact results")
    }
  }

  // ---- round 12: bucket-transform partitioning -----------------------

  test("bucket(n, col): catalog write demuxes one file per bucket, ids match graft.bucket") {
    root
    spark.sql("CREATE TABLE gspj.spj.bf (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gspj.spj.bf SELECT CAST(id AS BIGINT), id * 10 FROM range(200)")
    val path = s"$root/spj/bf"
    assert(ManifestFileSink.partitionColumns(path) === Seq("bucket:4:k"))
    // every file holds exactly one bucket of k, by the catalog's own
    // V2 bucket function — layout and function semantics agree
    val perFile = spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load()
      .select(col("_file"), expr("gspj.system.bucket(4, k)").as("b"))
      .groupBy(col("_file")).agg(countDistinct(col("b")).as("nb"))
    assert(perFile.filter(col("nb") =!= 1).count() === 0,
      "every data file must hold exactly one bucket")
    // the bucket-clustered write distribution produced ONE file per
    // bucket — the whole point of the layout on a high-cardinality key
    // (identity demux would have written 200 files)
    val files = ManifestFileSink.Snapshot(path).visible.map(_._1)
    assert(files.size === 4,
      s"bucket-clustered write should yield one file per bucket: ${files.size} vs 4")
    assert(spark.table("gspj.spj.bf").count() === 200)
  }

  test("co-bucketed tables join with zero exchanges on a HIGH-cardinality key") {
    root
    spark.sql("CREATE TABLE gspj.spj.bfd (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gspj.spj.bfd SELECT CAST(id AS BIGINT), id * 7 FROM range(200)")
    withSpjConf {
      val j = spark.table("gspj.spj.bf").join(spark.table("gspj.spj.bfd"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"co-bucketed SPJ must not shuffle either side:\n$p")
      assert(j.count() === 200)
      // value parity with a plain shuffled join
      val got = j.select(col("k"), col("v"), col("w"))
        .orderBy("k").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got === (0L until 200L).map(i => (i, i * 10, i * 7)))
    }
  }

  test("bucket equality pruning: a point lookup opens only the matching bucket's file") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    root
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.read.format(classOf[ManifestFileSink].getName)
        .option("path", s"$root/spj/bf").load()
        .filter(col("k") === 123L)
      assert(q.collect().length === 1) // collect(): execute THIS queryExecution
      val scan = q.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head
      assert(scan.metrics("filesPruned").value === 3,
        s"k=123 must prune the 3 other buckets' files, got ${scan.metrics("filesPruned").value}")
      assert(scan.metrics("filesRead").value === 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("files written before the bucket declaration degrade SPJ; results stay exact") {
    root
    val path = s"$root/spj/bfm"
    spark.sql("CREATE TABLE gspj.spj.bfm (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gspj.spj.bfm SELECT CAST(id AS BIGINT), id FROM range(40)")
    // Forge an unattested file: drop the declaration, append, restore —
    // data written before the layout existed carries no bucket
    // attestation and must turn the partitioning report off.
    Files.delete(java.nio.file.Paths.get(path, "_partition"))
    spark.createDataFrame(Seq((1000L, 1L), (1001L, 2L))).toDF("k", "v").coalesce(1)
      .write.format(classOf[ManifestFileSink].getName)
      .option("path", path).mode("append").save()
    ManifestFileSink.setPartitionColumns(path, Seq("bucket:4:k"))
    spark.catalog.clearCache()
    withSpjConf {
      val j = spark.table("gspj.spj.bfm").join(spark.table("gspj.spj.bfd"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && p.substring(i).contains("Exchange"),
        s"an unattested file must degrade to a shuffled join:\n$p")
      assert(j.count() === 40, "degraded plan still returns exact results")
    }
    // A RE-declared bucket count invalidates old attestations too.
    ManifestFileSink.setPartitionColumns(s"$root/spj/bf", Seq("bucket:8:k"))
    spark.catalog.clearCache()
    withSpjConf {
      val j2 = spark.table("gspj.spj.bf").join(spark.table("gspj.spj.bfd"), "k")
      val p2 = j2.queryExecution.executedPlan.toString
      val i2 = p2.indexOf("SortMergeJoin")
      assert(i2 >= 0 && p2.substring(i2).contains("Exchange"),
        s"a changed bucket count must not trust stale attestations:\n$p2")
      assert(j2.count() === 200)
    }
    ManifestFileSink.setPartitionColumns(s"$root/spj/bf", Seq("bucket:4:k"))
    spark.catalog.clearCache()
  }

  test("streaming writes into a BUCKET-partitioned table attest their files; SPJ holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    root
    spark.sql("CREATE TABLE gspj.spj.bstr (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    val path = s"$root/spj/bstr"
    val in = MemoryStream[Long]
    in.addData(0L until 200L: _*)
    val q = in.toDF().select($"value".as("k"), ($"value" * 3).as("v"))
      .coalesce(1) // one task carrying every bucket — the demux backstop
      .writeStream.format(classOf[ManifestFileSink].getName)
      .option("path", path)
      .option("checkpointLocation", Files.createTempDirectory("gspj-bck").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val perFile = spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load()
      .select(col("_file"), expr("gspj.system.bucket(4, k)").as("b"))
      .groupBy(col("_file")).agg(countDistinct(col("b")).as("nb"))
    assert(perFile.count() === 4 && perFile.filter(col("nb") =!= 1).count() === 0,
      "the streaming epoch must demux one attested file per bucket")
    withSpjConf {
      val j = spark.table("gspj.spj.bstr").join(spark.table("gspj.spj.bfd"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"stream-written bucket table must keep SPJ:\n$p")
      assert(j.count() === 200)
    }
  }

  test("optimize PRESERVES the declared layout: SPJ still zero-exchange after the rewrite") {
    root
    spark.sql("CREATE TABLE gspj.spj.opt (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.opt SELECT CAST(id % 3 AS BIGINT), id FROM range(60)")
    spark.sql("CREATE TABLE gspj.spj.optdim (k BIGINT, w BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.optdim VALUES (0, 10), (1, 11), (2, 12)")
    // Maintenance must not write mixed-key files: the rewrite demuxes
    // under the declared layout, so the join stays exchange-free.
    assert(ManifestFileSink.optimize(spark, s"$root/spj/opt", "v", numFiles = 2) > 0)
    spark.catalog.clearCache()
    withSpjConf {
      val j = spark.table("gspj.spj.opt").join(spark.table("gspj.spj.optdim"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"optimize must preserve the SPJ layout:\n$p")
      assert(j.count() === 60)
    }
  }

  test("CALL repartition_table migrates identity(k) to bucket(4, k); SPJ follows the new layout") {
    root
    spark.sql("CREATE TABLE gspj.spj.mig (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gspj.spj.mig SELECT CAST(id AS BIGINT), id * 5 FROM range(200)")
    val affected = spark.sql(
      "CALL gspj.system.repartition_table('spj.mig', 'bucket:4:k', 8)").head().getInt(0)
    assert(affected > 0)
    assert(ManifestFileSink.partitionColumns(s"$root/spj/mig") === Seq("bucket:4:k"))
    spark.catalog.clearCache()
    withSpjConf {
      // bfd is bucket(4, k)-partitioned with the same 200 keys.
      val j = spark.table("gspj.spj.mig").join(spark.table("gspj.spj.bfd"), "k")
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"migrated layout must join co-bucketed with zero exchanges:\n$p")
      assert(j.count() === 200)
    }
  }

  /** SortExec nodes in the (possibly AQE-wrapped, so string-printed)
    * physical plan. `Sort [` never collides with `SortMergeJoin [`. */
  private def sortExecs(df: org.apache.spark.sql.DataFrame): Int =
    "\\bSort \\[".r.findAllIn(df.queryExecution.executedPlan.toString).size

  test("zero-sort SPJ: sorted attested bucket files drop the Sort nodes too") {
    root
    spark.sql("CREATE TABLE gspj.spj.zs1 (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gspj.spj.zs2 (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
    // Deliberately ARRIVE unsorted (id DESC): the V2 write's requested
    // ordering must be what sorts the rows, not input luck.
    spark.sql("INSERT INTO gspj.spj.zs1 SELECT CAST(id AS BIGINT), id * 10 FROM range(200) ORDER BY id DESC")
    spark.sql("INSERT INTO gspj.spj.zs2 SELECT CAST(id AS BIGINT), id * 7 FROM range(200) ORDER BY id DESC")
    withSpjConf {
      val j = spark.table("gspj.spj.zs1").join(spark.table("gspj.spj.zs2"), "k")
        .groupBy().agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("tot"))
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"co-bucketed SPJ must not shuffle:\n$p")
      assert(sortExecs(spark.table("gspj.spj.zs1").join(spark.table("gspj.spj.zs2"), "k")
          .groupBy().agg(count(lit(1)))) === 0,
        s"attested sorted files must drop BOTH SortExec nodes:\n$p")
      val r = j.head()
      assert(r.getLong(0) === 200)
      assert(r.getLong(1) === (0L until 200L).map(i => i * 10 + i * 7).sum)
    }
  }

  test("zero-sort degrades on a second append (two files per bucket): Sort returns, Exchange stays gone, results exact") {
    root
    spark.sql("INSERT INTO gspj.spj.zs2 SELECT CAST(id AS BIGINT), id * 7 FROM range(200, 250)")
    spark.catalog.clearCache()
    withSpjConf {
      val j = spark.table("gspj.spj.zs1").join(spark.table("gspj.spj.zs2"), "k")
        .groupBy().agg(count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      val i = p.indexOf("SortMergeJoin")
      assert(i >= 0 && !p.substring(i).contains("Exchange"),
        s"SPJ itself must survive multi-file groups:\n$p")
      assert(sortExecs(spark.table("gspj.spj.zs1").join(spark.table("gspj.spj.zs2"), "k")
          .groupBy().agg(count(lit(1)))) > 0,
        "a group concatenating two sorted files is not sorted — the scan " +
          s"must stop reporting ordering and the join must sort again:\n$p")
      assert(j.head().getLong(0) === 200, "degraded plan, exact results")
    }
    // repartition_table is the restoration door: one file per bucket
    // again, written sorted — the zero-sort report comes back.
    spark.sql("CALL gspj.system.repartition_table('spj.zs2', 'bucket:4:k', 8)")
    spark.catalog.clearCache()
    withSpjConf {
      val j2 = spark.table("gspj.spj.zs1").join(spark.table("gspj.spj.zs2"), "k")
        .groupBy().agg(count(lit(1)).as("n"))
      assert(sortExecs(spark.table("gspj.spj.zs1").join(spark.table("gspj.spj.zs2"), "k")
          .groupBy().agg(count(lit(1)))) === 0,
        "maintenance must RESTORE the zero-sort property")
      assert(j2.head().getLong(0) === 200)
    }
  }

  test("declared sort.columns: per-key windows run with zero exchange AND zero sort") {
    root
    spark.sql(
      """CREATE TABLE gspj.spj.zw (k BIGINT, ts BIGINT, v BIGINT)
        |PARTITIONED BY (k) TBLPROPERTIES ('sort.columns' = 'ts')""".stripMargin)
    // Arrive shuffled in ts: the write's requested ordering must sort.
    spark.sql(
      """INSERT INTO gspj.spj.zw
        |SELECT CAST(id % 5 AS BIGINT), CAST((id * 37) % 100 AS BIGINT), id
        |FROM range(100) ORDER BY id DESC""".stripMargin)
    withSpjConf {
      // ts is unique by construction (37 is invertible mod 100), so
      // ORDER BY ts alone is deterministic — and matches the scan's
      // reported (k, ts) ordering exactly.
      val w = spark.sql(
        """SELECT k, ts, v,
          |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts) AS rn
          |FROM gspj.spj.zw""".stripMargin)
      val p = w.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"identity-partitioned scan must satisfy the window's distribution:\n$p")
      assert(sortExecs(w) === 0,
        s"attested (k, ts) files must satisfy the window's (k, ts) ordering:\n$p")
      // Parity with the same window over the raw values.
      val plain = spark.createDataFrame(
          (0 until 100).map(i => (i.toLong % 5, (i.toLong * 37) % 100, i.toLong)))
        .toDF("k", "ts", "v")
        .selectExpr("k", "ts", "v",
          "ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts) AS rn")
      assert(w.orderBy("k", "ts", "v").collect().toSeq ===
        plain.orderBy("k", "ts", "v").collect().toSeq)
    }
  }

  test("mixed identity + bucket spec demuxes per (value, bucket) pair and reports both") {
    root
    spark.sql(
      """CREATE TABLE gspj.spj.bmix (g BIGINT, k BIGINT, v BIGINT)
        |PARTITIONED BY (g, bucket(2, k))""".stripMargin)
    spark.sql(
      """INSERT INTO gspj.spj.bmix
        |SELECT CAST(id % 3 AS BIGINT), CAST(id AS BIGINT), id FROM range(60)""".stripMargin)
    val path = s"$root/spj/bmix"
    assert(ManifestFileSink.partitionColumns(path) === Seq("g", "bucket:2:k"))
    val perFile = spark.read.format(classOf[ManifestFileSink].getName)
      .option("path", path).load()
      .select(col("_file"), col("g"), expr("gspj.system.bucket(2, k)").as("b"))
      .groupBy(col("_file"))
      .agg(countDistinct(col("g"), col("b")).as("nv"))
    assert(perFile.filter(col("nv") =!= 1).count() === 0,
      "every data file must hold exactly one (g, bucket) pair")
    assert(spark.table("gspj.spj.bmix").count() === 60)
  }
}
