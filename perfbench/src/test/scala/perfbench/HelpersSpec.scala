package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("same seed gives identical inputs and checksums; another seed differs") {
    assert(Gen.docs(7L, 0, 0L until 50L) == Gen.docs(7L, 0, 0L until 50L))
    assert(Gen.docs(7L, 0, 0L until 50L) != Gen.docs(8L, 0, 0L until 50L))
    assert(Gen.vectors(7L, 0, 0L until 50L).map(_.toString) == Gen.vectors(7L, 0, 0L until 50L).map(_.toString))
    assert(Gen.vectors(7L, 0, 0L until 50L).map(_.toString) != Gen.vectors(8L, 0, 0L until 50L).map(_.toString))
    assert(Gen.tpch(7L, 300).toString == Gen.tpch(7L, 300).toString)
    assert(Gen.tpch(7L, 300).toString != Gen.tpch(8L, 300).toString)
    val a = Gen.bulkRows(7L, 0, 2000)
    val b = Gen.bulkRows(7L, 0, 2000)
    val c = Gen.bulkRows(8L, 0, 2000)
    assert(a == b)
    assert(a != c)
    assert(Gen.churnBatch(7L, 3, 100L, 50) == Gen.churnBatch(7L, 3, 100L, 50))
    assert(Gen.churnBatch(7L, 3, 100L, 50) != Gen.churnBatch(8L, 3, 100L, 50))
    assert(Gen.churnSizes(7L, 1, 240) == Gen.churnSizes(7L, 1, 240))
    assert(Gen.churnSizes(7L, 1, 240) != Gen.churnSizes(8L, 1, 240))
    // Same multiset of sizes (so the same total) under every seed.
    assert(Gen.churnSizes(7L, 1, 240).sorted == Gen.churnSizes(8L, 1, 240).sorted)
    assert(Gen.churnSizes(7L, 1, 240).forall(s => s >= 1 && s <= 500))
    val sa = Gen.checksum(Gen.df(spark, a, Gen.BulkSchema))
    assert(sa == Gen.checksum(Gen.df(spark, b, Gen.BulkSchema)))
    assert(sa != Gen.checksum(Gen.df(spark, c, Gen.BulkSchema)))
  }

  test("checksum does not depend on row order or partitioning") {
    val rows = Gen.bulkRows(3L, 1, 3000)
    val base = Gen.checksum(Gen.df(spark, rows, Gen.BulkSchema))
    val shuffled = new scala.util.Random(1).shuffle(rows)
    assert(Gen.checksum(Gen.df(spark, shuffled, Gen.BulkSchema)) == base)
    assert(Gen.checksum(Gen.df(spark, rows, Gen.BulkSchema).repartition(7)) == base)
    assert(base.rows == 3000)
  }

  test("checksum separates NULL from empty string and is column-position sensitive") {
    val schema = Gen.ChurnSchema
    def cs(rs: Row*) = Gen.checksum(Gen.df(spark, rs, schema))
    assert(cs(Row(1L, 2, 0.5, "")) != cs(Row(1L, 2, 0.5, null)))
    assert(cs(Row(1L, 2, 0.5, "a")) != cs(Row(1L, 2, 0.5, "b")))
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(100000).contains(99.9))
    // The rule itself: exactly ten samples beyond the chosen percentile
    // (at most 99.9), so any higher one leaves fewer than ten.
    for (n <- Seq(20, 27, 57, 150, 420, 5000); p <- Stats.tailPercentile(n)) {
      assert(math.abs(n * (1 - p / 100) - 10) < 1e-9)
      assert(n * (1 - (p + 0.01) / 100) < 10)
    }
  }

  test("quantile interpolates linearly and median is the middle") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.75) == 7.5)
  }

  test("Harrell-Davis quantile estimates the same quantile as the sample") {
    assert(math.abs(Stats.hdQuantile(Seq(5.0, 5.0, 5.0), 0.9) - 5.0) < 1e-12)
    val xs = (1 to 101).map(_.toDouble)
    // Symmetric sample: the median estimate is the middle.
    assert(math.abs(Stats.hdQuantile(new scala.util.Random(3).shuffle(xs), 0.5) - 51.0) < 1e-9)
    for (q <- Seq(0.25, 0.688, 0.9)) {
      assert(math.abs(Stats.hdQuantile(xs, q) - Stats.quantile(xs, q)) < 1.5)
    }
    assert(Stats.hdQuantile(xs, 0.7) < Stats.hdQuantile(xs, 0.8))
  }

  test("CSV byte count follows QUOTE_MINIMAL with CRLF rows") {
    assert(Gen.csvBytes(Row("a", null, 1)) == "a,,1\r\n".length)
    assert(Gen.csvBytes(Row("x,y", "say \"hi\"")) == "\"x,y\",\"say \"\"hi\"\"\"\r\n".length)
    assert(Gen.csvBytes(Row("é")) == 2 + 2)
  }
}
