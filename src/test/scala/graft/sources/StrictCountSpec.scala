package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** Soundness of the strict zone-map evaluator ([[ManifestFileSink.mustMatch]])
  * and the metadata count built on it ([[ManifestFileSink.strictCounts]]):
  * wherever the zone maps answer, the answer equals the row-reading
  * `filter(...).count()`, over seeded tables with NULLs, deletion vectors,
  * a column that older files predate, per-file column orders, and Int and
  * Long columns; and the count declines whenever a live file straddles the
  * filter or holds a type whose bounds make no strict claim. */
class StrictCountSpec extends SparkTestBase {

  private def fmt = classOf[ManifestFileSink].getName

  private def toCol(f: Filter): Column = f match {
    case GreaterThan(c, v) => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case LessThan(c, v) => col(c) < lit(v)
    case LessThanOrEqual(c, v) => col(c) <= lit(v)
    case And(l, r) => toCol(l) && toCol(r)
    case Or(l, r) => toCol(l) || toCol(r)
    case other => fail(s"no column form for $other")
  }

  private def append(dir: String, schema: StructType, rows: Seq[Row], files: Int): Unit =
    spark.createDataFrame(rows.asJava, schema).repartition(files)
      .write.format(fmt).option("path", dir).mode("append").save()

  /** A seeded table: 4-6 appends of 1-2 files each. File group `g` holds
    * `k` (BIGINT) in [100g, 100g + 50) and `i` (INT) in [10g, 10g + 10),
    * some groups with a NULL in either; `x` (BIGINT) arrives with the
    * third append, and the later appends list their columns in another
    * order. Two deletes leave deletion vectors, one of them retracting a
    * whole group. Returns the path and the groups written. */
  private def seededTable(seed: Int): (String, Int) = {
    val r = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("graft-strict").toString
    val groups = 4 + r.nextInt(3)
    (0 until groups).foreach { g =>
      val withX = g >= 2
      val fields =
        Seq(StructField("k", LongType), StructField("i", IntegerType)) ++
          (if (withX) Seq(StructField("x", LongType)) else Nil)
      val order = if (g >= 3) fields.reverse else fields
      val nullK = r.nextInt(3) == 0
      val nullI = r.nextInt(3) == 0
      val rows = (0 until 6 + r.nextInt(30)).map { j =>
        val v = Map[String, Any](
          "k" -> (if (nullK && j == 0) null else java.lang.Long.valueOf(100L * g + r.nextInt(50))),
          "i" -> (if (nullI && j == 1) null else Integer.valueOf(10 * g + r.nextInt(10))),
          "x" -> java.lang.Long.valueOf(r.nextInt(1000).toLong))
        Row.fromSeq(order.map(f => v(f.name)))
      }
      append(dir, StructType(order), rows, 1 + r.nextInt(2))
    }
    // A partial delete inside group 1 and the whole of group 0.
    ManifestFileSink.deleteWhere(dir,
      And(GreaterThanOrEqual("k", 100L), LessThan("k", 100L + 10 + r.nextInt(20))))
    ManifestFileSink.deleteWhere(dir, LessThan("i", 10))
    (dir, groups)
  }

  /** Filters over the seeded table: group-aligned ranges and windows on
    * `k` and `i` (Long and Int literals both), disjunctions, and a few
    * literals that cut groups. */
  private def filters(r: scala.util.Random, groups: Int): Seq[Filter] = {
    def kb: Long = 100L * r.nextInt(groups + 1) + (if (r.nextInt(4) == 0) r.nextInt(50) else 0)
    def ib: Int = 10 * r.nextInt(groups + 1) + (if (r.nextInt(4) == 0) r.nextInt(10) else 0)
    def one(): Filter = r.nextInt(10) match {
      case 0 => GreaterThan("k", kb - 1)
      case 1 => GreaterThanOrEqual("k", kb)
      case 2 => LessThan("k", kb)
      case 3 => LessThanOrEqual("i", ib - 1)
      case 4 => GreaterThanOrEqual("i", ib)
      case 5 => LessThan("i", ib.toLong) // a Long literal against an Int column
      case 6 => And(GreaterThanOrEqual("k", kb), LessThan("k", kb + 100L * (1 + r.nextInt(2))))
      case 7 => LessThanOrEqual("k", kb - 1)
      case 8 => GreaterThan("i", ib - 1)
      case _ => Or(LessThan("k", kb), GreaterThanOrEqual("i", ib))
    }
    Seq.fill(14)(one())
  }

  test("wherever the zone maps answer, the count equals the row-reading count") {
    var answered, nonZero = 0
    for (seed <- 1 to 6) {
      val (dir, groups) = seededTable(seed)
      val df = spark.read.format(fmt).option("path", dir).load()
      val fs = filters(new scala.util.Random(seed * 31), groups)
      fs.foreach { f =>
        ManifestFileSink.strictCounts(dir, Seq(f)).foreach { case Seq(n) =>
          answered += 1
          if (n > 0) nonZero += 1
          assert(n === df.filter(toCol(f)).count(), s"seed $seed, $f")
        }
      }
      // One snapshot answers them all together, or declines as a whole.
      ManifestFileSink.strictCounts(dir, fs).foreach { ns =>
        assert(ns === fs.map(f => df.filter(toCol(f)).count()), s"seed $seed")
      }
      // `x` is absent from the first files: while they hold live rows, no
      // filter on it is decided.
      assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("x", 0L))).isEmpty)
    }
    assert(answered >= 20 && nonZero >= 10,
      s"the seeded filters must exercise answered counts ($answered, $nonZero non-zero)")
  }

  test("declines when one live file straddles the filter; deletion vectors count out") {
    val dir = Files.createTempDirectory("graft-strict-straddle").toString
    val schema = StructType(Seq(StructField("k", LongType), StructField("i", IntegerType)))
    append(dir, schema, (0 until 10).map(j => Row(j.toLong, j)), 1)
    append(dir, schema, (10 until 20).map(j => Row(j.toLong, j)), 1)
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("k", 5L))).isEmpty)
    assert(ManifestFileSink.strictCounts(dir, Seq(LessThan("i", 15))).isEmpty)
    assert(ManifestFileSink.strictCounts(dir,
      Seq(GreaterThanOrEqual("k", 10L), LessThan("i", 10), EqualTo("k", 25L)))
      === Some(Seq(10L, 10L, 0L)))
    ManifestFileSink.deleteWhere(dir, EqualTo("k", 12L))
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("k", 10L)))
      === Some(Seq(9L)), "rows - |dv| for an all-in file")
    // A NULL in an otherwise all-in file is not provably in.
    append(dir, schema, Seq(Row(30L, 30), Row(null, 31)), 1)
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("k", 10L))).isEmpty)
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("i", 10)))
      === Some(Seq(11L)))
  }

  test("Double and String bounds make no strict claim") {
    val dir = Files.createTempDirectory("graft-strict-types").toString
    val schema = StructType(Seq(StructField("d", DoubleType), StructField("s", StringType)))
    append(dir, schema, Seq(Row(1.0, "b"), Row(2.0, "c")), 1)
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("d", 0.0))).isEmpty)
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThanOrEqual("s", "a"))).isEmpty)
    // Refuted files still count out: the inclusive evaluator decides them.
    assert(ManifestFileSink.strictCounts(dir, Seq(GreaterThan("d", 5.0))) === Some(Seq(0L)))
  }
}
