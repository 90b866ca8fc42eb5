package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators and the order-independent checksum. Every
  * generator draws from its own `Random` derived from (seed, stream), so
  * one seed always yields the same inputs and streams never alias. */
object Gen {

  /** SplitMix64 finalizer: derives independent stream seeds. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): Random = new Random(mix(seed, stream))

  // ------------------------------------------------------------ bulk_load

  val BulkSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("qty", IntegerType),
    StructField("price", DoubleType), StructField("flag", BooleanType),
    StructField("name", StringType), StructField("note", StringType)))

  /** String pool for the typed push: empty strings (must load as NULL),
    * quotes, commas, backslashes and non-ASCII text. */
  val Texts: IndexedSeq[String] = IndexedSeq("", "plain", "comma, inside",
    "say \"hi\"", "На берегу пустынных волн", "日本語のテキスト", "naïve café",
    "back\\slash", "'single'", "x", "text with several words")

  def bulkRows(seed: Long, slot: Int, n: Int): IndexedSeq[Row] = {
    val r = rng(seed, 1000L + slot)
    IndexedSeq.tabulate(n) { i =>
      Row(slot.toLong * 100000000L + i, r.nextInt(), r.nextGaussian() * 1e4,
        r.nextBoolean(), Texts(r.nextInt(Texts.size)),
        if (r.nextInt(4) == 0) "" else s"n${r.nextInt(1000000)}-${Texts(r.nextInt(Texts.size))}")
    }
  }

  // --------------------------------------------------------- commit_churn

  val ChurnSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("k", IntegerType),
    StructField("v", DoubleType), StructField("tag", StringType)))

  /** Sizes of `n` append batches: spread evenly over 1–500 rows, in a
    * seeded order, so every seed appends the same total. */
  def churnSizes(seed: Long, stream: Long, n: Int): IndexedSeq[Int] =
    rng(seed, stream).shuffle(IndexedSeq.tabulate(n)(i => 1 + (i * 500L / n).toInt))

  /** Batch `b` of the append stream: `n` rows with ids starting at
    * `firstId`, so ids ascend across commits (zone maps can prune). */
  def churnBatch(seed: Long, b: Int, firstId: Long, n: Int): IndexedSeq[Row] = {
    val r = rng(seed, 2000000L + b)
    IndexedSeq.tabulate(n) { i =>
      Row(firstId + i, r.nextInt(1000), r.nextDouble(), s"t${r.nextInt(50)}")
    }
  }

  // ------------------------------------------------------- index_maintain

  /** The `documents` and `embeddings` table shapes `graft.sources.Tables`
    * reads. */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  val Vocab: IndexedSeq[String] = IndexedSeq.tabulate(400)(k => s"w$k")

  /** Cumulative Zipf weights: word k is drawn with weight 1 / (k + 1). */
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def zipfWord(r: Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    Vocab(math.min(if (i < 0) -i - 1 else i, Vocab.size - 1))
  }

  /** Documents with ids `ids`: 20-60 Zipf-drawn words each. */
  def docs(seed: Long, stream: Long, ids: Seq[Long]): IndexedSeq[Row] = {
    val r = rng(seed, 4000000L + stream)
    ids.toIndexedSeq.map { id =>
      val text = Seq.fill(20 + r.nextInt(41))(zipfWord(r)).mkString(" ")
      Row(id, text, if (r.nextInt(10) == 0) "de" else "en", s"src${r.nextInt(20)}",
        text.length.toLong)
    }
  }

  val Dims = 64
  val Clusters = 8

  /** Clustered 64-dimensional vectors: each is one of eight seeded
    * centres plus Gaussian noise; `label` is the centre. */
  def vectors(seed: Long, stream: Long, ids: Seq[Long]): IndexedSeq[Row] = {
    val c = rng(seed, 5000000L)
    val centres = Array.fill(Clusters, Dims)(c.nextGaussian())
    val r = rng(seed, 6000000L + stream)
    ids.toIndexedSeq.map { id =>
      val k = r.nextInt(Clusters)
      Row(id, centres(k).toSeq.map(x => (x + 0.4 * r.nextGaussian()).toFloat), k)
    }
  }

  /** L2-normalized double copy of an `embeddings` row's vector. */
  def unit(row: Row): Array[Double] = {
    val v = row.getSeq[Float](1).map(_.toDouble).toArray
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // ------------------------------------------------ TPC-H-shaped tables

  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayMs = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z

  private def cents(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** `customer`, `orders` and `lineitem` in TPC-H's shape: `nOrders`
    * orders over `nOrders / 10` customers (a third of them with none) and
    * 1-7 lines per order, dated 1992-1998 as TPC-H's are. */
  def tpch(seed: Long, nOrders: Int): (IndexedSeq[Row], IndexedSeq[Row], IndexedSeq[Row]) = {
    val r = rng(seed, 8000000L)
    val nCust = nOrders / 10
    val customer = IndexedSeq.tabulate(nCust) { i =>
      Row(i + 1L, f"Customer#${i + 1}%09d", r.nextInt(25), cents(r, -999, 9999),
        Segments(r.nextInt(Segments.size)))
    }
    val lines = IndexedSeq.newBuilder[Row]
    val orders = IndexedSeq.tabulate(nOrders) { i =>
      val key = i + 1L
      val day = r.nextInt(2405)
      val n = 1 + r.nextInt(7)
      var total = 0.0
      (1 to n).foreach { ln =>
        val qty = 1 + r.nextInt(50)
        val price = cents(r, 900, 2100) * qty
        val disc = r.nextInt(11) / 100.0
        val tax = r.nextInt(9) / 100.0
        total += price * (1 - disc) * (1 + tax)
        val ship = day + 1 + r.nextInt(121)
        val shipped = ship < 2400
        lines += Row(key, 1L + (math.abs(r.nextGaussian()) * 300).toLong, 1L + r.nextInt(100),
          ln, qty.toDouble, price, disc, tax,
          if (!shipped) "N" else if (r.nextBoolean()) "R" else "A",
          if (shipped) "F" else "O", new java.sql.Timestamp(Epoch1992 + ship * DayMs))
      }
      Row(key, 1L + r.nextInt(nCust * 2 / 3), if (r.nextBoolean()) "F" else "O",
        math.round(total * 100) / 100.0, new java.sql.Timestamp(Epoch1992 + day * DayMs),
        Priorities(r.nextInt(Priorities.size)))
    }
    (customer, orders, lines.result())
  }

  // ------------------------------------------------------------ encoding

  /** Bytes of one row in the reference's CSV wire format: `,` delimiter,
    * `"` quote and escape, QUOTE_MINIMAL, `\r\n` terminator; NULL and
    * empty both encode as an empty field. */
  def csvBytes(row: Row): Long = {
    var n = 2L
    var i = 0
    while (i < row.length) {
      if (i > 0) n += 1
      val s = if (row.isNullAt(i)) "" else row.get(i).toString
      val b = s.getBytes("UTF-8").length
      if (s.exists(ch => ch == ',' || ch == '"' || ch == '\r' || ch == '\n'))
        n += b + 2 + s.count(_ == '"')
      else n += b
      i += 1
    }
    n
  }

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(4, rows.size / 4000)), schema)

  // ------------------------------------------------------------ checksum

  final case class Checksum(rows: Long, sum: Long, xor: Long)

  /** Position-sensitive per-row hash: every column contributes its value
    * and its null bit, so (NULL, "a") and ("a", NULL) differ. */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.toIndexedSeq.flatMap(c => Seq(col(c), isnull(col(c)))): _*)

  /** Order-independent checksum: row count, the sum of 31-bit hash
    * residues and the XOR of the 64-bit hashes. Reading every column
    * into the hash materializes the whole result. */
  def checksum(df: DataFrame): Checksum = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    Checksum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
