package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sinks.H2Sink
import graft.sources.ManifestFileSink

object Workloads {
  val Fmt: String = classOf[ManifestFileSink].getName

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  def load(run: Run, path: String): DataFrame =
    run.spark.read.format(Fmt).option("path", path).load()
}
import Workloads._

/** The reference's own job: full-overwrite pushes of a typed dataset
  * through the H2 sink's preparation and the manifest table, each
  * followed by a full readback; purge + vacuum after every `pushes`. */
final class BulkLoad(run: Run, dir: File, inputs: BulkLoad.Inputs, pushes: Int) extends Workload {
  private val spark = run.spark
  private val table = new File(dir, "bulk_target")
  import BulkLoad.Input
  private var live: Input = _

  def tables: Seq[File] = Seq(table)
  def liveCsvBytes: Long = if (live == null) 1L else live.csv
  def roundWrites: Int = pushes
  def roundReads: Int = pushes + 1
  def minRounds: Int = 3

  /** The inputs are generated once per run; each set-up loads them. */
  override def prepare(): Unit = inputs.generate()

  def setup(): Unit = {
    Files.createDirectories(table.toPath)
    // Warm-up (and initial load): each input pushed and read back once.
    inputs.all.foreach { in => push(in); readback("warm-up") }
    purge()
  }

  private def purge(): Unit = {
    run.maint("purge") {
      Trace.span(run.sc, "applyDeletes", "sources.maint")(ManifestFileSink.applyDeletes(table.getPath))
      Trace.span(run.sc, "vacuum", "sources.maint")(ManifestFileSink.vacuum(table.getPath, 0L))
    }
    readback("purge")
  }

  private def push(in: Input): Unit = run.write("push", in.csv, inputs.rows.toLong) {
    val src = spark.read.parquet(in.path)
    val prepared = Trace.span(run.sc, "prepare", "sinks.prepare") {
      H2Sink.validateTableName(Seq(table.getName))
      H2Sink.ddlFromSchema(src.schema)
      H2Sink.emptyStringsAsNull(src)
    }
    Trace.span(run.sc, "overwrite", "sources.write") {
      prepared.write.format(Fmt).option("path", table.getPath).mode("overwrite").save()
    }
    live = in
  }

  private def readback(what: String): Unit = {
    val got = run.read("readback") {
      Trace.span(run.sc, "checksum", "sources.scan")(Gen.checksum(load(run, table.getPath)))
    }
    run.check(got == live.expected, s"bulk_load $what readback $got != ${live.expected}")
  }

  def round(r: Int): Unit = {
    (0 until pushes).foreach { i =>
      push(inputs.all(math.floorMod(r * pushes + i, inputs.all.size)))
      readback(s"push $i")
    }
    purge()
  }
}

object BulkLoad {
  /** A staged input file, its expected readback checksum and CSV size. */
  final case class Input(path: String, expected: Gen.Checksum, csv: Long)

  /** Two seeded inputs of `rows` rows, staged as Parquet under `dir` and
    * pushed alternately. */
  final class Inputs(run: Run, dir: File, val rows: Int) {
    private var made = IndexedSeq.empty[Input]
    def all: IndexedSeq[Input] = made

    def generate(): Unit = made = (0 until 2).map { slot =>
      val rs = Gen.bulkRows(run.seed, slot, rows)
      val path = new File(dir, s"input-$slot.parquet").getPath
      Gen.df(run.spark, rs, Gen.BulkSchema).write.parquet(path)
      // Expected readback, built independently of the sink: empty
      // strings become NULL client-side.
      val nulled = rs.map(r => Row.fromSeq(r.toSeq.map { case "" => null; case v => v }))
      Input(path, Gen.checksum(Gen.df(run.spark, nulled, Gen.BulkSchema)), rs.map(Gen.csvBytes).sum)
    }
  }
}

/** Many small commits beside reads: seeded 1–500-row appends to a fresh
  * table per round, four reads every `every` commits, one compact at the
  * end of the round; then one iteration of the index maintenance loop,
  * whose vector ingest and delete are small multi-table transactions. */
final class CommitChurn(run: Run, dir: File, commits: Int, every: Int, index: IndexLoop)
    extends Workload {
  private val spark = run.spark
  private var table: File = new File(dir, "churn-setup")
  private var csv = 1L

  /** Space is accounted on the churn table only. */
  def tables: Seq[File] = Seq(table)
  def liveCsvBytes: Long = csv
  def roundWrites: Int = commits + index.writes
  def roundReads: Int = 4 * (commits / every) + 2 + index.reads
  /** Three rounds, so that the medians pass over the first timed round,
    * which runs 10-25% slower than the next ones (an untimed round before
    * it did not change that), and over one round caught in a burst of
    * host contention. */
  def minRounds: Int = 3

  def setup(): Unit = {
    // Input generation is per batch inside the round (untimed); the
    // repeated set-up is a short sequence on its own table.
    sequence(-1, every)
  }

  /** The index bases are built once, then warmed by one iteration. */
  override def prepare(): Unit = {
    index.build()
    index.iteration(1)
  }

  def round(r: Int): Unit = {
    sequence(r, commits)
    index.iteration(r + 2)
  }

  override def verify(): Unit = index.verify()

  private def sequence(r: Int, n: Int): Unit = {
    run.harness(rmTree(table.toPath))
    table = new File(dir, s"churn-$r")
    val path = table.getPath
    run.harness(Files.createDirectories(table.toPath))
    val rows = mutable.ArrayBuffer.empty[Row]
    val recorded = mutable.ArrayBuffer.empty[(String, Long)]
    val pick = Gen.rng(run.seed, 9000000L + r)
    val sizes = Gen.churnSizes(run.seed, 3000000L + r, n)
    csv = 1L
    (0 until n).foreach { b =>
      val batch = run.harness(
        Gen.churnBatch(run.seed, (r + 1) * commits + b, rows.size.toLong, sizes(b)))
      val bytes = batch.map(Gen.csvBytes).sum
      val bdf = run.harness(Gen.df(spark, batch, Gen.ChurnSchema))
      csv += bytes
      run.write("append", bytes, batch.size.toLong) {
        Trace.span(run.sc, "append", "sources.write") {
          bdf.write.format(Fmt).option("path", path).mode("append").save()
        }
      }
      rows ++= batch
      if ((b + 1) % every == 0) {
        val total = rows.size.toLong
        val n = run.read("count") {
          Trace.span(run.sc, "count", "sources.meta")(load(run, path).count())
        }
        run.check(n == total, s"commit_churn count $n != $total")

        val id = pick.nextInt(rows.size).toLong
        val got = run.read("lookup") {
          Trace.span(run.sc, "lookup", "sources.scan")(
            load(run, path).filter(col("id") === id).collect().toSeq)
        }
        run.check(got == Seq(rows(id.toInt)), s"commit_churn lookup $id -> $got")

        val stable = run.read("stableManifest") {
          Trace.span(run.sc, "stableManifest", "sources.meta")(ManifestFileSink.stableManifest(path))
        }
        val latest = run.harness(ManifestFileSink.latestManifest(path))
        run.check(stable.isDefined && stable == latest, s"commit_churn stableManifest $stable != $latest")
        stable.foreach(m => recorded += ((m, total)))
        if (Trace.on) run.harness {
          run.manifestsLive = math.max(run.manifestsLive, ManifestFileSink.publishedManifestCount(path))
        }

        val (m, cnt) = recorded(pick.nextInt(recorded.size))
        val past = run.read("timeTravel") {
          Trace.span(run.sc, "asOf", "sources.scan")(
            spark.read.format(Fmt).option("path", path).option("asOfManifest", m).load().count())
        }
        run.check(past == cnt, s"commit_churn time travel to $m: $past != $cnt")

        // Orphan sweep: lists the table and every manifest's entries
        // (O(history)) but folds nothing, so the history keeps growing.
        val swept = run.maint("vacuum") {
          Trace.span(run.sc, "vacuum", "sources.maint")(ManifestFileSink.vacuum(path, 0L))
        }
        run.check(swept == 0, s"commit_churn vacuum removed $swept referenced files")
      }
    }
    val before = run.read("checksum") {
      Trace.span(run.sc, "checksum", "sources.scan")(Gen.checksum(load(run, path)))
    }
    run.check(before.rows == rows.size, s"commit_churn checksum rows ${before.rows} != ${rows.size}")
    run.maint("compact") {
      Trace.span(run.sc, "compact", "sources.maint")(ManifestFileSink.compact(path))
    }
    val after = run.read("checksum") {
      Trace.span(run.sc, "checksum", "sources.scan")(Gen.checksum(load(run, path)))
    }
    run.check(after == before, s"commit_churn checksum changed across compact: $before -> $after")
  }
}

/** The LLM-data maintenance loop over a seeded corpus, beside a fixed mix
  * of analytic registry entries over seeded TPC-H-shaped tables. `build`
  * generates the inputs and builds the text index and the maintained
  * vector base; an iteration serves one text query and the
  * vector top-3, ingests a batch of fresh vectors (unique WAP id) and
  * retracts the previous iteration's, purges and retrains the vector index
  * incrementally, then runs every registry entry once, in a seed-permuted
  * order. */
final class IndexLoop(run: Run, dir: File, docs: Int, batch: Int, orders: Int) {
  import graft.llm.{TextIndex, VectorIndex, VectorMaintenance => VM}

  private val spark = run.spark
  private val data = new File(dir, "data").getPath
  private val textPath = new File(dir, "text").getPath
  private val vecBase = new File(dir, "vec-base").getPath
  private val rnd = Gen.rng(run.seed, 11000000L)
  private val termSets: IndexedSeq[Seq[String]] =
    IndexedSeq.fill(6)(Seq.fill(2 + rnd.nextInt(3))(Gen.zipfWord(rnd)).distinct)
  private val entries: IndexedSeq[String] = rnd.shuffle(IndexLoop.Entries)
  /** Client-side copies of what the indexes hold: documents' words and
    * live vectors (normalized). */
  private val liveDoc = mutable.Map.empty[Long, Set[String]]
  private val liveVec = mutable.Map.empty[Long, Array[Double]]
  private val firstResult = mutable.Map.empty[String, Seq[Row]]

  /** Write and read operations in one iteration. */
  def writes: Int = 2
  def reads: Int = 2 + entries.size

  private def batchIds(k: Int): IndexedSeq[Long] =
    IndexedSeq.tabulate(batch)(i => 1000000L + k * 1000L + i)

  def build(): Unit = {
    val ids = 0L until docs.toLong
    val docRows = Gen.docs(run.seed, 0, ids)
    val vecRows = Gen.vectors(run.seed, 0, ids)
    Gen.df(spark, docRows, Gen.DocSchema).write.parquet(s"$data/documents.parquet")
    Gen.df(spark, vecRows, Gen.EmbSchema).write.parquet(s"$data/embeddings.parquet")
    val (c, o, l) = Gen.tpch(run.seed, orders)
    Gen.df(spark, c, Gen.CustomerSchema).write.parquet(s"$data/customer.parquet")
    Gen.df(spark, o, Gen.OrdersSchema).write.parquet(s"$data/orders.parquet")
    Gen.df(spark, l, Gen.LineitemSchema).write.parquet(s"$data/lineitem.parquet")
    // The vector base holds every vector but the append class (6 mod 13).
    docRows.foreach(r => liveDoc(r.getLong(0)) = r.getString(1).split(" ").toSet)
    vecRows.filter(_.getLong(0) % 13 != 6).foreach(r => liveVec(r.getLong(0)) = Gen.unit(r))
    TextIndex.build(spark, data, textPath)
    VM.ensureBaseAt(spark, data, vecBase)
    ingest(0)
  }

  private def ingest(k: Int): Unit = {
    val v = Gen.vectors(run.seed, 100 + k, batchIds(k))
    val vdf = run.harness(Gen.df(spark, v, Gen.EmbSchema).select("vec_id", "embedding"))
    run.write("vec.ingest", v.map(Gen.csvBytes).sum, v.size.toLong) {
      Trace.span(run.sc, "ingestAppend", "llm.vec.ingest")(
        VM.ingestAppend(spark, vecBase, vdf, s"bench-ingest-$k"))
    }
    v.foreach(r => liveVec(r.getLong(0)) = Gen.unit(r))
  }

  private def retract(k: Int): Unit = {
    val ids = batchIds(k)
    val window = Seq((ids.head, ids.last + 1))
    val gone = run.write("vec.delete", 0L, 0L) {
      Trace.span(run.sc, "deleteRanges", "llm.delete")(VM.deleteRanges(spark, vecBase, window))
    }
    run.check(gone == Seq(batch.toLong), s"index deleteRanges $window retracted $gone, not $batch")
    ids.foreach(liveVec.remove)
  }

  /** Iteration `k` (k >= 1) ingests batch k and retracts batch k - 1. */
  def iteration(k: Int): Unit = {
    val terms = termSets(math.floorMod(k, termSets.size))
    val served = run.read("text.serve") {
      Trace.span(run.sc, "serve", "llm.text.serve")(
        TextIndex.serve(spark, textPath, terms).collect().toSeq)
    }
    run.harness(served.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val held = terms.count(liveDoc.getOrElse(id, Set.empty[String]).contains)
      run.check(row.getAs[Long]("n_terms") == held,
        s"index text serve $terms: doc $id matched ${row.getAs[Long]("n_terms")} terms, holds $held")
    })
    val nn = run.read("vec.serve") {
      Trace.span(run.sc, "serve", "llm.vec.serve")(
        VectorIndex.serve(spark, VM.vecPath(vecBase), 2).collect().toSeq)
    }
    run.harness(checkNeighbours(nn))
    ingest(k)
    retract(k - 1)
    run.maint("purge") {
      Trace.span(run.sc, "purgeDeletes", "llm.purge")(VM.purgeDeletes(spark, vecBase))
    }
    run.maint("retrain") {
      Trace.span(run.sc, "retrainIncremental", "llm.retrain")(VM.retrainIncremental(spark, vecBase))
    }
    entries.foreach { name =>
      val got = run.read(name) {
        Trace.span(run.sc, name, "ops")(graft.SparkEntry.queries(name)(spark, data).collect().toSeq)
      }
      val first = firstResult.getOrElseUpdate(name, got)
      run.check(got == first, s"index $name changed between rounds over unchanged tables")
    }
  }

  /** Served neighbours are live, their scores are the dot products of the
    * normalized vectors, and recall@3 against exact search is recorded. */
  private def checkNeighbours(nn: Seq[Row]): Unit = {
    run.check(nn.nonEmpty, "index vector serve returned nothing")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    nn.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      liveVec.get(q) match {
        case None => run.check(false, s"index vector query $q is not live")
        case Some(qv) =>
          rows.foreach { row =>
            val n = row.getAs[Long]("neighbor_id")
            val got = row.getAs[Double]("cos_sim")
            liveVec.get(n) match {
              case None => run.check(false, s"index vector neighbour $n of $q is not live")
              case Some(nv) =>
                val want = dot(qv, nv)
                run.check(math.abs(got - want) <= 1e-8, s"index score $q->$n: $got != $want")
            }
          }
          val exact = liveVec.iterator.filter(_._1 != q).map { case (id, v) => (id, dot(qv, v)) }
            .toSeq.sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
          run.recall(rows.count(r => exact.contains(r.getAs[Long]("neighbor_id"))).toDouble / exact.size)
      }
    }
  }

  /** Every registry entry's result equals its oracle SQL, run by Spark
    * SQL over the same tables. */
  def verify(): Unit = {
    Seq("customer", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t)
    }
    entries.foreach { name =>
      val want = spark.sql(graft.SparkEntry.oracleSql(name)).collect().toSeq
      val got = firstResult.getOrElse(name, Seq.empty)
      run.check(IndexLoop.same(got, want), s"index $name: $got != oracle $want")
    }
  }
}

object IndexLoop {
  /** Registry entries over `customer`, `orders` and `lineitem` whose
    * oracle SQL Spark SQL runs unchanged: aggregation with exact sums, a
    * three-way join with top-N, and a native aggregate function
    * (`graft_topk`). */
  val Entries: IndexedSeq[String] = IndexedSeq("q01_pricing_summary",
    "q03_shipping_priority", "q_topk_typed_agg")

  /** Row-by-row equality in order; doubles within 1e-9 relative. */
  def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) =>
            p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
          case (p, q) => p == q
        }
      }
    }
}
