package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload must provide: a from-scratch set-up (inputs, initial
  * load, warm-up) and one round of its fixed operation sequence. */
trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  /** Directories holding the workload's tables (space accounting). */
  def tables: Seq[File]
  /** CSV bytes of the rows currently live in those tables. */
  def liveCsvBytes: Long
  /** Write and read operations in one round. */
  def roundWrites: Int
  def roundReads: Int
  /** Rounds every run measures at least; with the per-round counts this
    * fixes the sample count the tail percentile is chosen for. */
  def minRounds: Int
  /** The once-only part of the set-up, run before the repeated set-ups:
    * input generation, an index build or a warm-up too costly to repeat. */
  def prepare(): Unit = ()
  /** Output checks too costly for every operation, run once after the
    * timed phase. */
  def verify(): Unit = ()
}

/** Per-run recorder: latencies by kind, failures, space samples and the
  * time the benchmark spends on its own bookkeeping (excluded from wall
  * time). Single client thread, closed loop. */
final class Run(val spark: SparkSession, val seed: Long, val traceMode: Boolean) {
  val sc = spark.sparkContext

  val writes = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  var maintMs = 0.0
  var userBytes = 0L
  var attempted = 0L
  var failed = 0L
  var recording = false
  var harnessNs = 0L
  var spacePeak = 0.0
  var bytesPeak = 0L
  private var opFailed = false
  private var workload: Workload = _

  /** Most published manifests seen on the table in a traced round. */
  var manifestsLive = 0
  /** Recall@3 of each vector query served in a traced round. */
  val recalls = mutable.ArrayBuffer.empty[Double]

  def recall(r: Double): Unit = if (Trace.on) recalls += r

  def attach(w: Workload): Unit = workload = w

  /** Run `body` as benchmark bookkeeping: its time is not workload time. */
  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t0
  }

  private def op[T](kind: Char, name: String, bytes: Long, rows: Long)(body: => T): T = {
    attempted += 1
    opFailed = false
    Trace.opId += 1
    val before = if (Trace.on) harness(listing()) else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val out =
      try Trace.span(sc, name, "op")(body)
      catch { case e: Throwable => failed += 1; throw e }
    val ms = (System.nanoTime() - t0) / 1e6
    if (recording) kind match {
      case 'w' => writes += ms; userBytes += bytes
      case 'r' => reads += ms
      case 'm' => maintMs += ms
      case _ =>
    }
    harness {
      if (Trace.on) {
        written(before, kind)
        Trace.count("user_bytes", bytes.toDouble)
        Trace.count("rows", rows.toDouble)
      }
      sample()
    }
    out
  }

  def write[T](name: String, csvBytes: Long, rows: Long)(body: => T): T =
    op('w', name, csvBytes, rows)(body)
  def read[T](name: String)(body: => T): T = op('r', name, 0L, 0L)(body)
  def maint[T](name: String)(body: => T): T = op('m', name, 0L, 0L)(body)
  /** The workload's once-per-run checks, counted as one operation. */
  def audit(w: Workload): Unit = op('a', "verify", 0L, 0L)(w.verify())

  val failures = mutable.ArrayBuffer.empty[String]

  /** An output check on the latest operation; a failed check marks that
    * operation failed (once). */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    if (!opFailed) { failed += 1; opFailed = true }
    if (failures.size < 20) failures += what
    System.err.println(s"CHECK FAILED: $what")
  }

  private def files(): Seq[Path] = workload.tables.filter(_.exists).flatMap { d =>
    val s = Files.walk(d.toPath)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  def diskBytes(): Long = files().map(Files.size).sum

  private def listing(): Map[String, Long] = files().map(p => p.toString -> Files.size(p)).toMap

  /** Attribute the files an operation created to its span: bytes, data
    * files and manifest bytes. */
  private def written(before: Map[String, Long], kind: Char): Unit = {
    val fresh = listing().filter { case (p, _) => !before.contains(p) }
    val bytes = fresh.values.sum.toDouble
    Trace.count("bytes_written", bytes)
    Trace.count("files_written", fresh.count { case (p, _) => p.contains("/data/") }.toDouble)
    Trace.count("manifest_bytes", fresh.collect {
      case (p, b) if new File(p).getName.startsWith("manifest-") => b.toDouble }.sum)
    if (kind == 'm') Trace.count("bytes_rewritten", bytes)
  }

  /** Space sample after an operation. The peak ratio ignores samples
    * while fewer than [[PeakFloorBytes]] are live: there the ratio is a
    * commit's fixed overhead over a handful of rows, not amplification. */
  def sample(): Unit = if (recording) {
    val b = diskBytes()
    val live = workload.liveCsvBytes
    bytesPeak = math.max(bytesPeak, b)
    if (live >= Run.PeakFloorBytes) spacePeak = math.max(spacePeak, b.toDouble / live)
  }
}

object Run {
  val PeakFloorBytes: Long = 256L * 1024
}
