package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --trace-dir <dir>`. Prints an info line (effective SQL conf,
  * tail percentile, failures) and, last, the result JSON. Exits 1 when
  * any output check failed. */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  def session(cores: Int, work: File): SparkSession = {
    // Same settings as graft.Bench, with scratch space kept in the run's
    // work directory.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The named workload, made afresh for each set-up repetition in its
    * own directory. State shared by the repetitions (bulk_load's inputs,
    * commit_churn's index loop) lives under `work`. */
  def workload(name: String, run: Run, work: File): File => Workload = name match {
    case "bulk_load" =>
      val inputs = new BulkLoad.Inputs(run, new File(work, "inputs"), rows = 40000)
      dir => new BulkLoad(run, dir, inputs, pushes = 8)
    case "commit_churn" =>
      val index = new IndexLoop(run, new File(work, "index"), docs = 160, batch = 8, orders = 1500)
      dir => new CommitChurn(run, dir, commits = 80, every = 10, index)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Driver heap in use after full GCs, repeated until it stops shrinking.
    * Spark's cleaner thread drops broadcast blocks only after a GC has
    * collected their handles, so one GC leaves a varying amount of them. */
  private def liveHeapMb(): Double = {
    System.gc()
    var last = Double.MaxValue
    var now = heapUsedMb()
    var k = 0
    while (now < last - 1.0 && k < 5) {
      Thread.sleep(500)
      System.gc()
      last = now
      now = heapUsedMb()
      k += 1
    }
    now
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    val traceDir = new File(arg("trace-dir")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()

    Workloads.rmTree(work.toPath)
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    if (traced) Trace.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, seed, traced)
    val code =
      try {
        // Set-up: a workload's once-only part (counted in full), then
        // the initial load and warm-up, repeated from scratch; the last
        // repetition's state is measured.
        val make = workload(name, run, work)
        var w: Workload = null
        var onceS = 0.0
        val setups = (1 to SetupReps).map { k =>
          val dir = new File(work, s"setup-$k")
          if (k > 1) Workloads.rmTree(new File(work, s"setup-${k - 1}").toPath)
          w = make(dir)
          run.attach(w)
          if (k == 1) {
            val o0 = System.nanoTime()
            w.prepare()
            onceS = (System.nanoTime() - o0) / 1e9
            System.err.println(f"perfbench: once-only set-up took $onceS%.3fs")
          }
          val s0 = System.nanoTime()
          w.setup()
          val s = (System.nanoTime() - s0) / 1e9
          System.err.println(f"perfbench: set-up $k%d took $s%.3fs")
          s
        }
        val setupS = sessionS + onceS + Stats.median(setups)
        val timed = measure(run, w, seconds, s"$traceDir/trace-$name-seed$seed.jsonl")
        run.audit(w)
        report(name, run, w, setupS, timed, cores)
        if (run.failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          println(s"""{"correct": false, "attempted": ${math.max(1L, run.attempted)}, "failed": ${math.max(1L, run.failed)}, "metrics": {}}""")
          1
      }
    spark.stop()
    Workloads.rmTree(work.toPath)
    System.out.flush()
    sys.exit(code)
  }

  /** The timed phase: rounds of the fixed operation sequence until
    * `seconds` have passed. A traced run alternates untraced and traced
    * rounds so both wall times come from the same run and state. */
  private def measure(run: Run, w: Workload, seconds: Double, traceFile: String): Timed = {
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedW = scala.collection.mutable.ArrayBuffer.empty[Double]
    val maint = scala.collection.mutable.ArrayBuffer.empty[Double]
    var gc = 0.0
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    run.recording = true
    val start = System.nanoTime()
    var r = 0
    val minRounds = if (run.traceMode) math.max(2, w.minRounds) else w.minRounds
    // After the minimum, start another round only if it should end
    // within the time budget (bounded overshoot, near-constant rounds).
    var last = 0.0
    while (r < minRounds || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val tr = run.traceMode && r % 2 == 1
      Trace.on = tr
      val g0 = gcMs()
      val h0 = run.harnessNs
      val m0 = run.maintMs
      val t0 = System.nanoTime()
      w.round(r)
      val wall = (System.nanoTime() - t0 - (run.harnessNs - h0)) / 1e9
      if (tr) { tracedW += wall; gc += gcMs() - g0 }
      else { untraced += wall; maint += (run.maintMs - m0) / 1000 }
      Trace.on = false
      last = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: round $r%d traced=$tr wall=$wall%.3fs")
      r += 1
    }
    run.recording = false
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / 1048576.0
    val layer =
      if (!run.traceMode) Map.empty[String, Double]
      else {
        val done = Trace.finish(run.sc)
        Trace.dump(done, new File(traceFile))
        Layers.fold(done, run, tracedW.size, Runtime.getRuntime.availableProcessors()) ++
          Map("jvm.gc_ms" -> gc / tracedW.size, "jvm.heap_peak_mb" -> heapPeak,
            "trace.overhead" -> Stats.median(tracedW.toSeq) / Stats.median(untraced.toSeq))
      }
    Timed(untraced.toSeq, tracedW.toSeq, maint.toSeq, layer)
  }

  /** Untraced round walls, traced round walls, maintenance seconds per
    * untraced round, and the per-layer metrics of a traced run. */
  final case class Timed(walls: Seq[Double], tracedWalls: Seq[Double],
      maintS: Seq[Double], layer: Map[String, Double])

  private def report(name: String, run: Run, w: Workload, setupS: Double,
      t: Timed, cores: Int): Unit = {
    val heapLive = liveHeapMb()
    val rounds = t.walls.size
    val wN = w.roundWrites * w.minRounds
    val rN = w.roundReads * w.minRounds
    val wTail = Stats.tailPercentile(wN).getOrElse(50.0)
    val rTail = Stats.tailPercentile(rN).getOrElse(50.0)
    val live = math.max(1L, w.liveCsvBytes)
    val writeP50 = Stats.hdQuantile(run.writes.toSeq, 0.5)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", Stats.median(t.walls), "s"),
      Metric("write_p50_ms", writeP50, "ms"),
      Metric("write_tail_ms", Stats.hdQuantile(run.writes.toSeq, wTail / 100), "ms"),
      Metric("read_p50_ms", Stats.hdQuantile(run.reads.toSeq, 0.5), "ms"),
      Metric("read_tail_ms", Stats.hdQuantile(run.reads.toSeq, rTail / 100), "ms"),
      Metric("maint_s", Stats.median(t.maintS), "s"),
      // Mean CSV bytes per write over the median write latency: the
      // throughput of a typical write, robust to a few stalled commits.
      Metric("write_mb_s", run.userBytes / 1e6 / run.writes.size /
        (writeP50 / 1000), "MB/s"),
      Metric("space_amp", run.diskBytes().toDouble / live, "ratio"),
      Metric("space_amp_peak", run.spacePeak, "ratio"),
      Metric("heap_live_mb", heapLive, "MB"))
    val conf = run.spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val info = s"""{"info":{"workload":"$name","seed":${run.seed},"cores":$cores,""" +
      s""""rounds":$rounds,"traced_rounds":${t.tracedWalls.size},""" +
      s""""writes":${run.writes.size},"reads":${run.reads.size},""" +
      s""""write_tail_pct":$wTail,"write_tail_min_n":$wN,""" +
      s""""read_tail_pct":$rTail,"read_tail_min_n":$rN,""" +
      s""""failed_frac":${Json.num(run.failed.toDouble / math.max(1L, run.attempted))},""" +
      s""""failures":${run.failures.map(Json.str).mkString("[", ",", "]")},"sql_conf":$conf}}"""
    println(info)
    val metrics =
      if (run.traceMode) t.layer.toSeq.sortBy(_._1).map { case (k, v) => Metric(k, v, Layers.unit(k)) }
      else e2e
    val ms = metrics.map(m => s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": $ms}""")
  }
}
