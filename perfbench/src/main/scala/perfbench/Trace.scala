package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into a layer. Times are wall-clock
  * milliseconds (for matching listener events) plus nanoTime for the
  * duration. */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val op: Int, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder plus the listeners that attribute Spark's task, stage,
  * job and SQL metrics to the span that was open when the work started.
  *
  * Before each call the span id goes into a Spark local property, so
  * every job (and through it every stage and task) carries it. Query
  * executions are matched to spans through the SQL execution id the job
  * properties carry, falling back to the innermost span open when the
  * query was analysed (metadata-answered queries start no job). */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile var on = false
  var opId = 0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var lastRoot = 0

  /** Per-span counters, keyed by span id then counter name. */
  private val acc = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()

  def add(span: Int, key: String, v: Double): Unit =
    if (span > 0)
      acc.computeIfAbsent(span, _ => new ConcurrentHashMap[String, Double]())
        .merge(key, v, (a: Double, b: Double) => a + b)

  def span[T](sc: SparkContext, name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val sp = spans.synchronized {
        val s = new Span(nextId, name, layer, stack.headOption.fold(0)(_.id), opId,
          System.currentTimeMillis(), System.nanoTime())
        nextId += 1
        spans += s
        s
      }
      val prev = sc.getLocalProperty(SpanProp)
      stack = sp :: stack
      sc.setLocalProperty(SpanProp, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        sp.endMs = System.currentTimeMillis()
        stack = stack.tail
        if (stack.isEmpty) lastRoot = sp.id
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Counter added to the innermost open span, or to the last closed
    * root span when none is open (benchmark-side counts). */
  def count(key: String, v: Double): Unit =
    if (on) add(stack.headOption.fold(lastRoot)(_.id), key, v)

  private def spanAt(ms: Long): Int = spans.synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs).fold(0)(_.id)
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).fold(0)(_.toInt)

  final class TaskListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = spanOf(e.properties)
      if (sp > 0) {
        e.stageIds.foreach(st => stageSpan.put(st, sp))
        jobStart.put(e.jobId, (sp, e.time))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, sp))
        add(sp, "jobs", 1)
        acc.computeIfAbsent(sp, _ => new ConcurrentHashMap[String, Double]())
          .merge("first_job_ms", e.time.toDouble, (a: Double, b: Double) => math.min(a, b))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (sp, t0) =>
        add(sp, "job_ms", (e.time - t0).toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sp = Option(stageSpan.get(e.stageId)).fold(0)(_.intValue)
      val m = e.taskMetrics
      if (sp > 0 && m != null) {
        add(sp, "tasks", 1)
        add(sp, "task_ms", m.executorRunTime.toDouble)
        add(sp, "cpu_ms", m.executorCpuTime / 1e6)
        add(sp, "gc_task_ms", m.jvmGCTime.toDouble)
        add(sp, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(sp, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add(sp, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(sp, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(sp, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  final class QueryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val sp = Option(execSpan.get(qe.id)).map(_.intValue)
        .orElse(phases.get("analysis").map(p => spanAt(p.startTimeMs)))
        .getOrElse(0)
      if (sp > 0) {
        phases.foreach { case (k, p) => add(sp, s"phase_$k", p.durationMs.toDouble) }
        planMetrics(qe.executedPlan).foreach { case (k, v) => add(sp, k, v) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val ScanKeys = Map("filesRead" -> "files_read", "filesPruned" -> "files_pruned",
    "dvRowsSkipped" -> "dv_rows_skipped", "numOutputRows" -> "rows_out")

  /** Scan and broadcast counters of an executed plan, descending into
    * adaptive query stages. */
  private def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BroadcastExchangeExec =>
          b.metrics.get("dataSize").foreach(m => out("broadcast_bytes") += m.value)
        case _ if p.nodeName.startsWith("BatchScan") =>
          p.metrics.foreach { case (k, m) => ScanKeys.get(k).foreach(n => out(n) += m.value) }
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toMap
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new TaskListener)
    spark.listenerManager.register(new QueryListener)
  }

  /** Finished spans with their counters and self time (duration minus
    * the part covered by child spans). */
  final case class Done(span: Span, selfMs: Double, counters: Map[String, Double])

  def finish(sc: SparkContext): Seq[Done] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val all = spans.synchronized(spans.toList)
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    all.map { s =>
      val c = Option(acc.get(s.id)).fold(Map.empty[String, Double])(_.asScala.toMap)
      Done(s, s.durMs - childMs.getOrElse(s.id, 0.0), c)
    }
  }

  /** Write spans as JSON lines (one span per line). */
  def dump(done: Seq[Done], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try done.foreach { d =>
      val s = d.span
      val cs = d.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",")
      w.println(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"dur_ms":${Json.num(s.durMs)},"self_ms":${Json.num(d.selfMs)},"counters":{$cs}}""")
    } finally w.close()
  }
}

object Json {
  /** JSON has no NaN or infinity; a ratio over an empty base reads 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
