package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the distributed-kernel CROSSOVER the round-12 verdict asked
  * for data on (verdict-r12 #2): the `_cut` cutpoint kernels pay ~10
  * sequential stage latencies that at sf0.1 often exceed the one-task
  * sort they replace — the design claim is that the one-task shapes
  * degrade super-linearly with rows while the kernel's constant
  * amortizes. This main CONSTRUCTS the larger relation (a deterministic
  * key-shifted union of the sf0.1 tables — the driver's read-only
  * testdata stays untouched; replicas land under /tmp) and times both
  * shapes at 1x and Nx:
  *
  *   - equidepth histogram: global-ntile certifier (one-task window
  *     sort) vs [[graft.ops.DistributedCumulate.exactDiscCutsPre]].
  *   - conversion-time percentiles: ungrouped `percentile()` (one-task
  *     sort-aggregate buffering the whole user grain — the r11
  *     scale-killer class) vs
  *     [[graft.ops.DistributedCumulate.exactContCuts]].
  *
  * Key-shifting keeps key uniqueness; `o_totalprice` gets a per-replica
  * sub-cent perturbation so the DISTINCT-value grain (what the cutpoint
  * kernel actually processes) scales with the factor too — replicating
  * values verbatim would hand the kernel a flat distinct grain and
  * flatter the distributed side.
  *
  * Output: one JSON line per (query, variant, scale) with min-of-3
  * seconds, plus a result-equality check between the two variants at
  * each scale (the certifier contract: same cutpoints, same counts).
  */
object CrossoverBench {
  private def time3(df: => DataFrame): Double = {
    df.count() // untimed warmup (codegen, broadcast builds)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_crossover"
    val factor = if (args.length > 2) args(2).toInt else 10
    // Optional 4th arg restricts families ("equidepth", "conversion",
    // comma-joined); 5th arg "skip1x" drops the 1x baseline re-run —
    // both exist so a single very-large point stays inside a CI-ish
    // wall budget once the smaller scales are already on record.
    val famFilter: Set[String] =
      if (args.length > 3) args(3).split(',').toSet else Set("equidepth", "conversion")
    val skip1x = args.length > 4 && args(4) == "skip1x"
    val spark = GraftSession(32)

    val big = s"$outDir/x$factor"
    val reps = spark.range(factor).select(col("id").as("__rep"))
    // A prior run's replicas are deterministic (same sfDir, same
    // factor, same shift arithmetic) — reuse them instead of spending
    // minutes rewriting 10s of millions of rows per repeat run. The
    // reuse is gated on a MARKER recording (sfDir, factor, source file
    // sizes+mtimes): directory existence alone would silently benchmark
    // stale replicas after a corpus switch or refresh (advice-r13).
    val markerPath = Paths.get(s"$big/_replica_marker")
    def corpusFingerprint: String = {
      val srcs = Seq("orders.parquet", "events.parquet").map { t =>
        val p = Paths.get(s"$sfDir/$t")
        val (sz, mt) =
          if (Files.exists(p)) (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          else (-1L, -1L)
        s"$t:$sz:$mt"
      }
      s"sfDir=$sfDir factor=$factor ${srcs.mkString(" ")}"
    }
    val haveBig = Files.isDirectory(Paths.get(s"$big/orders.parquet")) &&
      Files.isDirectory(Paths.get(s"$big/events.parquet")) &&
      Files.exists(markerPath) &&
      new String(Files.readAllBytes(markerPath), "UTF-8") == corpusFingerprint

    if (!haveBig) {
      // orders: shift o_orderkey to keep uniqueness; perturb o_totalprice
      // by rep * 1e-3 cents so the distinct grain scales with the factor.
      spark.read.parquet(s"$sfDir/orders.parquet").crossJoin(reps)
        .withColumn("o_orderkey", col("o_orderkey") * factor + col("__rep"))
        .withColumn("o_totalprice",
          col("o_totalprice") + col("__rep").cast("double") * 1e-5)
        .drop("__rep")
        .write.mode("overwrite").parquet(s"$big/orders.parquet")

      // events: shift user_id/event_id — scales the per-USER grain the
      // conversion-time percentile runs over.
      spark.read.parquet(s"$sfDir/events.parquet").crossJoin(reps)
        .withColumn("user_id", col("user_id") * factor + col("__rep"))
        .withColumn("event_id", col("event_id") * factor + col("__rep"))
        .drop("__rep")
        .write.mode("overwrite").parquet(s"$big/events.parquet")
      Files.write(markerPath, corpusFingerprint.getBytes("UTF-8"))
    }

    val nBig = spark.read.parquet(s"$big/orders.parquet").count()
    val nEv = spark.read.parquet(s"$big/events.parquet").count()

    // The OLD (pre-r12) shape of q_conversion_time: ungrouped exact
    // percentile — Spark plans it as ONE task's sort-aggregate buffer
    // holding every converting user's double. This is the shape the
    // PlanShapeSpec audit now bans from the registered suite; it lives
    // here only as the measured counterfactual.
    type Q = (SparkSession, String) => DataFrame
    def conversionOld: Q = (s, dir) => {
      val firsts = graft.sources.Tables(s, dir).events
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", unix_micros(col("ts")))).as("v_us"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p_us"))
        .filter(col("v_us").isNotNull && col("p_us").isNotNull && col("p_us") > col("v_us"))
        .select(((col("p_us") - col("v_us")).cast("double") / 60000000.0).as("mins"))
      firsts.agg(
        count(lit(1)).as("n_converted"),
        round(expr("percentile(mins, 0.5)"), 6).as("p50_mins"),
        round(expr("percentile(mins, 0.9)"), 6).as("p90_mins"),
        round(max(col("mins")), 6).as("max_mins"))
        .select(col("n_converted"), col("p50_mins"), col("p90_mins"), col("max_mins"))
    }

    val contenders: Seq[(String, String, Q)] = Seq(
      ("equidepth", "ntile_1task", graft.ops.Analytic.qHistogramEquidepth),
      ("equidepth", "cut_distributed", graft.ops.Analytic.qHistogramEquidepthCut),
      ("conversion", "percentile_1task", conversionOld),
      ("conversion", "cut_distributed", graft.ops.Analytic.qConversionTime))
      .filter { case (fam, _, _) => famFilter(fam) }

    val scales =
      (if (skip1x) Seq.empty else Seq("1x" -> sfDir)) :+ (s"${factor}x" -> big)
    val out = new StringBuilder
    for (scale <- scales) {
      val (lbl, dir) = scale
      for ((fam, variant, q) <- contenders) {
        val sec = time3(q(spark, dir))
        try spark.sharedState.cacheManager.clearCache()
        catch { case _: Throwable => () }
        val line = s"""{"family":"$fam","variant":"$variant","scale":"$lbl","sec":${math.rint(sec * 1000) / 1000}}"""
        println(line); out.append(line).append('\n')
      }
      // Certifier contract at this scale: equal bucket counts (the two
      // equidepth variants differ only in tie placement at cut values —
      // compare total rows and cut monotonicity instead of exact rows),
      // and equal conversion counts.
      if (famFilter("conversion")) {
        val convA = conversionOld(spark, dir).collect()(0)
        val convB = graft.ops.Analytic.qConversionTime(spark, dir).collect()(0)
        require(convA.getLong(0) == convB.getLong(0) &&
          convA.getDouble(1) == convB.getDouble(1) &&
          convA.getDouble(2) == convB.getDouble(2),
          s"conversion variants disagree at $lbl: $convA vs $convB")
      }
    }
    println(s"""{"rows_orders_big":$nBig,"rows_events_big":$nEv,"factor":$factor}""")
    spark.stop()
  }
}
