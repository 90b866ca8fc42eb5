package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Microbenchmark: built-in Window row_number()<=k vs the custom
  * [[TopKPerGroup]] operator on identical data/keys.
  * `runMain graft.plans.TopKCompare [sfDir] [k]` — prints best-of-2 wall
  * times for each formulation (many-groups case: lineitem by l_partkey). */
object TopKCompare {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 3
    // The comparison needs the Window arm to STAY a Window: the
    // globally-injected WindowTopKRewrite would otherwise rewrite the
    // dead-rank idiom below into TopKPerGroup and we'd benchmark the
    // custom operator against itself.
    val spark = graft.GraftSession(32,
      "spark.sql.optimizer.excludedRules" -> "graft.plans.WindowTopKRewrite")
    val li = Tables(spark, sfDir).lineitem
      .select(col("l_partkey"), col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))

    def windowTopK() = {
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
    }
    def customTopK() =
      TopKPerGroup(li, Seq("l_partkey"),
        Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)), k)

    def best2(f: () => org.apache.spark.sql.DataFrame): (Double, Long) = {
      var bestS = Double.MaxValue; var n = 0L
      for (_ <- 1 to 2) {
        val t0 = System.nanoTime()
        n = f().count()
        bestS = math.min(bestS, (System.nanoTime() - t0) / 1e9)
      }
      (bestS, n)
    }
    best2(() => windowTopK())   // warm both paths (scan cache, codegen)
    best2(() => customTopK())
    val (wS, wN) = best2(() => windowTopK())
    val (cS, cN) = best2(() => customTopK())
    require(wN == cN, s"row counts diverge: window=$wN custom=$cN")
    println(f"[topk-compare] sf=$sfDir k=$k rows=$wN window=$wS%.2f s custom=$cS%.2f s speedup=${wS / cS}%.2fx")
    spark.stop()
  }
}
