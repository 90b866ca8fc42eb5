package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main runs on: `SPARK_GRAFT_CPUS` cores
  * (else `defaultCpus`) and as many shuffle partitions, UTC session time,
  * parquet nanosecond timestamps read as longs, the graft SQL extensions,
  * no UI, and WARN logging. `extra` adds a main's own settings. */
object GraftSession {
  def apply(defaultCpus: Int, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = extra.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
