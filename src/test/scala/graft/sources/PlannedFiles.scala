package graft.sources

import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}

/** The data files a manifest scan's planned (runtime-filtered) partitions
  * hold — what its executors open. A partition is not a file: a packed
  * [[FileGroup]] holds several, a keyed split one. */
object PlannedFiles {
  def of(scan: BatchScanExec): Int =
    scan.inputRDD.partitions.iterator.collect {
      case p: DataSourceRDDPartition => p.inputPartitions
    }.flatten.map {
      case g: FileGroup      => g.files.size
      case _: KeyedFileSplit => 1
      case _                 => 0
    }.sum
}
