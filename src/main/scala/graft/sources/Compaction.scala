package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance job every large lake
  * needs: streaming sinks (MergeSink micro-batches, the date-partitioned
  * event log) accrete KB-sized parquet files whose per-file
  * open/footer/seek cost eventually dominates scans. Compaction
  * rewrites a directory into ~target-sized files.
  *
  * Shape at scale: ONE round-robin repartition shuffle sized from the
  * actual byte count (ceil(bytes/target) output files), published with
  * [[Publish.swap]] — readers see the old files or the new files, never
  * a mix, and the staged copy stays invisible to partition discovery.
  * Runs per partition directory (date=..., bucket=...), so a 100 TB
  * table compacts incrementally, newest partitions first. Content is
  * preserved bit-for-bit (same rows, any order) — CompactionSpec
  * asserts it.
  */
object Compaction {

  /** Number of parquet data files currently in `dir`. */
  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Compact `dir` into ~`targetBytes` files. Returns
    * (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = Publish.swap(spark, p.getParent.toString, Seq(p.getName)) { staged =>
      val files = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      val totalBytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(dir).repartition(nOut)
        .write.mode("overwrite").parquet(s"$staged/${p.getName}")
      files.length
    }
    (before, parquetFileCount(spark, dir))
  }
}
