package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder for every main (Verify, Bench,
  * Explain, DeterminismSweep, ReportMain). Having a single copy
  * guarantees the plans the correctness gate verifies are the plans
  * the benchmark times — the previous per-main builders had silently
  * drifted (Verify ran without AQE or the raised broadcast threshold). */
object GraftSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // List partition directories on the driver: in local[N] the
      // executors share the driver's file system, so a distributed
      // listing job only adds one task launch per directory (a
      // partitioned table such as the IVF index's `cell=` layout).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue)
      // RocksDB state store for the production streaming pipeline: the
      // fMGWS task/worker state machines key on every open task — at
      // 100 TB that keyed state cannot live in the heap provider
      // (executor OOM is the scale-killer; RocksDB spills to local disk
      // with bounded block-cache memory).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
