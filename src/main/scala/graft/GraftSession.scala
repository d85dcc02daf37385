package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder for every main (Verify, Bench,
  * Explain, DeterminismSweep, ReportMain) and for the test suite's
  * shared session. Having a single settings list guarantees the plans
  * the correctness gate verifies are the plans the benchmark times and
  * the specs exercise — the previous per-main builders had silently
  * drifted (Verify ran without AQE or the raised broadcast threshold). */
object GraftSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Every setting of a graft session on `cpus` local cores; callers
    * add only an app name. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // List partition directories on the driver: in local[N] the
      // executors share the driver's file system, so a distributed
      // listing job only adds one task launch per directory (a
      // partitioned table such as the IVF index's `cell=` layout).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue)
      // Keep every generated class of the working set compiled. Spark's
      // default cache holds 100 classes, but the two live streaming
      // queries with their MERGE upserts use 429 distinct classes and
      // the perfbench `queries` cells 208 (perfbench seed 1). At 100
      // each micro-batch and warm query evicts classes the next one
      // needs and runs Janino, then C1/C2 JIT, on them again: 683 and
      // 515 compiles per run, against 429 and 208 at 1024, which holds
      // both working sets with margin.
      .config("spark.sql.codegen.cache.maxEntries", 1024)
      // RocksDB state store for the production streaming pipeline: the
      // fMGWS task/worker state machines key on every open task — at
      // 100 TB that keyed state cannot live in the heap provider
      // (executor OOM is the scale-killer; RocksDB spills to local disk
      // with bounded block-cache memory).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
}
