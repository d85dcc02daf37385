package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Pipeline observability: a `StreamingQueryListener` that records
  * every micro-batch's progress — input rows, processing rate, trigger
  * duration, state-store rows — and lands them in a queryable parquet
  * metrics table. This is the ops surface the reference lacks
  * entirely: its only signal is `console.log` per event
  * (routes/events.js:665-666); a production pipeline watches batch
  * duration vs trigger interval (falling behind), state rows
  * (watermark leaks), and rate (throughput regressions) from exactly
  * this table.
  *
  * The listener buffers progress rows off the listener-bus thread (a
  * lock-free queue — the bus must never block on I/O) and [[Recorder.flush]]
  * appends them as one parquet file per flush; `sources.Compaction`
  * handles accretion like any other append sink. At scale the metrics
  * table is date-partitioned and tiny relative to the data it
  * describes — observability is O(batches), not O(rows). */
object StreamMetrics {

  final case class BatchMetric(
      queryId: String, runId: String, name: String, batchId: Long,
      endTimestamp: String, numInputRows: Long,
      inputRowsPerSecond: Double, processedRowsPerSecond: Double,
      triggerDurationMs: Long, stateRows: Long, stateMemoryBytes: Long)

  /** Attach with `spark.streams.addListener(recorder)`; detach with
    * `removeListener`. One recorder can watch any number of queries —
    * rows carry the (queryId, runId, name) identity.
    *
    * The buffer is CAPPED at `maxBuffered` rows: if flush is never
    * called while queries keep progressing, the oldest rows are
    * dropped (and counted in [[droppedCount]]) instead of leaking heap
    * without bound in a long-lived listener. At one row per
    * micro-batch the default cap covers ~11 days of 10s triggers. */
  final class Recorder(maxBuffered: Int = 100000) extends StreamingQueryListener {
    private val buf = new ConcurrentLinkedQueue[BatchMetric]()
    private val buffered = new java.util.concurrent.atomic.AtomicInteger(0)
    private val dropped = new java.util.concurrent.atomic.AtomicLong(0L)

    /** Rows evicted oldest-first because the cap was reached before a
      * flush — non-zero means the flush cadence is too slow. */
    def droppedCount: Long = dropped.get()

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val stateMem = p.stateOperators.map(_.memoryUsedBytes).sum
      buf.add(BatchMetric(
        p.id.toString, p.runId.toString,
        Option(p.name).getOrElse(""), p.batchId,
        p.timestamp, p.numInputRows,
        Option(p.inputRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
        Option(p.processedRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        stateRows, stateMem))
      if (buffered.incrementAndGet() > maxBuffered) {
        if (buf.poll() != null) { dropped.incrementAndGet(); () }
        buffered.decrementAndGet()
        ()
      }
    }

    /** Remove and return every buffered row — used by [[flush]] and by
      * callers that want the rows in-process (the bench's streaming
      * self-attribution embeds them in its summary artifact). */
    def drain(): Seq[BatchMetric] = {
      val rows = Iterator.continually(buf.poll()).takeWhile(_ != null).toSeq
      buffered.addAndGet(-rows.size)
      rows
    }

    /** Drain the buffer into the metrics table (one parquet file per
      * flush — run per N batches or on a timer in production; the
      * listener thread itself never touches I/O). */
    def flush(spark: SparkSession, path: String): Unit = {
      val rows = drain()
      if (rows.nonEmpty) {
        import spark.implicits._
        rows.toDF().coalesce(1).write.mode("append").parquet(path)
      }
    }
  }

  def metrics(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The on-call rollup: per (query name, runId) batch count, row
    * totals, worst/mean trigger duration, peak state size. */
  def summary(metricsDf: DataFrame): DataFrame =
    metricsDf.groupBy(col("name"), col("runId"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("numInputRows")).as("total_rows"),
        max(col("triggerDurationMs")).as("max_trigger_ms"),
        avg(col("triggerDurationMs")).as("mean_trigger_ms"),
        max(col("stateRows")).as("peak_state_rows"),
        max(col("stateMemoryBytes")).as("peak_state_bytes"))
      .orderBy(col("name"), col("runId"))
}
