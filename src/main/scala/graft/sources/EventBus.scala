package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The bus-shaped ingestion seam (SURVEY S1: "at scale ingestion lands
  * on a bus and streaming sources take over"): a streaming source of
  * raw CloudEvent JSON lines with a per-micro-batch ADMISSION BOUND.
  *
  * Contract every implementation honors:
  *  - `open` returns a STREAMING DataFrame with exactly one string
  *    column `value` — one CloudEvent JSON line per row. Everything
  *    downstream ([[graft.streaming.StreamingPipeline.parseStream]]
  *    onward) is source-agnostic.
  *  - No micro-batch admits more than the source's bound of input:
  *    `maxFilesPerTrigger` for the file watcher, `rowsPerBatch` for the
  *    rate source. Bounded admission is the property that makes a
  *    100 TB cold start drain as N memory-sized batches instead of one
  *    corpus-sized batch — the knob differs per source, the contract
  *    does not (BoundedTriggerSpec proves merged-table equality across
  *    sources and boundedness per batch).
  */
trait EventBusSource {
  /** Open the stream: one string column `value`. */
  def open(spark: SparkSession): DataFrame
}

/** The directory watcher — the production shape for landed log files
  * (and the bench's replay source). Admission bound: files per
  * trigger, oldest mtime first. */
final case class FileBusSource(watchDir: String,
    maxFilesPerTrigger: Option[Int]) extends EventBusSource {
  override def open(spark: SparkSession): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.text(watchDir)
  }
}

/** The `rate-micro-batch` source mapped through a caller-supplied
  * line expression — the second in-container source that proves the
  * seam. Admission bound: `rowsPerBatch`, enforced exactly by the
  * source itself (each trigger emits precisely that many sequence
  * numbers). `toLine` turns the monotonically increasing `value`
  * sequence number into a JSON line (typically `element_at` into a
  * literal line array); a NULL line is dropped, which lets a finite
  * corpus ride an infinite source — sequence numbers past the corpus
  * map to NULL and the query is stopped once the sink catches up. */
final case class RateBusSource(rowsPerBatch: Int,
    toLine: Column => Column) extends EventBusSource {
  override def open(spark: SparkSession): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .load()
      .select(toLine(col("value")).as("value"))
      .filter(col("value").isNotNull)
}
