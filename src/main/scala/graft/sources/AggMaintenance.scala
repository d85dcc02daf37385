package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained AGGREGATE view — the materialized-view
  * analog of the edge-table / IVF-index / inverted-index maintenance
  * family: a stored rollup (here the monthly revenue summary) kept
  * current by appending MERGEABLE PARTIALS per batch instead of
  * re-scanning history. Sums and counts are algebraic, so each batch
  * writes only its own |groups|-sized partial frame; the read side
  * folds partials with one tiny groupBy, and [[compact]] periodically
  * collapses the partial log. This is exactly the write path a 100 TB
  * fact stream needs: per-batch cost is O(|batch| + |touched groups|),
  * never O(history) — where the reference recomputes nothing and
  * simply re-reads its whole in-memory table per render
  * (routes/index.js:9-10).
  *
  * Each batch's partial is published with [[Publish.once]] as
  * `partials/batch-<id>` (a replay must not double-count additive
  * partials), and [[compact]] replaces the partial log with
  * [[Publish.swap]].
  */
object AggMaintenance {

  private def partialsDir(path: String) = s"$path/partials"

  /** Monthly partial: (month, n_orders, revenue_cents) — both
    * aggregates algebraic/mergeable. ONE definition shared by rebuild,
    * merge, and the batch query's oracle semantics. */
  private def partials(orders: DataFrame): DataFrame =
    orders.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("revenue_cents"))

  private def readPartials(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(partialsDir(path))

  /** Full rebuild — the baseline the incremental path must stay
    * row-identical to. Clears any previous layout. */
  def rebuild(orders: DataFrame, path: String): Unit = {
    val spark = orders.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    partials(orders).write.mode("overwrite")
      .parquet(s"${partialsDir(path)}/base")
  }

  /** Merge one batch of fact rows, idempotent per batch id. */
  def mergeBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    val staging = s"$path/_staging/batch=$batchId"
    partials(batch).write.mode("overwrite").parquet(staging)
    Publish.once(batch.sparkSession, staging, s"${partialsDir(path)}/batch-$batchId")
  }

  /** The current aggregate: fold the partial log with one tiny
    * groupBy (|months| rows). */
  def read(spark: SparkSession, path: String): DataFrame =
    readPartials(spark, path)
      .groupBy(col("month"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("revenue_cents")).as("revenue_cents"))

  /** Collapse the partial log into a single base dir (run when the
    * batch-dir count grows). */
  def compact(spark: SparkSession, path: String): Unit =
    Publish.swap(spark, path, Seq("partials")) { staged =>
      read(spark, path).coalesce(1).write.mode("overwrite")
        .parquet(s"$staged/partials/base")
    }

  /** Streaming maintenance: each micro-batch of fact rows lands as one
    * partial via the same idempotent mergeBatch — foreachBatch retries
    * replay into the same batch dir and are discarded by the applied
    * marker (exactly-once for the additive sink). */
  def streamingMerge(stream: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch, path, id)
      }
      .start()
}
