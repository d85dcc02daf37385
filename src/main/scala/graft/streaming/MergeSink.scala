package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Publish

/** Incremental MERGE sink behind the two tables `GET /` reads — the
  * streaming equivalent of the reference's update-in-place tables
  * (routes/events.js:298-315, :225-256): the report can read the
  * latest state at any moment without re-aggregating an ever-growing
  * changelog.
  *
  * Each micro-batch folds its delta into a persisted table keyed by
  * one column and hash-partitioned by a 2-hex-char prefix (`uuid_p`):
  *
  *  1. reduce the batch to its per-key delta — a map-side-combined
  *     aggregation over the DELTA only;
  *  2. read back ONLY the table partitions the delta touches
  *     (partition pruning skips everything else);
  *  3. pick each key's winner over existing rows and delta;
  *  4. stage the merged touched partitions and swap each into place
  *     with [[Publish.swap]].
  *
  * Per-batch work is O(|delta| + |touched partitions|), independent of
  * changelog history length — the property `latestSegments` over the
  * full changelog lacks. On a lakehouse table format this step is
  * literally `MERGE INTO latest USING delta ON uuid` with file-level
  * pruning; the partitioned-parquet form here is the same algorithm
  * expressed against plain files.
  *
  * Replay converges after a crash at any point: the winner is
  * idempotent (deterministic keys, last-write-wins), and the swap
  * restores a partition a crashed batch moved aside before the replay
  * reads it. What it does not give is snapshot isolation: a reader
  * that lists files during a merge can still hit FILE_NOT_EXIST when a
  * partition it listed is swapped out (perfbench/README.md, "Known
  * behaviour").
  */
object MergeSink {

  private val PartCol = "uuid_p"

  /** Fold one changelog delta into the latest-segments table; the
    * winner per uuid is its row with the largest emit_seq. */
  def mergeBatch(spark: SparkSession, tablePath: String, batch: DataFrame): Unit = {
    val latest: Seq[String] => Column =
      cols => max_by(struct(cols.map(col): _*), col("emit_seq"))
    upsert(spark, tablePath, pick(batch, "uuid", latest), "uuid",
      substring(col("uuid"), 1, 2), latest)
  }

  /** Start the changelog stream into an incrementally-merged
    * latest-segments table. */
  def start(changelog: DataFrame, tablePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changelog.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch.sparkSession, tablePath, batch)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Read the maintained table as plain segment rows. */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath)
      .select(graft.taskrouter.Model.segmentColumns.map(col): _*)

  // ---------------------------------------------------------------
  // agents dimension (SCD-1 upsert, reference routes/events.js:225-256)
  // ---------------------------------------------------------------

  /** Fold one micro-batch of PARSED events into the agents dimension
    * table. The per-agent aggregate is mergeable: `date_joined` is a
    * min and every other column is a function of the winning (latest
    * by (ts_us, event_id)) event, whose key is persisted alongside the
    * row — so re-running the same min/max_by over (existing ∪ delta)
    * IS the MERGE, batch-boundary-independent by construction. */
  def mergeAgents(spark: SparkSession, tablePath: String, parsedBatch: DataFrame): Unit =
    upsert(spark, tablePath, graft.taskrouter.Derivation.agentsKeyed(parsedBatch),
      "agent_uuid", substring(md5(col("agent_uuid").cast("binary")), 1, 2),
      cols => {
        val last = max_by(struct(cols.filter(_ != "date_joined").map(col): _*),
          struct(col("last_ts_us"), col("last_event_id")))
        struct(cols.map {
          case "date_joined" => min(col("date_joined")).as("date_joined")
          case c => last(c).as(c)
        }: _*)
      })

  /** Stream PARSED events into an incrementally-merged agents table. */
  def startAgents(parsed: DataFrame, tablePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeAgents(batch.sparkSession, tablePath, batch)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Read the maintained agents dimension. */
  def readAgents(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath)
      .select(graft.taskrouter.Model.agentColumns.map(col): _*)

  // ---------------------------------------------------------------

  /** One row per `key`: `winner` maps the other column names to an
    * aggregate struct holding each of them. Columns keep their order
    * when `key` comes first. */
  private def pick(df: DataFrame, key: String, winner: Seq[String] => Column): DataFrame = {
    val cols = df.columns.filter(_ != key).toSeq
    df.groupBy(col(key)).agg(winner(cols).as("w"))
      .select(col(key) +: cols.map(n => col(s"w.$n").as(n)): _*)
  }

  /** Upsert a per-key delta into the table at `tablePath`, partitioned
    * by `part` (a function of `key`). Exactly four Spark actions per
    * non-empty batch, in this order: delta checkpoint, touched-set
    * collect, merged checkpoint, one parquet write. */
  private def upsert(spark: SparkSession, tablePath: String, rows: DataFrame,
      key: String, part: Column, winner: Seq[String] => Column): Unit = {
    // Checkpoint FIRST, emptiness check after: inside foreachBatch
    // every action on the batch re-executes the upstream micro-batch
    // plan (the whole parse + state-machine pipeline), so a separate
    // isEmpty probe doubled the per-batch cost; on the checkpointed
    // delta it's free.
    val delta = rows.withColumn(PartCol, part).localCheckpoint()

    // one job answers both "is the delta empty?" and "which partitions
    // does it touch?"
    val touched = delta.select(PartCol).distinct()
      .collect().map(_.getString(0)).toSeq
    if (touched.isEmpty) return

    Publish.swap(spark, tablePath, touched.map(p => s"$PartCol=$p")) { staged =>
      val existing =
        if (hasPartitions(spark, tablePath))
          spark.read.parquet(tablePath)
            .filter(col(PartCol).isin(touched: _*)) // partition-pruned scan
            .select(delta.columns.map(col): _*)
        else delta.limit(0)
      pick(existing.unionByName(delta), key, winner)
        // cluster by the partition column BEFORE the partitioned write:
        // without this every shuffle task holds ~every uuid prefix and
        // the write fans out to tasks × partitions tiny files (measured
        // 8192/batch at sf0.1); clustered, each partition directory
        // gets exactly one file
        .repartition(col(PartCol))
        // The staged write reads nothing it replaces, so this guards no
        // self-overwrite; whether dropping it pays is to be measured on
        // the `live` benchmark, whose merge phases assume it.
        .localCheckpoint()
        .write.mode("overwrite").partitionBy(PartCol).parquet(staged)
    }
  }

  /** Whether the table holds a partition yet: a crash during the very
    * first batch leaves only hidden staging, which `spark.read.parquet`
    * cannot infer a schema from. */
  private def hasPartitions(spark: SparkSession, tablePath: String): Boolean = {
    val parts = new Path(tablePath, s"$PartCol=*")
    Option(parts.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(parts))
      .exists(_.nonEmpty)
  }
}
