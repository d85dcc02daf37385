package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.EventLog
import graft.streaming.StreamingPipeline
import graft.taskrouter.{Derivation, Ingest}

/** End-to-end façade — what a user of the reference app switches to:
  *
  * {{{
  * // batch: CloudEvent JSON → event log → reporting tables
  * Pipeline.ingestJson(spark, jsonLines, logPath)
  * Pipeline.deriveTables(spark, logPath, outPath)
  * val segments = Pipeline.segments(spark, outPath)
  * val report   = graft.report.Report.conversationsReport(segments)
  *
  * // streaming: file-source CloudEvents → MERGE-by-uuid latest tables
  * val q = Pipeline.startStreamingMerged(spark, watchDir, checkpoint, outPath)
  * val latest = Pipeline.mergedSegments(spark, outPath)
  * }}}
  */
object Pipeline {

  /** Default admission cap for the streaming file source: no micro-batch
    * admits more than this many files, so batch size is bounded by file
    * size × cap regardless of how much history sits in the watch
    * directory. At 100 TB a cold start (or a backlog after downtime)
    * must replay as many bounded batches, not one corpus-sized batch —
    * an unbounded batch is the one shape that cannot be sized to
    * executor memory. `AvailableNow` honors the cap and still drains
    * everything (admission control, then terminates). */
  val DefaultMaxFilesPerTrigger = 32

  /** Parse raw CloudEvent JSON lines and append to the date-partitioned
    * event log (dedup happens at read/derive time — the log is an
    * immutable append store). */
  def ingestJson(spark: SparkSession, json: Dataset[String], logPath: String): Unit =
    EventLog.append(Ingest.parseJson(spark, json), logPath)

  /** Stage a corpus into `dir` as `chunks` time-ordered text files with
    * strictly ascending modification times — the layout a bounded
    * trigger (maxFilesPerTrigger) replays as in-order micro-batches.
    * `valueCol` is the JSON line, `tsCol` its event time: range
    * partitioning makes chunk N+1's earliest event no older than chunk
    * N's latest, so nothing lands behind the watermark between batches
    * (the arrival order a real log ingest provides for free). The
    * ascending mtimes pin the file source's oldest-first admission
    * order even though all chunks are written in one job. */
  def stageOrderedJson(events: DataFrame, tsCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column, dir: String, chunks: Int): Unit = {
    import org.apache.spark.sql.functions.col
    events.select(valueCol.as("value"), tsCol.cast("timestamp").as("__ts"))
      .repartitionByRange(chunks, col("__ts"))
      .sortWithinPartitions("__ts")
      .select("value")
      .write.mode("overwrite").text(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - files.length * 2000L
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 2000L); ()
    }
  }

  /** Derive and persist the reporting model from the event log. */
  def deriveTables(spark: SparkSession, logPath: String, outPath: String): Unit = {
    val parsed = EventLog.read(spark, logPath)
      .dropDuplicates("event_id") // replays across appended batches
    Derivation.segments(parsed).write.mode("overwrite")
      .parquet(s"$outPath/segments")
    Derivation.agents(parsed).write.mode("overwrite")
      .parquet(s"$outPath/agents")
  }

  def segments(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/segments")

  def agents(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/agents")

  // The ingestion seam: every streaming entry point reads through an
  // admission-bounded [[graft.sources.EventBusSource]]; the watchDir
  // overloads below are the file-source convenience wrappers
  // (BoundedTriggerSpec proves the seam with the file and rate sources).

  /** Continuous mode with an incrementally-maintained latest table (the
    * reference's update-in-place behavior, routes/events.js:298-315):
    * each micro-batch MERGEs its delta by uuid into
    * `outPath/segments_latest`, so reads never re-aggregate history.
    * `stateTtlMs` bounds per-key state machine memory (event-time
    * eviction once the watermark passes newest-event + TTL). */
  def startStreamingMerged(spark: SparkSession, watchDir: String,
      checkpointDir: String, outPath: String,
      stateTtlMs: Option[Long] = Some(24L * 3600 * 1000),
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger)): StreamingQuery =
    startStreamingMerged(spark,
      graft.sources.FileBusSource(watchDir, maxFilesPerTrigger),
      checkpointDir, outPath, stateTtlMs, trigger)

  /** [[startStreamingMerged]] over any admission-bounded bus source. */
  def startStreamingMerged(spark: SparkSession,
      source: graft.sources.EventBusSource,
      checkpointDir: String, outPath: String,
      stateTtlMs: Option[Long],
      trigger: Trigger): StreamingQuery = {
    val raw = source.open(spark)
    val changelog = StreamingPipeline.segmentsChangelog(spark,
      StreamingPipeline.parseStream(spark, raw), stateTtlMs)
    graft.streaming.MergeSink.start(changelog,
      s"$outPath/segments_latest", checkpointDir, trigger)
  }

  /** The incrementally-merged latest-segments table. */
  def mergedSegments(spark: SparkSession, outPath: String): DataFrame =
    graft.streaming.MergeSink.read(spark, s"$outPath/segments_latest")

  /** Continuous agents dimension (the reference's SCD-1 upsert,
    * routes/events.js:225-256): each micro-batch's per-agent partial
    * aggregate MERGEs into `outPath/agents_latest` by agent_uuid. */
  def startStreamingAgents(spark: SparkSession, watchDir: String,
      checkpointDir: String, outPath: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = Some(DefaultMaxFilesPerTrigger)): StreamingQuery =
    startStreamingAgents(spark,
      graft.sources.FileBusSource(watchDir, maxFilesPerTrigger),
      checkpointDir, outPath, trigger)

  /** [[startStreamingAgents]] over any admission-bounded bus source. */
  def startStreamingAgents(spark: SparkSession,
      source: graft.sources.EventBusSource,
      checkpointDir: String, outPath: String,
      trigger: Trigger): StreamingQuery = {
    val raw = source.open(spark)
    graft.streaming.MergeSink.startAgents(
      StreamingPipeline.parseStream(spark, raw),
      s"$outPath/agents_latest", checkpointDir, trigger)
  }

  /** The incrementally-merged agents dimension. */
  def mergedAgents(spark: SparkSession, outPath: String): DataFrame =
    graft.streaming.MergeSink.readAgents(spark, s"$outPath/agents_latest")
}
