package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.taskrouter.{Derivation, Ingest}

/** Batch/stream equivalence: the streaming changelog, reduced by
  * last-write-wins, must equal the batch derivation on the same events
  * (SURVEY §5.2.5). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def jstr(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
  private var seq = 0
  private def ce(et: String, ts: String, fields: (String, String)*): String = {
    seq += 1
    val payload = (Seq("eventtype" -> et, "timestamp" -> ts) ++ fields)
      .map { case (k, v) => jstr(k) + ":" + (if (v.startsWith("{")) jstr(v) else jstr(v)) }
      .mkString("{", ",", "}")
    s"""{"id":${jstr(f"SZ$seq%04d")},"type":${jstr("com.twilio.taskrouter." + et)},"data":{"payload":$payload,"publisher_metadata":{"account_sid":"AC1"}}}"""
  }

  private val taskFields = Seq(
    "task_sid" -> "WT9", "reservation_sid" -> "WR9", "worker_sid" -> "WK9",
    "task_channel_unique_name" -> "voice", "task_queue_name" -> "Support",
    "task_queue_sid" -> "WQ9", "workflow_name" -> "Main",
    "task_attributes" -> """{"direction":"inbound","from":"+1","to":"+2"}""")
  private def wk(act: String) = Seq(
    "worker_sid" -> "WKA", "worker_activity_name" -> act,
    "worker_attributes" -> """{"email":"a@b.c","roles":["agent"]}""")

  private def scenario: Seq[String] = Seq(
    ce("task-queue.entered", "2026-08-12T10:00:00.400Z", taskFields: _*),
    ce("reservation.created", "2026-08-12T10:00:05.900Z", taskFields: _*),
    ce("reservation.accepted", "2026-08-12T10:00:30.123Z", taskFields: _*),
    ce("reservation.wrapup", "2026-08-12T10:02:10.456Z", taskFields: _*),
    ce("reservation.completed", "2026-08-12T10:02:40.789Z", taskFields: _*),
    ce("worker.created", "2026-08-12T09:00:00.500Z", wk("Available"): _*),
    ce("worker.activity.update", "2026-08-12T09:05:00.100Z", wk("Busy"): _*),
    ce("worker.activity.update", "2026-08-12T09:06:00.200Z", wk("Break"): _*))

  private var qn = 0
  /** Run the streaming pipeline over micro-batches; return the
    * last-write-wins segment table. */
  private def runStream(batches: Seq[Seq[String]]): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    qn += 1
    val name = s"seg_changelog_$qn"
    val input = MemoryStream[String]
    val changelog = StreamingPipeline.segmentsChangelog(spark,
      StreamingPipeline.parseStream(spark, input.toDF()))
    val q = changelog.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    StreamingPipeline.latestSegments(spark.table(name))
  }

  private def batchSegments(events: Seq[String]): DataFrame =
    Derivation.segments(Ingest.parseJson(spark, spark.createDataset(events)))

  private def assertEquivalent(streamed: DataFrame, batch: DataFrame): Unit = {
    val s = streamed.orderBy("uuid").collect().toSeq
    val b = batch.orderBy("uuid").collect().toSeq
    assert(s.map(_.getAs[String]("uuid")) == b.map(_.getAs[String]("uuid")))
    s.zip(b).foreach { case (sr, br) => assert(sr == br, s"row mismatch:\n S=$sr\n B=$br") }
  }

  test("single micro-batch equals batch derivation") {
    val ev = scenario
    assertEquivalent(runStream(Seq(ev)), batchSegments(ev))
  }

  test("split micro-batches preserve cross-batch state") {
    val ev = scenario
    // split in event-time order (workers 09:00-09:06 before tasks
    // 10:00-10:02): the unified machine sees the true watermark, so a
    // batch must not deliver events already past the 1h horizon — the
    // worker span state crosses b1→b2, the reservation state b2→b3
    assertEquivalent(
      runStream(Seq(ev.slice(5, 7), ev.drop(7) ++ ev.take(3), ev.slice(3, 5))),
      batchSegments(ev))
  }

  test("events beyond the 1h watermark horizon are dropped deterministically") {
    // documented divergence from the reference (which trusts arrival
    // blindly, README.md:13): once the watermark passed 11:00, a 10:30
    // worker.created is late and emits nothing
    val late = Seq(
      ce("task-queue.entered", "2026-08-12T12:00:00.000Z", taskFields: _*))
    val lateWorker = Seq(
      ce("worker.created", "2026-08-12T10:30:00.000Z", wk("Available"): _*))
    val streamed = runStream(Seq(late, lateWorker))
    assert(streamed.filter($"segment_kind" === "AGENT STATUS IN PROGRESS").count() == 0)
  }

  test("out-of-order within a micro-batch is sorted by event time") {
    val ev = scenario
    assertEquivalent(runStream(Seq(ev.reverse)), batchSegments(ev))
  }

  test("duplicate deliveries are deduped by event id") {
    val ev = scenario
    assertEquivalent(runStream(Seq(ev, ev)), batchSegments(ev))
  }

  test("file-source streaming (readStream.text + availableNow) equals batch") {
    val ev = scenario
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    java.nio.file.Files.write(new java.io.File(dir, "b1.jsonl").toPath,
      ev.take(4).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "b2.jsonl").toPath,
      ev.drop(4).mkString("\n").getBytes("UTF-8"))
    qn += 1
    val name = s"seg_changelog_$qn"
    val raw = spark.readStream.text(dir.getPath)
    val changelog = StreamingPipeline.segmentsChangelog(spark,
      StreamingPipeline.parseStream(spark, raw))
    val q = changelog.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assertEquivalent(StreamingPipeline.latestSegments(spark.table(name)), batchSegments(ev))
  }

  test("duplicate accepted: only the first in-progress row converts (batch == stream)") {
    val ev = Seq(
      ce("task-queue.entered", "2026-08-12T11:00:00.000Z", taskFields: _*),
      ce("reservation.created", "2026-08-12T11:00:05.000Z", taskFields: _*),
      ce("reservation.accepted", "2026-08-12T11:00:10.000Z", taskFields: _*),
      ce("reservation.accepted", "2026-08-12T11:00:12.000Z", taskFields: _*),
      ce("reservation.completed", "2026-08-12T11:00:40.000Z", taskFields: _*))
    val streamed = runStream(Seq(ev))
    val batch = batchSegments(ev)
    assertEquivalent(streamed, batch)
    // reference: completed updates data()[0] — the first stored
    // in-progress row; the duplicate's row stays in progress
    assert(batch.filter($"segment_kind" === "CONVERSATION").count() == 1)
    assert(batch.filter($"segment_kind" === "CONVERSATION IN PROGRESS").count() == 1)
  }

  test("zero-duration call: completed at the accepted timestamp still converts") {
    val ev = Seq(
      ce("task-queue.entered", "2026-08-12T11:10:00.000Z", taskFields: _*),
      ce("reservation.created", "2026-08-12T11:10:05.000Z", taskFields: _*),
      ce("reservation.accepted", "2026-08-12T11:10:10.500Z", taskFields: _*),
      ce("reservation.completed", "2026-08-12T11:10:10.500Z", taskFields: _*))
    val streamed = runStream(Seq(ev))
    val batch = batchSegments(ev)
    assertEquivalent(streamed, batch)
    val conv = batch.filter($"segment_kind" === "CONVERSATION").collect()
    assert(conv.length == 1 && conv(0).getAs[Long]("talk_time") == 0L)
    assert(batch.filter($"segment_kind" === "CONVERSATION IN PROGRESS").count() == 0)
  }

  test("entry tied to the consumer's timestamp is excluded; older entry wins (batch == stream)") {
    // J1 is strictly-prior-by-time (reference `timestamp <`): an entered
    // at the consumer's exact timestamp must not match, and the machine
    // must fall back to the previous entry when one exists
    val tied = Seq(
      ce("reservation.created", "2026-08-12T12:00:01.000Z", taskFields: _*),
      ce("task-queue.entered", "2026-08-12T12:00:05.000Z", taskFields: _*),
      ce("reservation.accepted", "2026-08-12T12:00:05.000Z", taskFields: _*))
    assertEquivalent(runStream(Seq(tied)), batchSegments(tied))
    assert(batchSegments(tied).count() == 0)

    val fallback = Seq(
      ce("task-queue.entered", "2026-08-12T12:10:00.000Z", taskFields: _*),
      ce("task-queue.entered", "2026-08-12T12:10:30.000Z", taskFields: _*),
      ce("task.canceled", "2026-08-12T12:10:30.000Z", taskFields: _*))
    val b = batchSegments(fallback)
    assertEquivalent(runStream(Seq(fallback)), b)
    // falls back to the 12:10:00 entry → 30s in queue
    val q = b.filter($"segment_kind" === "QUEUE").collect()
    assert(q.length == 1 && q(0).getAs[Long]("queue_time") == 30L)
  }

  test("changelog upserts: completed converts the in-progress row in place") {
    val ev = scenario
    val changelogName = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      qn += 1
      val name = s"seg_changelog_$qn"
      val input = MemoryStream[String]
      val changelog = StreamingPipeline.segmentsChangelog(spark,
        StreamingPipeline.parseStream(spark, input.toDF()))
      val q = changelog.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { input.addData(ev); q.processAllAvailable() } finally q.stop()
      name
    }
    val log = spark.table(changelogName)
    // the CONVERSATION row reuses the CONVERSATION IN PROGRESS uuid
    val conv = log.filter($"segment_kind" === "CONVERSATION").select("uuid").collect()
    val inprog = log.filter($"segment_kind" === "CONVERSATION IN PROGRESS").select("uuid").collect()
    assert(conv.nonEmpty && inprog.nonEmpty)
    assert(conv.map(_.getString(0)).toSet == inprog.map(_.getString(0)).toSet)
    // last-write-wins keeps only the CONVERSATION version
    val latest = StreamingPipeline.latestSegments(log)
    assert(latest.filter($"segment_kind" === "CONVERSATION IN PROGRESS").count() == 0)
  }
}
