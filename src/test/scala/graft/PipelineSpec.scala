package graft

import scala.jdk.CollectionConverters._

import graft.taskrouter.{Derivation, Ingest, Synth}

/** End-to-end façade test: JSON → log → derived tables → report, and
  * the checkpointed MERGE-by-uuid streaming tables over the same inputs. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getPath

  test("batch pipeline: ingest, derive, read back, report") {
    val log = tmp("graft-pipe-log")
    val out = tmp("graft-pipe-out")
    // serialize the synthesized envelopes back to raw CloudEvent JSON
    val raw = Synth.cloudEvents(spark, sf0001)
      .select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct($"id", $"type", $"data")).as("j"))
      .as[String]
    Pipeline.ingestJson(spark, raw, log)
    Pipeline.deriveTables(spark, log, out)
    val segs = Pipeline.segments(spark, out)
    val agents = Pipeline.agents(spark, out)
    assert(segs.count() == Synth.segments(spark, sf0001).count())
    assert(agents.count() == Synth.agents(spark, sf0001).count())
    val report = graft.report.Report.conversationsReport(segs)
    assert(report.count() == segs.count())
  }

  test("incremental MERGE-by-uuid sink maintains the latest table across micro-batches") {
    val watch = tmp("graft-merge-watch")
    val ckpt = tmp("graft-merge-ckpt")
    val out = tmp("graft-merge-out")
    val events = Seq(
      """{"id":"MG1","type":"com.twilio.taskrouter.task-queue.entered","data":{"payload":{"eventtype":"task-queue.entered","timestamp":"2026-08-12T10:00:00.400Z","task_sid":"WTmg","reservation_sid":"WRmg","worker_sid":"WKmg","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""",
      """{"id":"MG2","type":"com.twilio.taskrouter.reservation.created","data":{"payload":{"eventtype":"reservation.created","timestamp":"2026-08-12T10:00:05.900Z","task_sid":"WTmg","reservation_sid":"WRmg","worker_sid":"WKmg","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""",
      """{"id":"MG3","type":"com.twilio.taskrouter.reservation.accepted","data":{"payload":{"eventtype":"reservation.accepted","timestamp":"2026-08-12T10:00:30.123Z","task_sid":"WTmg","reservation_sid":"WRmg","worker_sid":"WKmg","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""",
      """{"id":"MG4","type":"com.twilio.taskrouter.reservation.completed","data":{"payload":{"eventtype":"reservation.completed","timestamp":"2026-08-12T10:02:40.789Z","task_sid":"WTmg","reservation_sid":"WRmg","worker_sid":"WKmg","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""")
    // batch 1 inserts the queue + in-progress rows; batch 2's completed
    // must MERGE the conversion over the in-progress row by uuid
    java.nio.file.Files.write(new java.io.File(watch, "a.jsonl").toPath,
      events.take(3).mkString("\n").getBytes("UTF-8"))
    val q1 = Pipeline.startStreamingMerged(spark, watch, ckpt, out)
    q1.awaitTermination(120000)
    val mid = Pipeline.mergedSegments(spark, out)
    assert(mid.filter($"segment_kind" === "CONVERSATION IN PROGRESS").count() == 1)

    java.nio.file.Files.write(new java.io.File(watch, "b.jsonl").toPath,
      events.drop(3).mkString("\n").getBytes("UTF-8"))
    val q2 = Pipeline.startStreamingMerged(spark, watch, ckpt, out)
    q2.awaitTermination(120000)

    val merged = Pipeline.mergedSegments(spark, out)
    val batch = Derivation.segments(
      Ingest.parseJson(spark, spark.createDataset(events)))
    assert(merged.orderBy("uuid").collect().toSeq ==
      batch.orderBy("uuid").collect().toSeq)
    // the in-progress row was updated in place, not duplicated
    assert(merged.filter($"segment_kind" === "CONVERSATION IN PROGRESS").count() == 0)
    // clustered merge write: one file per range, not tasks × ranges
    // (the 8192-file fan-out fixed in r6)
    val table = s"$out/segments_latest"
    val v = graft.streaming.MergeSink.newest(spark, table).get
    assert(v.files.map(_.range).sorted == (0 until v.ranges))
    v.files.foreach { f =>
      val dir = new java.io.File(table, f.path).getParentFile
      val files = dir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${dir.getName}: $files files")
    }
  }

  test("merge is idempotent: replaying the same delta converges to the same table") {
    // the exactly-once story under foreachBatch retries: deterministic
    // uuids + last-write-wins make a replayed batch a no-op
    val out = tmp("graft-merge-idem")
    val events = Seq(
      """{"id":"ID1","type":"com.twilio.taskrouter.task-queue.entered","data":{"payload":{"eventtype":"task-queue.entered","timestamp":"2026-08-12T11:00:00.000Z","task_sid":"WTid","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""",
      """{"id":"ID2","type":"com.twilio.taskrouter.reservation.created","data":{"payload":{"eventtype":"reservation.created","timestamp":"2026-08-12T11:00:05.000Z","task_sid":"WTid","reservation_sid":"WRid","worker_sid":"WKid","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""",
      """{"id":"ID3","type":"com.twilio.taskrouter.reservation.accepted","data":{"payload":{"eventtype":"reservation.accepted","timestamp":"2026-08-12T11:00:20.000Z","task_sid":"WTid","reservation_sid":"WRid","worker_sid":"WKid","task_queue_name":"Q"},"publisher_metadata":{"account_sid":"AC1"}}}""")
    val changelog = graft.streaming.StreamingPipeline.segmentsChangelog(spark,
      Ingest.parseJson(spark, spark.createDataset(events)))
    graft.streaming.MergeSink.mergeBatch(spark, s"$out/t", changelog)
    val once = graft.streaming.MergeSink.read(spark, s"$out/t")
      .orderBy("uuid").collect().toSeq
    assert(once.nonEmpty)
    graft.streaming.MergeSink.mergeBatch(spark, s"$out/t", changelog)
    val twice = graft.streaming.MergeSink.read(spark, s"$out/t")
      .orderBy("uuid").collect().toSeq
    assert(twice == once)
  }

  test("incremental agents MERGE equals the batch dimension across micro-batches") {
    val watch = tmp("graft-agents-watch")
    val ckpt = tmp("graft-agents-ckpt")
    val out = tmp("graft-agents-out")
    def wk(id: String, et: String, ts: String, act: String, attrs: String) =
      s"""{"id":"$id","type":"com.twilio.taskrouter.$et","data":{"payload":{"eventtype":"$et","timestamp":"$ts","worker_sid":"WKag","worker_activity_name":"$act","worker_attributes":$attrs},"publisher_metadata":{"account_sid":"AC1"}}}"""
    val events = Seq(
      wk("AG1", "worker.created", "2026-08-12T09:00:00.000Z", "Available",
        "\"{\\\"email\\\":\\\"a@x.co\\\",\\\"team_name\\\":\\\"T1\\\"}\""),
      wk("AG2", "worker.activity.update", "2026-08-12T09:10:00.000Z", "Busy",
        "\"{\\\"email\\\":\\\"a@x.co\\\",\\\"team_name\\\":\\\"T2\\\"}\""),
      wk("AG3", "worker.attributes.update", "2026-08-12T09:20:00.000Z", "Busy",
        "\"{\\\"email\\\":\\\"b@x.co\\\",\\\"team_name\\\":\\\"T3\\\"}\""))
    // batch 1: created; batch 2: updates MERGE over the existing row
    java.nio.file.Files.write(new java.io.File(watch, "a.jsonl").toPath,
      events.take(1).mkString("\n").getBytes("UTF-8"))
    val q1 = Pipeline.startStreamingAgents(spark, watch, ckpt, out)
    q1.awaitTermination(120000)
    val mid = Pipeline.mergedAgents(spark, out).collect()
    assert(mid.length == 1 && mid(0).getAs[String]("team_name") == "T1")

    java.nio.file.Files.write(new java.io.File(watch, "b.jsonl").toPath,
      events.drop(1).mkString("\n").getBytes("UTF-8"))
    val q2 = Pipeline.startStreamingAgents(spark, watch, ckpt, out)
    q2.awaitTermination(120000)

    val merged = Pipeline.mergedAgents(spark, out)
    val batch = Derivation.agents(
      Ingest.parseJson(spark, spark.createDataset(events)))
    assert(merged.orderBy("agent_uuid").collect().toSeq ==
      batch.orderBy("agent_uuid").collect().toSeq)
    // last-write-wins: attrs from the newest event, date_joined from the first
    val row = merged.collect()(0)
    assert(row.getAs[String]("team_name") == "T3")
    assert(row.getAs[String]("email") == "b@x.co")
  }

  // --- MERGE sink over tiny (uuid, emit_seq, v) deltas ------------------

  private def mergeTiny(t: String, rows: (String, Long, String)*): Unit =
    graft.streaming.MergeSink.mergeBatch(spark, t, rows.toDF("uuid", "emit_seq", "v"))

  /** Each file of the newest version: its range, the version's range
    * count and the file's rows. */
  private def tinyFiles(t: String): Seq[(Int, Int, Set[(String, Long, String)])] = {
    val v = graft.streaming.MergeSink.newest(spark, t).get
    v.files.map { f =>
      (f.range, v.ranges, spark.read.schema(v.schema).parquet(s"$t/${f.path}")
        .select("uuid", "emit_seq", "v").as[(String, Long, String)].collect().toSet)
    }
  }

  private def tinyRows(t: String): Set[(String, Long, String)] =
    tinyFiles(t).flatMap(_._3).toSet

  /** Run `f` with `spark.sql.files.maxPartitionBytes` set to `bytes`. */
  private def withMaxPartitionBytes[A](bytes: Long)(f: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try f
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // A key's prefix is its first two chars. Partition discovery typed a
  // uuid_p=05 directory as an integer; a read with the recorded schema
  // must keep every key a string, whatever its prefix.

  test("MERGE sink: a table whose prefixes are all digits takes a hex prefix") {
    val t = s"${tmp("graft-merge-digits")}/t"
    mergeTiny(t, ("05a", 1L, "x"))
    mergeTiny(t, ("0ab", 1L, "y"))
    assert(tinyRows(t) == Set(("05a", 1L, "x"), ("0ab", 1L, "y")))
    assert(graft.streaming.MergeSink.newest(spark, t).get.schema("uuid").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("MERGE sink: an existing row that wins keeps its all-digit prefix") {
    // an integer-typed read would restage the winner as key "5"
    val t = s"${tmp("graft-merge-digits-win")}/t"
    mergeTiny(t, ("05a", 2L, "new"))
    mergeTiny(t, ("05a", 1L, "stale"))
    assert(tinyRows(t) == Set(("05a", 2L, "new")))
    assert(new java.io.File(t).list().toSet == Set("_v", "_data"))
  }

  test("MERGE sink: a row's range is a function of its key alone") {
    // range = pmod(xxhash64(key), 65536) * ranges / 65536, replayed with
    // Spark's own hash (seed 42); a 1-byte scan partition makes the
    // table spread over many ranges, so keys land apart
    def range(key: String, ranges: Int): Int = {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(key), 42L)
      (java.lang.Math.floorMod(h, 65536L) * ranges / 65536).toInt
    }
    val want = Set(("05a", 2L, "new"), ("0ab", 1L, "y"), ("1", 1L, "z"))
    withMaxPartitionBytes(1) {
      val a = s"${tmp("graft-merge-route-a")}/t"
      mergeTiny(a, ("05a", 2L, "new"), ("0ab", 1L, "y"))
      mergeTiny(a, ("05a", 1L, "stale"), ("1", 1L, "z"))
      val b = s"${tmp("graft-merge-route-b")}/t"
      Seq(("1", 1L, "z"), ("0ab", 1L, "y"), ("05a", 1L, "stale"), ("05a", 2L, "new"))
        .foreach(mergeTiny(b, _))
      Seq(a, b).foreach { t =>
        val files = tinyFiles(t)
        assert(files.map(_._2).head > 1, files)
        assert(tinyRows(t) == want)
        files.foreach { case (r, ranges, rows) =>
          rows.foreach(row => assert(range(row._1, ranges) == r, (row, r, ranges)))
        }
      }
    }
  }

  test("MERGE sink: a table grows its range count with its bytes") {
    val parsed = Ingest.parse(Synth.cloudEvents(spark, sf0001)).localCheckpoint()
    val changelog = graft.streaming.StreamingPipeline.segmentsChangelog(spark, parsed)
      .localCheckpoint()
    val mid = changelog.stat.approxQuantile("emit_seq", Array(0.5), 0.0).head
    val t = s"${tmp("graft-merge-grow")}/t"
    graft.streaming.MergeSink.mergeBatch(spark, t, changelog.filter($"emit_seq" < mid))
    val first = graft.streaming.MergeSink.newest(spark, t).get
    assert(first.ranges == 1 && first.files.size == 1)
    // the recorded bytes no longer fit one scan partition, but fit two
    withMaxPartitionBytes(first.bytes - 1) {
      graft.streaming.MergeSink.mergeBatch(spark, t, changelog.filter($"emit_seq" >= mid))
    }
    val grown = graft.streaming.MergeSink.newest(spark, t).get
    assert(grown.ranges == 2)
    // every file rewritten into this version's staging, one per range
    assert(grown.files.map(_.range).sorted == Seq(0, 1))
    assert(grown.files.forall(_.path.startsWith(s"_data/${grown.id}/")), grown.files)
    val got = graft.streaming.MergeSink.read(spark, t).orderBy("uuid").collect().toSeq
    assert(got == Derivation.segments(parsed).orderBy("uuid").collect().toSeq)
  }

  test("MERGE sink: a merge never reads or changes a file that no record names") {
    val t = s"${tmp("graft-merge-unnamed")}/t"
    mergeTiny(t, ("aa1", 1L, "a"), ("bb1", 1L, "b"))
    // unnamed files: a legacy-layout directory (which whole-table
    // partition discovery rejects: a second partition column under one
    // uuid_p) and a stale staging directory of a crashed attempt,
    // holding a row no merge wrote
    Seq(1).toDF("n").write.parquet(s"$t/uuid_p=zz/x=1")
    Seq(("zz1", 9L, "stale")).toDF("uuid", "emit_seq", "v")
      .write.parquet(s"$t/_data/7/range=0")
    def zz(): Set[String] = {
      val root = java.nio.file.Paths.get(t, "uuid_p=zz")
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(p => s"${root.relativize(p)}:${p.toFile.length}").toSet
      finally walk.close()
    }
    val planted = zz()
    mergeTiny(t, ("aa1", 2L, "a2"))
    assert(tinyRows(t) == Set(("aa1", 2L, "a2"), ("bb1", 1L, "b")))
    assert(zz() == planted)
    // the stale staging is pruned: no record names it
    assert(!new java.io.File(t, "_data/7").exists())
  }
}
