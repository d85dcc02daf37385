package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Pipeline

/** `live`: a consumer restart followed by live traffic, read by a user.
  *
  *  0. Set-up (`prepare`, repeated per set-up round): synthesize the
  *     corpus and stage its first half as chunk files.
  *  1. Backfill: both streaming queries start on a processing-time
  *     trigger with the default admission bound and drain the staged
  *     half (events landing at once after an outage). The half is staged
  *     as as many chunks as the bound admits, so it drains as one cold
  *     micro-batch per query: `drain_eps` is that batch's rate.
  *  2. Live: an open-loop generator thread writes the second half as
  *     chunk files on a fixed schedule, first at a low and then at a high
  *     rate.
  *  3. Reads: once every emitted file is merged and the queries have
  *     stopped, a fixed number of `GET /` renders in a closed loop. A
  *     render that overlaps a MERGE can fail (the sink's partition
  *     overwrite deletes files a read has listed), so reads do not run
  *     while the queries do.
  *  4. The batch derivation (`ingestJson` + `deriveTables`) over exactly
  *     the emitted events, timed, which is also the reference the merged
  *     tables are checked against. */
object Live {
  /** The open-loop schedule: one file every `FileEveryMs`; a step's
    * event rate sets how many events each file carries. The rates are
    * about 1/10 and 1/2 of the backfill drain rate measured on a 4-core
    * box, fixed here so that every commit sees the same input. */
  val FileEveryMs = 500L
  val LowRate = 12.0
  val HighRate = 60.0
  val TriggerMs = 1000L
  /** Chunk files the backfilled half is staged as: the file source's
    * default admission bound (files per trigger). */
  val Chunks: Int = Pipeline.DefaultMaxFilesPerTrigger
  /** `GET /` renders per run, after the stream has drained. */
  val Reads = 3
  /** How long a run waits for the last emitted file to be merged. */
  val DrainTimeoutMs = 45000L
  /** `startStreamingMerged`'s default state TTL. */
  val StateTtlMs: Long = 24L * 3600 * 1000

  final case class Emitted(name: String, step: String, dueMs: Double, writtenMs: Double,
      events: Int, bytes: Long)

  final case class Dirs(base: String) {
    val watch = s"$base/in"
    val stage = s"$base/stage"
    val out = s"$base/out"
    val ckSeg = s"$base/ckpt-segments"
    val ckAg = s"$base/ckpt-agents"
  }

  /** What a set-up round leaves for the run: the corpus, and its
    * first half staged as chunk files in a fresh watch directory. */
  final case class Prepared(corpus: Corpus, half: Int, dirs: Dirs, staged: Set[String])

  private def mergedAll(queries: Seq[(String, StreamingQuery, Checkpoint)], names: Set[String]): Boolean =
    queries.forall { case (_, _, ck) =>
      val fb = ck.fileBatches
      val done = ck.commits.keySet
      names.forall(n => fb.get(n).exists(done.contains))
    }

  private def alive(queries: Seq[(String, StreamingQuery, Checkpoint)]): Boolean =
    queries.forall(_._2.isActive)

  /** Set-up: synthesize the corpus and stage its first half as ordered
    * chunk files. */
  def prepare(spark: SparkSession, a: Args, round: Int): Prepared = {
    Fs.rm(new java.io.File(s"${a.work}/live-${round - 1}"))
    val d = Dirs(Fs.fresh(s"${a.work}/live-$round"))
    val corpus = Trace.span("corpus", "sources")(Corpus.load(spark, a.data))
    val half = corpus.size / 2
    val first = corpus.dataset(spark, 0, half).toDF("value")
    Trace.span("stage", "sources")(Pipeline.stageOrderedJson(first,
      get_json_object(col("value"), "$.data.payload.timestamp"), col("value"), d.watch, Chunks))
    val staged = Option(new java.io.File(d.watch).listFiles).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    Fs.fresh(d.stage)
    Prepared(corpus, half, d, staged)
  }

  /** Backfill: start both queries and wait until they merged the staged
    * half. Returns the drain seconds and the running queries. */
  private def backfill(spark: SparkSession, p: Prepared): (Double, Seq[(String, StreamingQuery, Checkpoint)]) = {
    val d = p.dirs
    val t0 = System.nanoTime()
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val queries = Seq(
      ("segments", Trace.span("start.segments", "streaming")(
        Pipeline.startStreamingMerged(spark, d.watch, d.ckSeg, d.out, Some(StateTtlMs), trigger)),
        new Checkpoint(d.ckSeg)),
      ("agents", Trace.span("start.agents", "streaming")(
        Pipeline.startStreamingAgents(spark, d.watch, d.ckAg, d.out, trigger)),
        new Checkpoint(d.ckAg)))
    Trace.span("backfill.drain", "streaming") {
      while (alive(queries) && !mergedAll(queries, p.staged)) Thread.sleep(50)
    }
    (Clock.sec(t0), queries)
  }

  /** The single-threaded baseline: the same backfill drain in a process
    * whose session runs `local[1]`. */
  def baseline(spark: SparkSession, a: Args, p: Prepared): Result = {
    val (drainS, queries) = backfill(spark, p)
    val failures = queries.flatMap(_._2.exception.map(e => s"drain failed: ${e.getMessage.take(300)}"))
    queries.foreach(_._2.stop())
    Result(queries.size.toLong, failures.size.toLong, failures, gate = Map.empty,
      named = Map("drain_eps" -> p.half / drainS, "drain_s" -> drainS), layers = Map.empty,
      detail = Map("events" -> p.half))
  }

  def run(spark: SparkSession, a: Args, p: Prepared): Result = {
    val d = p.dirs
    val problems = mutable.ArrayBuffer.empty[String]
    val (drainS, queries) = backfill(spark, p)
    val (corpus, half) = (p.corpus, p.half)
    val backfillBatches = queries.map(_._3.commits.size).sum

    val emitted = mutable.ArrayBuffer.empty[Emitted]
    val sent = new AtomicLong(half.toLong)
    val steps = Seq("low" -> LowRate, "high" -> HighRate)
    val stepMs = a.seconds * 1000L / steps.size
    val loads = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    val generator = new Thread("graftbench-generator") {
      // open loop: a file's due time never depends on the system
      override def run(): Unit = {
        var next = half
        val t0 = System.currentTimeMillis() + FileEveryMs
        steps.zipWithIndex.foreach { case ((step, rate), si) =>
          val l0 = Load.sample()
          val stepStart = t0 + si * stepMs
          val perFile = math.max(1, math.round(rate * FileEveryMs / 1000.0).toInt)
          var k = 0
          while (k < stepMs / FileEveryMs && next < corpus.size) {
            val due = stepStart + k * FileEveryMs
            val wait = due - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            val until = math.min(corpus.size, next + perFile)
            val body = corpus.lines.slice(next, until).mkString("", "\n", "\n").getBytes(UTF_8)
            val name = f"$step-$k%05d.json"
            Fs.publish(d.watch, name, body, d.stage)
            val written = System.currentTimeMillis().toDouble
            emitted.synchronized(emitted += Emitted(name, step, due.toDouble, written,
              until - next, body.length))
            next = until
            sent.set(next.toLong)
            k += 1
          }
          loads(step) = Load.between(l0, Load.sample())
        }
      }
    }
    val l0 = Load.sample()
    generator.start()
    generator.join()
    val tWindow = System.nanoTime()
    val stepNames = emitted.map(_.name).toSet
    val drainDeadline = System.currentTimeMillis() + DrainTimeoutMs
    while (alive(queries) && !mergedAll(queries, stepNames) && System.currentTimeMillis() < drainDeadline)
      Thread.sleep(100)
    val tDrained = System.nanoTime()
    val windowLoad = Load.between(l0, Load.sample())
    queries.foreach { case (n, q, _) =>
      q.exception.foreach(e => problems += s"$n stream failed: ${e.getMessage.take(300)}") }
    val streamFailures = problems.size
    queries.foreach(_._2.stop())
    val tStopped = System.nanoTime()
    if (!mergedAll(queries, stepNames))
      problems += s"not every emitted file was merged within ${DrainTimeoutMs / 1000}s of the last write"

    // the reader: `GET /` renders over the merged tables, one at a time
    val reads = mutable.ArrayBuffer.empty[ReportRead.Read]
    val readErrors = mutable.ArrayBuffer.empty[String]
    (1 to Reads).foreach { _ =>
      try reads += ReportRead.once((Pipeline.mergedSegments(spark, d.out), Pipeline.mergedAgents(spark, d.out)))
      catch { case e: Exception => readErrors += e.toString.take(300) }
    }
    val tRead = System.nanoTime()

    // per-file latency: creation stamp (the due time) to the later of
    // the two commits that merged the file
    val commitOf: Seq[Map[String, Double]] = queries.map { case (_, _, ck) =>
      val c = ck.commits
      ck.fileBatches.flatMap { case (f, bid) => c.get(bid).map(f -> _) }
    }
    val admitOf: Seq[Map[String, Double]] = queries.map { case (_, _, ck) =>
      val o = ck.offsets
      ck.fileBatches.flatMap { case (f, bid) => o.get(bid).map(f -> _) }
    }
    val named = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val all = emitted.toSeq
    val backlogMax = steps.map { case (step, rate) =>
      val files = all.filter(_.step == step)
      val lat = files.flatMap { f =>
        val cs = commitOf.flatMap(_.get(f.name))
        if (cs.size == commitOf.size) Some(((cs.max - f.dueMs) / 1000.0, f.events.toLong)) else None
      }
      val late = files.map(f => f.writtenMs - f.dueMs)
      // backlog at each write: generated files written but not yet admitted
      val backlog = files.map { f =>
        admitOf.map(adm => all.count(_.writtenMs <= f.writtenMs) -
          all.count(e => adm.get(e.name).exists(_ <= f.writtenMs))).max.toDouble
      }
      val third = math.max(1, backlog.size / 3)
      val growing = backlog.size >= 6 &&
        Stats.median(backlog.takeRight(third)) > 2 * Stats.median(backlog.take(third)) + 2
      if (growing) System.err.println(s"[live] step $step: backlog grew steadily; rate above sustainable")
      named(s"live_${step}_p50_s") = Stats.weightedQuantile(lat, 0.5)
      named(s"live_${step}_p99_s") = Stats.weightedQuantile(lat, 0.99)
      named(s"live_${step}_mean_s") = lat.map { case (l, n) => l * n }.sum / math.max(1L, lat.map(_._2).sum)
      detail(s"step_$step") = Map(
        "rate_eps" -> rate, "seconds" -> stepMs / 1000.0, "files" -> files.size,
        "events" -> files.map(_.events).sum, "latency_samples_events" -> lat.map(_._2).sum,
        "latency_samples_files" -> lat.size,
        "file_latency_s" -> lat.map(_._1),
        "generator_late_p50_ms" -> Stats.median(late),
        "generator_late_p99_ms" -> Stats.quantile(late, 0.99),
        "backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "backlog_growing" -> growing,
        "load" -> loads.getOrElse(step, Map.empty))
      if (backlog.isEmpty) 0.0 else backlog.max
    }.max
    val readWalls = reads.map(_.wallS).toSeq
    named("report_read_p50_s") = Stats.median(readWalls)
    named("report_read_p90_s") = Stats.quantile(readWalls, 0.9)
    named("drain_eps") = half / drainS

    // batch derivation over exactly the emitted events: timed, and the
    // reference for the output check
    val lines = corpus.lines.take(sent.get().toInt).toSeq
    val ds = { import spark.implicits._; spark.createDataset(lines) }
    val (_, ingestS) = Clock.time(Trace.span("ingestJson", "sources")(
      Pipeline.ingestJson(spark, ds, s"${d.base}/log")))
    val (_, deriveS) = Clock.time(Trace.span("deriveTables", "taskrouter")(
      Pipeline.deriveTables(spark, s"${d.base}/log", s"${d.base}/derived")))
    named("derive_s") = ingestS + deriveS

    val late = all.map(f => f.writtenMs - f.dueMs)
    layers("gen.late_p50_ms") = Stats.median(late)
    layers("gen.late_p99_ms") = Stats.quantile(late, 0.99)
    layers("sources.backlog_files_max") = backlogMax
    layers("sources.ingest_s") = ingestS
    layers("taskrouter.derive_s") = deriveS
    layers("report.open_ms") = Stats.median(reads.map(_.openMs).toSeq)
    layers("report.render_ms") = Stats.median(reads.map(_.renderMs).toSeq)
    layers("report.rows") = Stats.median(reads.map(_.rows.toDouble).toSeq)
    layers("report.failed") = readErrors.size.toDouble
    Option(Trace.tracer).foreach { t =>
      val inputBytes = all.map(e => e.name -> e.bytes).toMap ++
        Option(new java.io.File(d.watch).listFiles).getOrElse(Array.empty[java.io.File])
          .map(f => f.getName -> f.length())
      layers ++= Layers.streaming(t, queries.map { case (n, q, ck) => (n, q.id.toString, ck) }, inputBytes)
      layers ++= Layers.taskrouter(t)
    }

    // operations that can fail: report reads, and emitted files (one
    // webhook delivery each; it fails unless both queries merged it by
    // the drain deadline). The file count is fixed by the schedule, so
    // how the system splits work into batches cannot change the share.
    val batches = queries.map(_._3.commits.size.toLong).sum
    val unmerged = all.count(f => commitOf.exists(c => !c.contains(f.name)))
    val attempted = reads.size + readErrors.size + all.size
    val failed = readErrors.size + unmerged
    detail("reads") = Map("ok" -> reads.size, "failed" -> readErrors.size, "walls_s" -> readWalls,
      "errors" -> readErrors.take(5).toSeq)
    detail("batches") = Map("backfill" -> backfillBatches, "total" -> batches)
    detail("files") = Map("emitted" -> all.size, "unmerged" -> unmerged)
    detail("stream_failures") = streamFailures
    detail("window_load") = windowLoad
    detail("corpus_events") = corpus.size
    detail("backfill_events") = half
    detail("sent_events") = sent.get()
    detail("drain_s") = drainS
    detail("ingest_s") = ingestS

    val tCheck = System.nanoTime()
    val (checkProblems, counts) = Check.streaming(spark, lines, d.out, StateTtlMs,
      Pipeline.segments(spark, s"${d.base}/derived"), Pipeline.agents(spark, s"${d.base}/derived"))
    problems ++= checkProblems
    detail("check") = counts

    detail("live_phase_s") = Map("drain" -> drainS, "final_drain" -> (tDrained - tWindow) / 1e9,
      "stop" -> (tStopped - tDrained) / 1e9, "reads" -> (tRead - tStopped) / 1e9,
      "check" -> Clock.sec(tCheck))
    Result(attempted, failed, problems.toSeq,
      gate = Map(
        "light_s" -> named("live_low_mean_s"),
        "heavy_s" -> named("live_high_mean_s"),
        "op_p50_s" -> named("report_read_p50_s")),
      named = named.toMap, layers = layers.toMap, detail = detail.toMap)
  }
}
