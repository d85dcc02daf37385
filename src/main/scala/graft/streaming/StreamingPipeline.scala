package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.taskrouter.{Derivation, Ingest, Model}

/** Structured Streaming layer: the same derivation semantics as the
  * batch pipeline, expressed as per-key state machines
  * (`flatMapGroupsWithState`) emitting a segment CHANGELOG:
  *
  *  - the in-place updates the reference performs (CONVERSATION IN
  *    PROGRESS → CONVERSATION, reference routes/events.js:298-315; span
  *    close :639-664) become re-emissions under the SAME deterministic
  *    uuid with a later emit_seq — the MERGE-by-uuid sink
  *    ([[MergeSink]]) applies last-write-wins, and [[latestSegments]]
  *    is the same rule over a whole changelog (the specs' oracle);
  *  - the per-event base projection is computed declaratively BEFORE
  *    grouping (one codegen'd select) and carried through the typed
  *    state machine as JSON, so streaming and batch share the exact
  *    same column logic;
  *  - event-time ordering inside each micro-batch (sort per group),
  *    watermark + event-id dedup for replays (the reference duplicates
  *    on replay and assumes in-order delivery — README.md:13).
  *
  * Scale notes: state is O(open reservations per task + one open span
  * per worker); keys are the natural partition keys; one unified keyed
  * machine = one shuffle + one state store over a once-scanned source.
  * `stateTtlMs` arms event-time timeouts that evict idle keys (the
  * reference keeps state forever, app.js:13-16); equivalence tests use
  * NoTimeout + availableNow semantics.
  */
object StreamingPipeline {

  // --- typed carriers ---------------------------------------------

  /** Unified event carrier for BOTH machines — one keyed stream
    * (`T|task_sid` / `W|worker_sid`) feeds one flatMapGroupsWithState:
    * a single shuffle and state store instead of two parallel fMGWS
    * arms over a twice-scanned source. (Parallel arms also break
    * event-time timeouts: Spark's per-operator watermark propagation
    * simulation feeds only the first union arm; the second reads
    * watermark 0 forever, so its TTLs never fire.)
    * `ts` carries the watermarked event-time attribute into the typed
    * Dataset — event-time timeouts require the watermark column to
    * survive to the stateful operator (the machine itself orders by
    * the exact `tsUs`). */
  case class Ev(key: String, resSid: String, eventtype: String,
      ts: java.sql.Timestamp, tsUs: Long, tsSec: Long, eventId: String,
      segLink: Option[String], activityName: Option[String],
      wtipa: Option[Long], baseJson: String)

  private val TaskKey = "T|"
  private val WorkerKey = "W|"

  case class ResState(created: Option[Long], acceptedUs: Option[Long],
      acceptedSec: Option[Long], wrapup: Option[Long],
      accEventId: Option[String], accBaseJson: Option[String],
      accQueue: Option[Long], accRing: Option[Long],
      converted: Boolean = false)

  /** Queue-entry state: the latest entry event and the latest entry
    * STRICTLY OLDER than it. Batch J1 is a strictly-prior-by-time
    * lookup (reference `timestamp < exitTimestamp`, :80) — a consumer
    * tied to the microsecond with the latest entry must fall back to
    * the previous-time entry (or none), exactly like the window frame. */
  case class EntryAt(us: Long, sec: Long)
  case class TaskState(lastEntry: Option[EntryAt], prevEntry: Option[EntryAt],
      res: Map[String, ResState]) {
    /** The latest entry strictly before `us` — batch J1's frame result. */
    def entryBefore(us: Long): Option[EntryAt] =
      lastEntry.filter(_.us < us).orElse(prevEntry.filter(_.us < us))
  }

  case class WorkerState(openEventId: Option[String],
      openBaseJson: Option[String], openActivity: Option[String],
      openWtipa: Option[Long], openedByUpdate: Boolean)

  /** Per-key machine state: a key is either a task or a worker, so
    * exactly one side is populated. */
  case class MachState(task: Option[TaskState], worker: Option[WorkerState])

  /** One changelog row: overrides + the originating event's base. */
  case class SegOut(uuidSeed: String, kind: String, emitSeq: Long,
      queueTime: Option[Long], ringTime: Option[Long],
      talkTime: Option[Long], wrapupTime: Option[Long],
      abandonTime: Option[Long], abandoned: Option[String],
      abandonedPhase: Option[String], dateSec: Option[Long],
      activity: Option[String],
      activityTime: Option[Long], activityTimeSet: Boolean,
      segLink: Option[String], segLinkSet: Boolean,
      baseJson: String)

  private def emptyRes = ResState(None, None, None, None, None, None, None, None)

  /** emit_seq ordering: event-time micros with a low-order phase bit so
    * a conversion emitted at the SAME microsecond as the row it
    * upserts (zero-duration call, second-granularity clocks) still wins
    * the latestSegments max_by deterministically. */
  private def insertSeq(tsUs: Long): Long = tsUs * 2
  private def convertSeq(tsUs: Long): Long = tsUs * 2 + 1

  private def seg(uuidSeed: String, kind: String, emitSeq: Long, baseJson: String,
      queueTime: Option[Long] = None, ringTime: Option[Long] = None,
      talkTime: Option[Long] = None, wrapupTime: Option[Long] = None,
      abandonTime: Option[Long] = None, abandoned: Option[String] = None,
      abandonedPhase: Option[String] = None, dateSec: Option[Long] = None,
      activity: Option[String] = None,
      activityTime: Option[Long] = None, activityTimeSet: Boolean = false,
      segLink: Option[String] = None, segLinkSet: Boolean = false): SegOut =
    SegOut(uuidSeed, kind, emitSeq, queueTime, ringTime, talkTime, wrapupTime,
      abandonTime, abandoned, abandonedPhase, dateSec, activity,
      activityTime, activityTimeSet, segLink, segLinkSet, baseJson)

  // --- state machines ---------------------------------------------

  /** Event-time TTL bookkeeping shared by both machines: on expiry the
    * key's state is evicted (reference app.js:13-16 keeps it forever —
    * the unbounded-state flaw SURVEY §2.10 promised to fix); afterwards
    * a late completed/update event finds no state and is
    * tolerated-dropped, exactly the reference's missing-in-progress
    * path (routes/events.js:308-310). The deadline is event-time (the
    * newest event seen for the key + TTL) clamped above the current
    * watermark, as setTimeoutTimestamp requires. */
  private def armTtl[S](state: GroupState[S], maxEventMs: Long,
      ttlMs: Option[Long]): Unit =
    ttlMs.foreach { t =>
      state.setTimeoutTimestamp(
        math.max(maxEventMs, state.getCurrentWatermarkMs()) + t)
    }

  /** The unified per-key machine: dispatches on the key prefix to the
    * conversation-side transitions (EP1 + EP2 semantics) or the agent
    * span transitions (W1), processing events in event-time order
    * within each micro-batch. */
  private def uniFlat(ttlMs: Option[Long])(key: String, it: Iterator[Ev],
      state: GroupState[MachState]): Iterator[SegOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val evs = it.toSeq.sortBy(e => (e.tsUs, e.eventId))
    val maxMs = evs.iterator.map(_.tsUs / 1000).foldLeft(Long.MinValue)(math.max)
    val out = scala.collection.mutable.ArrayBuffer.empty[SegOut]
    if (key.startsWith(TaskKey)) taskSide(evs, state, out)
    else workerSide(evs, state, out)
    armTtl(state, maxMs, ttlMs)
    out.iterator
  }

  /** Conversation-side transitions keyed by task_sid (EP1 + EP2,
    * reference :503-618). */
  private def taskSide(evs: Seq[Ev], state: GroupState[MachState],
      out: scala.collection.mutable.ArrayBuffer[SegOut]): Unit = {
    var st = state.getOption.flatMap(_.task).getOrElse(TaskState(None, None, Map.empty))
    evs.foreach { e =>
      def rs: ResState = st.res.getOrElse(e.resSid, emptyRes)
      e.eventtype match {
        case Model.EtTaskQueueEntered | Model.EtTaskTransferInitiated =>
          val entry = EntryAt(e.tsUs, e.tsSec)
          st =
            if (st.lastEntry.exists(_.us == e.tsUs))
              st.copy(lastEntry = Some(entry)) // same-time re-entry replaces, fallback kept
            else st.copy(lastEntry = Some(entry), prevEntry = st.lastEntry)
        case Model.EtReservationCreated =>
          st = st.copy(res = st.res + (e.resSid -> rs.copy(created = Some(e.tsSec))))
        case Model.EtReservationWrapup =>
          st = st.copy(res = st.res + (e.resSid -> rs.copy(wrapup = Some(e.tsSec))))
        case Model.EtReservationAccepted =>
          val r0 = rs
          val r1 = if (r0.acceptedSec.isEmpty)
            r0.copy(acceptedUs = Some(e.tsUs), acceptedSec = Some(e.tsSec)) else r0
          val r2 = (st.entryBefore(e.tsUs), r1.created) match {
            case (Some(entry), Some(created)) =>
              val q = e.tsSec - entry.sec
              val ring = e.tsSec - created
              out += seg(s"${e.eventId}|${Model.QueueSegment}", Model.QueueSegment,
                insertSeq(e.tsUs), e.baseJson, queueTime = Some(q), dateSec = Some(entry.sec))
              out += seg(s"${e.eventId}|${Model.ConvoInProgSeg}", Model.ConvoInProgSeg,
                insertSeq(e.tsUs), e.baseJson, queueTime = Some(q), ringTime = Some(ring))
              // a duplicate accepted still inserts its pair (the
              // reference has no guard) but the completed-update targets
              // the FIRST stored in-progress row (:129-137 data()[0]) —
              // keep the first emitted identity
              if (r1.accEventId.isEmpty)
                r1.copy(accEventId = Some(e.eventId), accBaseJson = Some(e.baseJson),
                  accQueue = Some(q), accRing = Some(ring))
              else r1
            case _ => r1 // exception-as-inner-join: nothing emitted (:161,:672)
          }
          st = st.copy(res = st.res + (e.resSid -> r2))
        case Model.EtReservationCompleted =>
          val r = rs
          (r.acceptedSec, r.accEventId, r.accBaseJson) match {
            // first completed only: a later completed finds no
            // in-progress row to update (reference :308-310)
            case (Some(accSec), Some(accId), Some(accBase)) if !r.converted =>
              val talk = r.wrapup.map(_ - accSec).getOrElse(e.tsSec - accSec)
              val wrap = r.wrapup.map(e.tsSec - _).getOrElse(0L)
              out += seg(s"$accId|${Model.ConvoInProgSeg}", Model.ConvoSeg,
                convertSeq(e.tsUs), accBase,
                queueTime = r.accQueue, ringTime = r.accRing,
                talkTime = Some(talk), wrapupTime = Some(wrap),
                segLink = e.segLink, segLinkSet = true)
              st = st.copy(res = st.res + (e.resSid -> r.copy(converted = true)))
            case _ => // in-progress missing / already converted → tolerated
          }
        case Model.EtReservationRejected | Model.EtReservationTimeout |
             Model.EtReservationCanceled | Model.EtReservationRescinded =>
          rs.created.foreach { created =>
            val kind = e.eventtype match {
              case Model.EtReservationRejected => Model.ConvoRejected
              case Model.EtReservationRescinded => Model.ConvoRevoked
              case _ => Model.ConvoMissed
            }
            out += seg(s"${e.eventId}|$kind", kind, insertSeq(e.tsUs), e.baseJson,
              ringTime = Some(e.tsSec - created))
          }
        case Model.EtTaskCanceled | Model.EtTaskTransferFailed =>
          st.entryBefore(e.tsUs).foreach { entry =>
            val q = e.tsSec - entry.sec
            out += seg(s"${e.eventId}|${Model.QueueSegment}", Model.QueueSegment,
              insertSeq(e.tsUs), e.baseJson, queueTime = Some(q), abandonTime = Some(q),
              abandoned = Some("Yes"), abandonedPhase = Some("Queue"),
              dateSec = Some(entry.sec))
            out += seg(s"${e.eventId}|${Model.ConvoSeg}", Model.ConvoSeg,
              insertSeq(e.tsUs), e.baseJson, queueTime = Some(q), abandonTime = Some(q),
              abandoned = Some("Yes"), abandonedPhase = Some("Queue"))
          }
        case _ => // cached-only event types
      }
    }
    state.update(MachState(Some(st), None))
  }

  /** Agent span transitions keyed by worker_sid (W1, reference
    * :619-664). */
  private def workerSide(evs: Seq[Ev], state: GroupState[MachState],
      out: scala.collection.mutable.ArrayBuffer[SegOut]): Unit = {
    var st = state.getOption.flatMap(_.worker)
      .getOrElse(WorkerState(None, None, None, None, openedByUpdate = false))
    evs.foreach { e =>
      e.eventtype match {
        case Model.EtWorkerCreated =>
          out += seg(s"${e.eventId}|${Model.AgentStatusInProgress}",
            Model.AgentStatusInProgress, insertSeq(e.tsUs), e.baseJson,
            activity = e.activityName,
            activityTime = e.wtipa, activityTimeSet = true)
          st = WorkerState(Some(e.eventId), Some(e.baseJson), e.activityName,
            e.wtipa, openedByUpdate = false)
        case Model.EtWorkerActivityUpdated =>
          (st.openEventId, st.openBaseJson) match {
            case (Some(openId), Some(openBase)) =>
              // close the open span: only segment_kind + activity_time
              // change (JS spread, reference :645-648, :661)
              out += seg(s"$openId|${Model.AgentStatusInProgress}",
                Model.AgentStatus, convertSeq(e.tsUs), openBase,
                activity = st.openActivity,
                activityTime = e.wtipa, activityTimeSet = true)
            case _ => // no open span: update tolerated with a log (:308)
          }
          out += seg(s"${e.eventId}|${Model.AgentStatusInProgress}",
            Model.AgentStatusInProgress, insertSeq(e.tsUs), e.baseJson,
            activity = e.activityName,
            activityTime = None, activityTimeSet = true)
          st = WorkerState(Some(e.eventId), Some(e.baseJson), e.activityName,
            e.wtipa, openedByUpdate = true)
        case _ => // worker.deleted / attributes.update don't touch spans
      }
    }
    state.update(MachState(None, Some(st)))
  }

  // --- wiring ------------------------------------------------------

  /** Streaming-safe CloudEvent parse: same projection as batch Ingest,
    * then event-time watermark + event-id dedup with WATERMARK-BOUNDED
    * state (dropDuplicatesWithinWatermark) — replays inside the horizon
    * are dropped, state for older events is reclaimed. */
  def parseStream(spark: SparkSession, rawJson: DataFrame): DataFrame = {
    import spark.implicits._
    Ingest.parseJson(spark, rawJson.as[String], dedup = false)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
  }

  private def baseJsonCol =
    to_json(struct(Model.segmentColumns.drop(2).map(col): _*)).as("baseJson")

  /** The segment changelog for a (possibly streaming) parsed frame.
    * `stateTtlMs` (e.g. `Some(24h in millis)`) bounds per-key state
    * with an event-time timeout: the input must carry a watermark
    * (parseStream sets one) and an idle key's state is evicted once the
    * watermark passes its newest event + TTL. None (batch callers,
    * equivalence tests) keeps NoTimeout. */
  def segmentsChangelog(spark: SparkSession, parsed: DataFrame,
      stateTtlMs: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val ttlMs = stateTtlMs
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val base = Derivation.baseFrame(parsed)

    // Route each event to its machine key(s): task events by task_sid,
    // worker open/close events by worker_sid. The explode keeps the
    // (theoretical) event matching both routes going to both machines,
    // exactly like the previous two-stream formulation — but as ONE
    // keyed stream: a single shuffle, a single state store, the source
    // scanned once.
    val routed = base
      .withColumn("mkey", explode(array(
        when(col("p_task_sid").isNotNull,
          concat(lit(TaskKey), col("p_task_sid"))),
        when(col("p_worker_sid").isNotNull &&
            col("eventtype").isin(Model.EtWorkerCreated, Model.EtWorkerActivityUpdated),
          concat(lit(WorkerKey), col("p_worker_sid"))))))
      .filter(col("mkey").isNotNull)
      .select(col("mkey").as("key"),
        coalesce(col("p_reservation_sid"), lit("")).as("resSid"),
        col("eventtype"), col("ts"),
        col("ts_us").as("tsUs"), unix_timestamp(col("ts_sec")).as("tsSec"),
        col("event_id").as("eventId"),
        col("task_attr.conversations")("segment_link").as("segLink"),
        col("worker_activity_name").as("activityName"),
        col("worker_time_in_previous_activity").as("wtipa"),
        baseJsonCol)
      .as[Ev]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(uniFlat(ttlMs))

    assemble(spark, routed.toDF())
  }

  /** Changelog rows → full segment columns + emit_seq. */
  private def assemble(spark: SparkSession, outRows: DataFrame): DataFrame = {
    val withBase = outRows.withColumn("base", from_json(col("baseJson"), Model.baseSchema))
    def b(n: String) = col("base")(n)
    val cols: Seq[org.apache.spark.sql.Column] = Model.segmentColumns.map {
      case "uuid" => sha2(col("uuidSeed"), 256).as("uuid")
      case "segment_kind" => col("kind").as("segment_kind")
      case "queue_time" => coalesce(col("queueTime"), b("queue_time")).as("queue_time")
      case "ring_time" => coalesce(col("ringTime"), b("ring_time")).as("ring_time")
      case "talk_time" => coalesce(col("talkTime"), b("talk_time")).as("talk_time")
      case "wrapup_time" => coalesce(col("wrapupTime"), b("wrapup_time")).as("wrapup_time")
      case "abandon_time" => coalesce(col("abandonTime"), b("abandon_time")).as("abandon_time")
      case "abandoned" => coalesce(col("abandoned"), b("abandoned")).as("abandoned")
      case "abandoned_phase" => coalesce(col("abandonedPhase"), b("abandoned_phase")).as("abandoned_phase")
      case "date" => coalesce(timestamp_seconds(col("dateSec")), b("date")).as("date")
      case "time" => coalesce(timestamp_seconds(col("dateSec")), b("time")).as("time")
      case "activity" => coalesce(col("activity"), b("activity")).as("activity")
      case "activity_time" =>
        when(col("activityTimeSet"), col("activityTime"))
          .otherwise(b("activity_time")).as("activity_time")
      case "segment_link" =>
        when(col("segLinkSet"), col("segLink"))
          .otherwise(b("segment_link")).as("segment_link")
      case n => b(n).as(n)
    }
    withBase.select(cols :+ col("emitSeq").as("emit_seq"): _*)
  }

  /** Last-write-wins view of the changelog (what a MERGE-by-uuid sink
    * materializes). */
  def latestSegments(changelog: DataFrame): DataFrame = {
    val byUuid = changelog
      .groupBy(col("uuid"))
      .agg(max_by(struct(changelog.columns.filter(_ != "uuid").map(col): _*),
        col("emit_seq")).as("r"))
    byUuid.select(Seq(col("uuid")) ++
      Model.segmentColumns.drop(1).map(n => col(s"r.$n").as(n)): _*)
  }
}
