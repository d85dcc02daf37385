package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into one layer of the program. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    thread: String, startNs: Long, endNs: Long, attrs: Map[String, Any])

/** A Spark job with the task metrics of all its stages. */
final class JobRec(val jobId: Int, val span: Long, val queryId: String,
    val batchId: Long, val execId: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** What one SQL execution reported when it finished; `atMs`/`atNs` are
  * when the listener saw it (wall clock and monotonic). */
final case class QeRec(funcName: String, durationMs: Double,
    phasesMs: Map[String, Long], atMs: Long, atNs: Long) {
  /** Monotonic midpoint of the execution. */
  def midNs: Long = atNs - (durationMs * 5e5).toLong
}

/** One streaming micro-batch as the StreamingQueryListener saw it. */
final case class BatchRec(queryId: String, batchId: Long, startMs: Long,
    durationMs: Map[String, Long], inputRows: Long, stateRows: Long,
    stateBytes: Long, stateCommitMs: Long)

/** The benchmark's tracer: spans opened around calls into the program's
  * entry points, plus one SparkListener, one QueryExecutionListener and
  * one StreamingQueryListener. Jobs are tied to spans through a local
  * property set on the calling thread; streaming jobs carry Spark's own
  * query-id and batch-id properties. Everything stays in memory until
  * the run ends. Attached only in traced runs. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  /** SQL execution id → its action name ("localCheckpoint", "collect",
    * "command", ...), from the execution-end event. */
  val execNames = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** SQL execution id → metrics of the file write in its plan, for
    * executions that write files. */
  val execWrites = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()

  def span[A](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, layer,
        Thread.currentThread().getName, t0, System.nanoTime(), attrs))
      stack.set(parents)
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties())
      def prop(k: String) = Option(p.getProperty(k))
      val rec = new JobRec(e.jobId, prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop("sql.streaming.queryId").orNull,
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd =>
        execNames.put(x.executionId, SqlExecutionEnd.name(x))
        Option(SqlExecutionEnd.qe(x)).flatMap(qe => findWrite(qe.executedPlan)).foreach { w =>
          execWrites.put(x.executionId, w.cmd.metrics.map { case (k, v) => k -> v.value }) }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        val m = e.taskMetrics
        r.synchronized {
          r.tasks += 1
          r.taskMs += e.taskInfo.duration
          if (m != null) {
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
              m.shuffleReadMetrics.totalBytesRead
            r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      qes.add(QeRec(funcName, durationNs / 1e6, phases, System.currentTimeMillis(), System.nanoTime()))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The file write inside a plan, looking through command results and
    * adaptive plans. */
  private def findWrite(plan: SparkPlan): Option[DataWritingCommandExec] = plan match {
    case w: DataWritingCommandExec => Some(w)
    case c: CommandResultExec => findWrite(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => findWrite(a.executedPlan)
    case q: QueryStageExec => findWrite(q.plan)
    case p => p.children.iterator.map(findWrite).collectFirst { case Some(w) => w }
  }

  private object streamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(BatchRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map { o =>
          Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.longValue)
            .getOrElse(o.memoryUsedBytes)
        }.sum,
        ops.map(_.commitTimeMs).sum))
      ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after the listener buses drained, so late events land. */
  def detach(): Unit = {
    Thread.sleep(500)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  def spanSeq: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def jobSeq: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.startMs)

  /** Spans that are `id` or below it. */
  def subtree(id: Long): Set[Long] = {
    val kids = spanSeq.groupBy(_.parent)
    def go(i: Long): Set[Long] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  /** Jobs run under any span of `ids`. */
  def jobsUnder(ids: Set[Long]): Seq[JobRec] = jobSeq.filter(j => ids.contains(j.span))

  /** Per-layer self time: each span's duration minus the part of its
    * interval covered by its child spans. */
  def selfSeconds: Map[String, Double] = {
    val all = spanSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
        }._1
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def spansJson: String = spanSeq.map { s =>
    Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "thread" -> s.thread, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "attrs" -> s.attrs))
  }.mkString("\n")
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Span helper that costs nothing in untraced runs. */
object Trace {
  @volatile var tracer: Tracer = null
  def on: Boolean = tracer != null
  def span[A](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(f: => A): A =
    if (tracer == null) f else tracer.span(name, layer, attrs)(f)
}

/** Codegen compile time, estimated from Spark's compile-time histogram:
  * new compiles times the histogram's mean. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def mark(): Long = h.getCount
  def msSince(count0: Long): Double = (h.getCount - count0) * h.getSnapshot.getMean
}
