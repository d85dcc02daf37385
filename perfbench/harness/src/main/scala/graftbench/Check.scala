package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.taskrouter.{Ingest, Model}

/** Output checks, run untimed after a workload's timing. Each returns
  * the list of problems found; an empty list is a pass. The tables
  * compared are small, so both sides are collected and compared as
  * multisets of rows in the benchmark process. */
object Check {
  private val Shown = 3

  private def bag(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).map { case (r, g) => r -> g.size }

  /** Rows of `a` not matched by a row of `b`, with multiplicity. */
  private def minus(a: Seq[Row], b: Seq[Row]): Seq[Row] = {
    val nb = bag(b)
    bag(a).toSeq.flatMap { case (r, n) => Seq.fill(n - nb.getOrElse(r, 0))(r) }
  }

  private def describe(what: String, got: Seq[Row], want: Seq[Row]): Seq[String] = {
    val (extra, missing) = (minus(got, want), minus(want, got))
    if (extra.isEmpty && missing.isEmpty) Nil
    else Seq(s"$what: ${extra.size} unexpected rows, ${missing.size} missing rows; e.g. unexpected " +
      extra.take(Shown).mkString(" | ") + " missing " + missing.take(Shown).mkString(" | "))
  }

  /** Workers with two consecutive events further apart than `ttlMs`:
    * the streaming state machine may evict their open AGENT STATUS span
    * (the documented state TTL), so those rows may differ from the
    * batch derivation. */
  private def ttlGapWorkers(parsed: DataFrame, ttlMs: Long): DataFrame = {
    val w = Window.partitionBy(col("worker_sid")).orderBy(col("ts_us"))
    parsed.filter(col("worker_sid").isNotNull && col("task_sid").isNull)
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us") > ttlMs * 1000L)
      .select(col("worker_sid").as("agent_uuid")).distinct()
  }

  /** The merged streaming tables under `out` against the batch
    * derivation (`wantSegments`, `wantAgents`) over exactly the emitted
    * `lines`. */
  def streaming(spark: SparkSession, lines: Seq[String], out: String, ttlMs: Long,
      wantSegments: DataFrame, wantAgents: DataFrame): (Seq[String], Map[String, Long]) = {
    import spark.implicits._
    val parsed = Ingest.parseJson(spark, spark.createDataset(lines))
    def rows(df: DataFrame, cols: Seq[String]) = df.select(cols.map(col): _*).collect().toSeq
    val wantSeg = rows(wantSegments, Model.segmentColumns)
    val gotSeg = rows(Pipeline.mergedSegments(spark, out), Model.segmentColumns)
    val gap = ttlGapWorkers(parsed, ttlMs).collect().map(_.getString(0)).toSet
    def isStatus(r: Row) = Option(r.getAs[String]("segment_kind")).exists(_.startsWith(Model.AgentStatus))
    def unexplained(rs: Seq[Row]) = rs.filterNot(r => gap(r.getAs[String]("agent_uuid")))
    val problems =
      describe("conversation segments", gotSeg.filterNot(isStatus), wantSeg.filterNot(isStatus)) ++
      describe("agent status segments outside a TTL gap",
        unexplained(gotSeg.filter(isStatus)), unexplained(wantSeg.filter(isStatus))) ++
      describe("agents", rows(Pipeline.mergedAgents(spark, out), Model.agentColumns),
        rows(wantAgents, Model.agentColumns))
    (problems, Map("segments" -> wantSeg.size.toLong, "ttl_gap_workers" -> gap.size.toLong))
  }
}
