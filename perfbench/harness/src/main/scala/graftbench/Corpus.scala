package graftbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The CloudEvent corpus the streaming and batch workloads feed: every
  * `Synth.cloudEvents` envelope over the generated `events` table, as
  * JSON lines in event-time order. */
final case class Corpus(lines: Array[String]) {
  def size: Int = lines.length
  def dataset(spark: SparkSession, from: Int = 0, until: Int = -1): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(lines.slice(from, if (until < 0) lines.length else until).toSeq)
  }
}

object Corpus {
  def load(spark: SparkSession, dataDir: String): Corpus = {
    val ce = graft.taskrouter.Synth.cloudEvents(spark, dataDir)
    val rows = ce.select(
        to_json(struct(col("id"), col("type"), col("data"))).as("value"),
        unix_micros(to_timestamp(col("data.payload.timestamp"))).as("us"),
        col("id"))
      .orderBy(col("us"), col("id"))
      .select("value").collect()
    Corpus(rows.map(_.getString(0)))
  }
}

/** Reads a streaming query's checkpoint after the fact: which batch
  * admitted each source file, and when each batch was planned and
  * committed (the offset and commit log entries' modification times).
  * Nothing here runs inside the program. */
final class Checkpoint(dir: String) {
  private def mtimeMs(f: File): Double =
    Files.getLastModifiedTime(f.toPath).to(TimeUnit.MICROSECONDS) / 1000.0

  private def numbered(sub: String): Map[Long, File] =
    Option(new File(dir, sub).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f).toMap

  /** batch id → commit time (epoch ms). */
  def commits: Map[Long, Double] = numbered("commits").map { case (b, f) => b -> mtimeMs(f) }

  /** batch id → admission time (epoch ms): the offset log entry. */
  def offsets: Map[Long, Double] = numbered("offsets").map { case (b, f) => b -> mtimeMs(f) }

  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
  private val LogOffset = """"logOffset":(\d+)""".r.unanchored

  /** micro-batch id → the last source-log offset it covers. */
  private def endOffsets: Seq[(Long, Long)] = numbered("offsets").toSeq.flatMap { case (b, f) =>
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().collectFirst { case LogOffset(o) => b -> o.toLong } finally src.close()
  }.sortBy(_._1)

  /** source file name → the micro-batch that admitted it. The source
    * log numbers its entries by log offset; a micro-batch covers every
    * offset up to the one its offset-log entry names (no-data batches
    * repeat the previous offset). */
  def fileBatches: Map[String, Long] = {
    val ends = endOffsets
    val logDir = new File(dir, "sources/0")
    Option(logDir.listFiles).getOrElse(Array.empty[File]).filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().collect { case Entry(p, o) =>
          p.substring(p.lastIndexOf('/') + 1) -> o.toLong }.toList
        finally src.close()
      }.toMap
      .flatMap { case (name, off) => ends.find(_._2 >= off).map(e => name -> e._1) }
  }
}
