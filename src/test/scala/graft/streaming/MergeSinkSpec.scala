package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.taskrouter.{Ingest, Synth}

/** Snapshot reads of the versioned MERGE table: a read sees exactly one
  * committed version, names exactly its files, and refuses a table in
  * the layout that predates the version log. */
class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    s"${java.nio.file.Files.createTempDirectory(prefix).toFile.getPath}/t"

  /** The sf0.001 segments changelog in `n` slices by emit_seq, each a
    * small local frame. */
  private def slices(n: Int): Seq[DataFrame] = {
    val changelog = StreamingPipeline.segmentsChangelog(spark,
      Ingest.parse(Synth.cloudEvents(spark, sf0001)))
    val rows = changelog.orderBy("emit_seq", "uuid").collect().toSeq
    rows.grouped(math.max(1, rows.size / n)).map { g =>
      spark.createDataFrame(g.asJava, changelog.schema)
    }.toSeq
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a reader looping during 30+ merges sees only committed versions") {
    val t = tmp("graft-merge-snap")
    val deltas = slices(32)
    assert(deltas.size >= 30)
    MergeSink.mergeBatch(spark, t, deltas.head)
    val committed = mutable.ArrayBuffer(rows(MergeSink.read(spark, t)))
    val done = new AtomicBoolean(false)
    val seen = mutable.ArrayBuffer.empty[Seq[String]]
    val errors = mutable.ArrayBuffer.empty[Throwable]
    val reader = new Thread(() =>
      while (!done.get) {
        try seen += rows(MergeSink.read(spark, t))
        catch { case e: Throwable => errors += e }
      })
    reader.start()
    try deltas.tail.foreach { d =>
      MergeSink.mergeBatch(spark, t, d)
      committed += rows(MergeSink.read(spark, t))
    } finally {
      done.set(true)
      reader.join()
    }
    assert(errors.isEmpty, errors.take(3).map(_.toString).mkString("\n"))
    assert(seen.nonEmpty)
    val versions = committed.toSet
    assert(versions.size > 1)
    seen.zipWithIndex.foreach { case (r, i) =>
      assert(versions.contains(r), s"read $i matches no committed version (${r.size} rows)")
    }
  }

  test("a read names exactly the newest record's files") {
    val t = tmp("graft-merge-files")
    slices(3).foreach(MergeSink.mergeBatch(spark, t, _))
    // unnamed files: a stale staging directory, and a legacy-layout
    // directory
    Seq(1).toDF("n").write.parquet(s"$t/_data/99/range=0")
    Seq(1).toDF("n").write.parquet(s"$t/uuid_p=zz/x=1")
    val v = MergeSink.newest(spark, t).get
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def abs(p: String): String = fs.makeQualified(new Path(p)).toUri.getPath
    val want = v.files.map(f => abs(s"$t/${f.path}")).toSet
    assert(MergeSink.read(spark, t).inputFiles.map(abs).toSet == want)
  }

  test("a table in the old uuid_p layout fails loudly, naming the path") {
    val t = tmp("graft-merge-legacy")
    val segs = slices(1).head
    segs.withColumn("uuid_p", org.apache.spark.sql.functions.substring($"uuid", 1, 2))
      .write.partitionBy("uuid_p").parquet(t)
    val calls: Seq[(String, () => Any)] = Seq(
      "read" -> (() => MergeSink.read(spark, t)),
      "readAgents" -> (() => MergeSink.readAgents(spark, t)),
      "mergeBatch" -> (() => MergeSink.mergeBatch(spark, t, segs)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(t) && e.getMessage.contains("uuid_p"), s"$name: ${e.getMessage}")
    }
    // and nothing was written into it
    assert(!new java.io.File(t, "_v").exists() && !new java.io.File(t, "_data").exists())
  }
}
