package graft.streaming

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.Publish

/** Incremental MERGE sink behind the two tables `GET /` reads — the
  * streaming equivalent of the reference's update-in-place tables
  * (routes/events.js:298-315, :225-256): the report can read the
  * latest state at any moment without re-aggregating an ever-growing
  * changelog.
  *
  * The table is versioned. Version `v` is the record `<table>/_v/<v>`,
  * which names the table's range count, its schema and every live
  * parquet file (range, byte length, path relative to the table).
  * Files are never changed in place: each micro-batch
  *
  *  1. reduces the batch to its per-key delta — a map-side-combined
  *     aggregation over the DELTA only — and routes each key to a range,
  *     `pmod(xxhash64(key), 65536) * n / 65536`;
  *  2. reads back only the newest version's files of the ranges the
  *     delta touches, by name and with the recorded schema;
  *  3. picks each key's winner over existing rows and delta;
  *  4. writes the merged touched ranges, one file per range, under
  *     `<table>/_data/<v+1>/`, then commits record `v+1` with
  *     [[Publish.commit]]: that one atomic write makes the batch
  *     visible;
  *  5. prunes records older than [[Retain]] versions and the files and
  *     `_data` directories no retained record names.
  *
  * `n` is a power of two, the smallest at which the recorded table
  * bytes fit in `n` × `spark.sql.files.maxPartitionBytes`, so a small
  * table is one file and a read opens one file per scan partition. `n`
  * never shrinks; the batch in which it doubles rewrites every file,
  * which amortizes to O(1) rewrites per row. Per-batch work is
  * O(|delta| + bytes of the touched ranges), independent of changelog
  * history length — the property `latestSegments` over the full
  * changelog lacks. On a lakehouse table format this step is `MERGE
  * INTO latest USING delta ON uuid` with file-level pruning; the version
  * log here is the same commit protocol in plain files.
  *
  * Readers see snapshots: [[read]] and [[readAgents]] list only `_v`,
  * take the newest record and read exactly its files, so a read never
  * sees half a batch, and its files stay on disk until [[Retain]] later
  * versions have committed. Replay converges after a crash at any point:
  * files of an uncommitted version are ignored and overwritten by the
  * retry, and re-merging a committed batch is idempotent (deterministic
  * keys, last-write-wins). One writer per table at a time.
  */
object MergeSink {

  /** Versions kept after each commit: a reader that opened one of them
    * can still read its files. */
  private val Retain = 8

  private val Buckets = 65536
  private val RangeCol = "range"
  private val VersionDir = "_v"
  private val DataDir = "_data"
  private val json = new ObjectMapper()

  /** Fold one changelog delta into the latest-segments table; the
    * winner per uuid is its row with the largest emit_seq. */
  def mergeBatch(spark: SparkSession, tablePath: String, batch: DataFrame): Unit = {
    val latest: Seq[String] => Column =
      cols => max_by(struct(cols.map(col): _*), col("emit_seq"))
    upsert(spark, tablePath, pick(batch, "uuid", latest), "uuid", latest)
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

  /** Read the newest version of the maintained table as plain segment
    * rows. */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    open(spark, tablePath).select(graft.taskrouter.Model.segmentColumns.map(col): _*)

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
      "agent_uuid",
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

  /** Read the newest version of the maintained agents dimension. */
  def readAgents(spark: SparkSession, tablePath: String): DataFrame =
    open(spark, tablePath).select(graft.taskrouter.Model.agentColumns.map(col): _*)

  // ---------------------------------------------------------------
  // version log
  // ---------------------------------------------------------------

  /** One live file: its range, byte length and path relative to the
    * table. */
  private[graft] final case class DataFile(range: Int, bytes: Long, path: String)

  /** One committed version: what record `<table>/_v/<id>` holds. */
  private[graft] final case class Version(id: Long, ranges: Int, schema: StructType,
      files: Seq[DataFile]) {
    def bytes: Long = files.map(_.bytes).sum

    def toJson: Array[Byte] = {
      val root = json.createObjectNode()
      root.put("version", id)
      root.put("ranges", ranges)
      root.set[JsonNode]("schema", json.readTree(schema.json))
      val fs = root.putArray("files")
      files.foreach(f => fs.addObject().put("range", f.range).put("bytes", f.bytes).put("path", f.path))
      json.writeValueAsBytes(root)
    }
  }

  private object Version {
    def parse(bytes: Array[Byte]): Version = {
      val root = json.readTree(bytes)
      Version(root.get("version").asLong, root.get("ranges").asInt,
        DataType.fromJson(root.get("schema").toString).asInstanceOf[StructType],
        root.get("files").elements().asScala.map { f =>
          DataFile(f.get("range").asInt, f.get("bytes").asLong, f.get("path").asText)
        }.toSeq)
    }
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version ids, oldest first. */
  private def versionIds(fs: FileSystem, table: Path): Seq[Long] = {
    val dir = new Path(table, VersionDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted.toSeq
  }

  private def load(fs: FileSystem, table: Path, id: Long): Version = {
    val in = fs.open(new Path(new Path(table, VersionDir), id.toString))
    try Version.parse(in.readAllBytes()) finally in.close()
  }

  /** The newest committed version, or None for a table never committed
    * to. Fails on a table in the layout that predates the version log,
    * whose files no record names. */
  private[graft] def newest(spark: SparkSession, tablePath: String): Option[Version] = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    versionIds(fs, table).lastOption.map(load(fs, table, _)).orElse {
      if (fs.exists(table) && fs.listStatus(table).exists(_.getPath.getName.startsWith("uuid_p=")))
        throw new IllegalStateException(s"$tablePath is a MERGE table in the old " +
          s"uuid_p-partitioned layout, which has no $VersionDir version log; replay its " +
          "stream into an empty directory to rebuild it")
      None
    }
  }

  /** The newest version's rows, read from exactly its files with its
    * recorded schema: no directory listing, no footer read. */
  private def open(spark: SparkSession, tablePath: String): DataFrame = {
    val v = newest(spark, tablePath).getOrElse(throw new IllegalStateException(
      s"$tablePath has no committed MERGE table version (no $tablePath/$VersionDir)"))
    spark.read.schema(v.schema).parquet(v.files.map(f => new Path(new Path(tablePath), f.path).toString): _*)
  }

  /** Delete records older than the newest [[Retain]], the files only
    * they name, and every `_data` directory no retained record names
    * (the staging of a crashed attempt included). Files go before their
    * records, so a crash here leaves records the next prune redoes. */
  private def prune(fs: FileSystem, table: Path): Unit = {
    val ids = versionIds(fs, table)
    val (dropped, kept) = ids.splitAt(math.max(0, ids.size - Retain))
    val live = kept.flatMap(load(fs, table, _).files.map(_.path)).toSet
    dropped.flatMap(load(fs, table, _).files.map(_.path)).distinct
      .filterNot(live).foreach(p => fs.delete(new Path(table, p), false))
    val vdir = new Path(table, VersionDir)
    dropped.foreach(id => fs.delete(new Path(vdir, id.toString), false))
    // temp files of commits that crashed before their rename
    fs.listStatus(vdir).map(_.getPath).filter(_.getName.startsWith("_"))
      .foreach(fs.delete(_, false))
    val liveDirs = live.map(_.split('/')(1))
    val data = new Path(table, DataDir)
    if (fs.exists(data)) fs.listStatus(data).map(_.getPath)
      .filterNot(d => liveDirs(d.getName)).foreach(fs.delete(_, true))
  }

  // ---------------------------------------------------------------

  /** One row per `key`: `winner` maps the other column names to an
    * aggregate struct holding each of them. Columns keep their order
    * when `key` comes first. */
  private def pick(df: DataFrame, key: String, winner: Seq[String] => Column): DataFrame = {
    val cols = df.columns.filter(_ != key).toSeq
    df.groupBy(col(key)).agg(winner(cols).as("w"))
      .select(col(key) +: cols.map(n => col(s"w.$n").as(n)): _*)
  }

  /** Range of `key` among `ranges` (a power of two): the top bits of a
    * 16-bit hash bucket, so doubling `ranges` splits every range in two. */
  private def rangeOf(key: Column, ranges: Int): Column =
    (pmod(xxhash64(key), lit(Buckets.toLong)) * ranges / Buckets).cast("int")

  /** The smallest power of two, at least `from`, at which `bytes` fit
    * in that many scan partitions. */
  private def rangesFor(spark: SparkSession, bytes: Long, from: Int): Int = {
    val perRange = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    Iterator.iterate(from)(_ * 2).find(n => n >= Buckets || n * perRange >= bytes).get
  }

  /** Upsert a per-key delta into the table at `tablePath`. Exactly four
    * Spark actions per non-empty batch, in this order: delta checkpoint,
    * touched-set collect, merged checkpoint, one parquet write. */
  private def upsert(spark: SparkSession, tablePath: String, rows: DataFrame,
      key: String, winner: Seq[String] => Column): Unit = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val current = newest(spark, tablePath)
    val ranges = rangesFor(spark, current.fold(0L)(_.bytes), current.fold(1)(_.ranges))
    val grown = current.exists(_.ranges != ranges)

    // Checkpoint FIRST, emptiness check after: inside foreachBatch
    // every action on the batch re-executes the upstream micro-batch
    // plan (the whole parse + state-machine pipeline), so a separate
    // isEmpty probe doubled the per-batch cost; on the checkpointed
    // delta it's free.
    val delta = rows.withColumn(RangeCol, rangeOf(col(key), ranges)).localCheckpoint()

    // one job answers both "is the delta empty?" and "which ranges does
    // it touch?"
    val touched = delta.select(RangeCol).distinct().collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return

    // every file is rewritten in the batch that doubles the range count
    val (replaced, untouched) = current.fold(Seq.empty[DataFile])(_.files)
      .partition(f => grown || touched(f.range))
    val deltaRows = delta.drop(RangeCol)
    val existing =
      if (replaced.isEmpty) deltaRows.limit(0)
      else spark.read.schema(current.get.schema)
        .parquet(replaced.map(f => new Path(table, f.path).toString): _*)
    val merged = pick(existing.unionByName(deltaRows), key, winner)
    val id = current.fold(0L)(_.id + 1)
    val staged = new Path(new Path(table, DataDir), id.toString)
    merged.withColumn(RangeCol, rangeOf(col(key), ranges))
      // cluster by range BEFORE the partitioned write: each range
      // directory then gets exactly one file, not one per shuffle task
      .repartition(col(RangeCol))
      // The staged write reads nothing it replaces, so this guards no
      // self-overwrite; whether dropping it pays is to be measured on
      // the `live` benchmark, whose merge phases assume it.
      .localCheckpoint()
      .write.mode("overwrite").partitionBy(RangeCol).parquet(staged.toString)

    val prefix = s"$DataDir/$id/"
    val written = fs.listStatus(staged).filter(_.getPath.getName.startsWith(s"$RangeCol="))
      .flatMap { d =>
        val r = d.getPath.getName.stripPrefix(s"$RangeCol=").toInt
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
          DataFile(r, f.getLen, s"$prefix${d.getPath.getName}/${f.getPath.getName}")
        }
      }
    val version = Version(id, ranges, merged.schema, untouched ++ written.sortBy(_.range))
    Publish.commit(spark, new Path(new Path(table, VersionDir), id.toString).toString,
      version.toJson)
    prune(fs, table)
  }
}
