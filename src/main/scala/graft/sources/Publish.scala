package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The only ways a maintained table makes new data visible. Every
  * staging and backup path used here has a component that starts with
  * `_` and holds no `=`, so parquet partition discovery never reads it
  * as data. One writer per table at a time, like every maintenance job
  * in this repo; a crash at any point converges when the same work is
  * replayed.
  *
  *  - [[once]]: a batch published as one new directory, whose existence
  *    marks the batch applied (AggMaintenance, EdgeMaintenance, the
  *    ZoneMap manifest).
  *  - [[files]]: a batch published as files with deterministic names
  *    into directories other batches share (IvfIndex, InvertedIndex).
  *  - [[swap]]: directories replaced in place (Compaction,
  *    AggMaintenance compaction).
  *  - [[commit]]: one small file created whole under a name that must
  *    not exist yet (the MergeSink version record, whose creation is
  *    the batch's commit).
  */
object Publish {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def move(fs: FileSystem, from: Path, to: Path): Unit = {
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to)) sys.error(s"publish failed: $from -> $to")
  }

  /** Rename the staged batch directory to `dest` unless `dest` exists.
    * An existing `dest` is the applied marker: a replay drops its
    * recomputation, which matters because it may differ (additive
    * partials would double-count; a delta recomputed after the first
    * publish is empty). Deletes only `staged`, never another batch's
    * staging. */
  def once(spark: SparkSession, staged: String, dest: String): Unit = {
    val (src, dst) = (new Path(staged), new Path(dest))
    val fs = fsOf(spark, src)
    if (!fs.exists(dst)) {
      fs.delete(new Path(src, "_SUCCESS"), false) // recursive readers see only parquet
      move(fs, src, dst)
    }
    fs.delete(src, true)
    ()
  }

  /** Move every parquet file under `stagedDir` to the same relative
    * directory under `destDir` (so `cell=3/` lands in `destDir/cell=3/`)
    * as `batch-<batchId>-part-<i>.parquet`, `i` being the file's rank
    * by name within its directory. Delete-then-rename per file: a
    * replay overwrites exactly its own earlier files, so any crash or
    * retry leaves one copy of the batch. Deletes `stagedDir`. */
  def files(spark: SparkSession, stagedDir: String, destDir: String,
      batchId: Long): Unit = {
    val src = new Path(stagedDir)
    val fs = fsOf(spark, src)
    def publish(from: Path, to: Path): Unit = {
      val (dirs, leaves) = fs.listStatus(from).partition(_.isDirectory)
      leaves.map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex
        .foreach { case (f, i) =>
          val target = new Path(to, s"batch-$batchId-part-$i.parquet")
          fs.delete(target, false)
          move(fs, f, target)
        }
      dirs.map(_.getPath).filterNot(_.getName.startsWith("_"))
        .foreach(d => publish(d, new Path(to, d.getName)))
    }
    if (fs.exists(src)) publish(src, new Path(destDir))
    fs.delete(src, true)
    ()
  }

  /** Replace the children `names` of `dir` with the directories that
    * `write` stages, given the staging root, as `<root>/<name>`;
    * returns what `write` returns.
    *
    * Recovery runs first, before `write` can read `dir`: a child that
    * a crashed swap moved to its backup and never replaced is restored,
    * then every backup and any staging are dropped. Then, per name:
    * live -> backup, staged -> live, delete the backup. */
  def swap[A](spark: SparkSession, dir: String, names: Seq[String])(
      write: String => A): A = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val (staged, backup) = (new Path(root, "_new"), new Path(root, "_old"))
    if (fs.exists(backup)) fs.listStatus(backup).map(_.getPath).foreach { b =>
      if (!fs.exists(new Path(root, b.getName))) move(fs, b, new Path(root, b.getName))
    }
    fs.delete(backup, true)
    fs.delete(staged, true)
    val out = write(staged.toString)
    names.foreach { n =>
      val live = new Path(root, n)
      if (fs.exists(live)) move(fs, live, new Path(backup, n))
      move(fs, new Path(staged, n), live)
      fs.delete(new Path(backup, n), true)
    }
    fs.delete(staged, true)
    fs.delete(backup, true)
    out
  }

  /** Create the file `dest` holding `body`, visible whole or not at
    * all: the bytes go to a temp file beside `dest`, named
    * `_<name of dest>.<random>.tmp`, which is renamed to `dest` only if
    * `dest` does not exist (a second commit of one name fails instead
    * of replacing it). A crash leaves at most the temp file, for the
    * caller to delete. */
  def commit(spark: SparkSession, dest: String, body: Array[Byte]): Unit = {
    val fs = fsOf(spark, new Path(dest))
    val dst = fs.makeQualified(new Path(dest))
    val tmp = new Path(dst.getParent, s"_${dst.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(body) finally out.close()
    try FileContext.getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, Options.Rename.NONE)
    catch {
      case e: FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new IllegalStateException(s"publish failed: $dest is already committed", e)
    }
  }
}
