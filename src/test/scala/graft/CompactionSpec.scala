package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.expr

import graft.sim.IvfIndex
import graft.sources.Compaction

/** Compaction: file count shrinks to the byte-sized target, content is
  * preserved exactly, and the swap leaves no temp debris — neither
  * after it succeeds nor, as extra partitions, while or after it
  * crashes. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compacts many small files into one; rows preserved; no debris") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val df = spark.range(10000).toDF("id")
      .withColumn("v", org.apache.spark.sql.functions.expr("id * 3"))
    df.repartition(20).write.parquet(dir)
    assert(Compaction.parquetFileCount(spark, dir) == 20)

    val (before, after) = Compaction.compact(spark, dir) // target >> data
    assert(before == 20 && after == 1, s"$before -> $after")

    val back = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(back == (0L until 10000L).map(i => (i, i * 3)).toSet)
    // no temp/old dirs left behind
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName).toSet
    assert(parent == Set("t"), parent)
  }

  test("recovers from a crash between the swap renames (live dir missing)") {
    val dir = Files.createTempDirectory("graft-compact3").toString + "/t"
    spark.range(1000).toDF("id").repartition(4).write.parquet(dir)
    // Simulate a run that died after `live -> backup` but before
    // `staged -> live`: data only under the backup, a stale compacted
    // copy staged, live dir gone.
    val live = new java.io.File(dir)
    val old = new java.io.File(live.getParent, "_old/t")
    val tmp = new java.io.File(live.getParent, "_new/t")
    old.getParentFile.mkdirs()
    assert(live.renameTo(old))
    tmp.mkdirs()
    Files.writeString(tmp.toPath.resolve("part-stale.parquet"), "junk")
    assert(!live.exists())

    // compact() must restore the backup, discard the staging, then compact.
    val (before, after) = Compaction.compact(spark, dir)
    assert(before == 4 && after == 1, s"$before -> $after")
    assert(spark.read.parquet(dir).count() == 1000)
    val parent = live.getParentFile.listFiles().map(_.getName).toSet
    assert(parent == Set("t"), parent)
  }

  test("target size splits output into multiple files") {
    val dir = Files.createTempDirectory("graft-compact2").toString + "/t"
    spark.range(50000).toDF("id").repartition(10).write.parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (_, after) = Compaction.compact(spark, dir, targetBytes = bytes / 3)
    assert(after >= 2 && after <= 6, s"after=$after")
    assert(spark.read.parquet(dir).count() == 50000)
  }

  test("a crashed cell compaction leaves the index root's rows and schema unchanged") {
    val root = Files.createTempDirectory("graft-compact4").toString + "/idx"
    val vecs = Seq(1L, 2L, 3L).toDF("vec_id")
      .withColumn("nv", expr("array(cast(vec_id as double), 0D)"))
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(3.0, 0.0))).toDF("cell", "centv")
    IvfIndex.rebuild(vecs, cents, root)
    def rows = spark.read.parquet(root).orderBy("vec_id").collect().toSeq
    val (wantRows, wantSchema) = (rows, spark.read.parquet(root).schema)
    assert(wantRows.size == 3)

    // the state a crash leaves once cell 1's compacted copy is written,
    // before the swap: only the staged copy exists beside the live cell
    spark.read.parquet(s"$root/cell=1").coalesce(1)
      .write.parquet(s"$root/_new/cell=1")
    assert(rows == wantRows)
    assert(spark.read.parquet(root).schema == wantSchema)

    // the next compaction of that cell cleans the state up
    IvfIndex.compactCell(spark, root, 1L)
    assert(rows == wantRows)
    assert(spark.read.parquet(root).schema == wantSchema)
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left.filterNot(n => n.startsWith(".") || n == "_SUCCESS") ==
      Set("cell=0", "cell=1"), left)
  }
}
