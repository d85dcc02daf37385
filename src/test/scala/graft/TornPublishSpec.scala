package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.EdgeMaintenance
import graft.operators.ZoneMap
import graft.sim.IvfIndex
import graft.sources.AggMaintenance
import graft.streaming.{MergeSink, StreamingPipeline}
import graft.taskrouter.{Ingest, Synth}
import graft.text.InvertedIndex

/** Crash-MID-publish convergence for the maintained tables: a job
  * killed between the staging write and the publish — between the two
  * publishes of a two-table sink, or in the middle of a MERGE sink's
  * partition swap — must converge to the uncrashed table when the
  * batch replays. Torn states are planted by running the real merge
  * and then deleting/retaining exactly what the crash window leaves. */
class TornPublishSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("target").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(name: String): String =
    s"target/graft-stage/${spark.sparkContext.applicationId}/torn_$name"

  // --- AggMaintenance ------------------------------------------------

  private def aggRows(path: String): Set[(String, Long, Long)] =
    AggMaintenance.read(spark, path).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_orders"),
        r.getAs[Long]("revenue_cents"))).toSet

  test("agg: crash after staging, before publish — replay converges") {
    val o = Tables.load(spark, sf0001, "orders")
    val full = tmp("agg_full"); AggMaintenance.rebuild(o, full)
    val want = aggRows(full)

    val p = tmp("agg_torn")
    AggMaintenance.rebuild(o.filter($"o_orderkey" % 3 === 0), p)
    // crash window 1: batch 1 wrote its staging dir, died before the
    // rename — plant the leftover by merging batch 1 on a SCRATCH view
    // and copying its staged partial layout: equivalently, write any
    // stale content at the staging path; mergeBatch overwrites it
    o.filter($"o_orderkey" % 3 === 1).limit(5)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), lit(0L).as("revenue_cents"))
      .write.mode("overwrite").parquet(s"$p/_staging/batch=1")
    assert(fs.exists(new Path(s"$p/_staging/batch=1")))
    // replay of batch 1 must overwrite the torn staging and publish
    AggMaintenance.mergeBatch(o.filter($"o_orderkey" % 3 === 1), p, 1L)
    AggMaintenance.mergeBatch(o.filter($"o_orderkey" % 3 === 2), p, 2L)
    assert(aggRows(p) == want)
  }

  test("agg: compaction crash mid-swap recovers from _old on next run") {
    val o = Tables.load(spark, sf0001, "orders")
    val p = tmp("agg_swapcrash")
    AggMaintenance.rebuild(o.filter($"o_orderkey" % 3 === 0), p)
    AggMaintenance.mergeBatch(o.filter($"o_orderkey" % 3 =!= 0), p, 1L)
    val want = aggRows(p)
    // crash window: partials moved to the backup, died before the
    // staged copy replaced it
    fs.mkdirs(new Path(s"$p/_old"))
    assert(fs.rename(new Path(s"$p/partials"), new Path(s"$p/_old/partials")))
    // next compact must restore the backup FIRST (it holds the only copy)
    AggMaintenance.compact(spark, p)
    assert(aggRows(p) == want)
    assert(!fs.exists(new Path(s"$p/_old")))
  }

  // --- EdgeMaintenance ----------------------------------------------

  private val fixture: Seq[(Long, Long)] = Seq(
    (10L, 1L), (10L, 2L), (10L, 3L),
    (11L, 2L), (11L, 3L), (11L, 4L),
    (12L, 7L), (13L, 5L), (13L, 6L))

  private def bruteEdges(rows: Seq[(Long, Long)]): Set[(Long, Long)] =
    rows.groupBy(_._1).values.flatMap { parts =>
      val ps = parts.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet

  private def edgeSet(path: String): Set[(Long, Long)] =
    EdgeMaintenance.edges(spark, path).as[(Long, Long)].collect().toSet

  test("edges: crash after staging, before publish — replay converges") {
    val all = fixture.toDF("l_orderkey", "l_partkey")
    val p = tmp("edge_stage_crash")
    EdgeMaintenance.rebuild(all.filter($"l_partkey" % 3 === 0), p)
    // torn staging left by a killed batch-1 run: stale garbage at both
    // staged sub-dirs; replay must overwrite, not merge it in
    Seq((999L, 999L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$p/_staging/batch=1/li")
    Seq((998L, 999L)).toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$p/_staging/batch=1/edges")
    EdgeMaintenance.mergeBatch(all.filter($"l_partkey" % 3 === 1), p, 1L)
    EdgeMaintenance.mergeBatch(all.filter($"l_partkey" % 3 === 2), p, 2L)
    assert(edgeSet(p) == bruteEdges(fixture))
    assert(!edgeSet(p).contains((998L, 999L)))
  }

  test("edges: crash BETWEEN the two publishes (edges landed, membership not)") {
    val all = fixture.toDF("l_orderkey", "l_partkey")
    val p = tmp("edge_mid_publish")
    EdgeMaintenance.rebuild(all.filter($"l_partkey" % 3 === 0), p)
    EdgeMaintenance.mergeBatch(all.filter($"l_partkey" % 3 === 1), p, 1L)
    // simulate the crash window between publish(edges) and publish(li):
    // batch-1 edges are live, batch-1 membership vanished
    assert(fs.delete(new Path(s"$p/li/batch-1"), true))
    // replay of batch 1: edge publish must DISCARD its recomputation
    // (dest exists), membership publish must land — no duplicate edges
    EdgeMaintenance.mergeBatch(all.filter($"l_partkey" % 3 === 1), p, 1L)
    EdgeMaintenance.mergeBatch(all.filter($"l_partkey" % 3 === 2), p, 2L)
    assert(edgeSet(p) == bruteEdges(fixture))
    // multiset check: no edge row duplicated by the replay
    assert(EdgeMaintenance.edges(spark, p).count() == bruteEdges(fixture).size)
  }

  // --- every once / files caller --------------------------------------

  test("once/files publish cleans only its own staging dir, for every caller") {
    val o = Tables.load(spark, sf0001, "orders")
    val li = fixture.toDF("l_orderkey", "l_partkey")
    val vecs = Seq(1L, 2L, 3L).toDF("vec_id")
      .withColumn("nv", expr("array(cast(vec_id as double), 0D)"))
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(3.0, 0.0))).toDF("cell", "centv")
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    // (caller, set-up, batch-1 merge)
    val callers: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("agg", AggMaintenance.rebuild(o.filter($"o_orderkey" % 3 === 0), _),
        AggMaintenance.mergeBatch(o.filter($"o_orderkey" % 3 === 1), _, 1L)),
      ("edges", EdgeMaintenance.rebuild(li.filter($"l_partkey" % 3 === 0), _),
        EdgeMaintenance.mergeBatch(li.filter($"l_partkey" % 3 === 1), _, 1L)),
      ("zonemap", _ => (), ZoneMap.appendBatch(o, _, "o_orderdate", 1L)),
      ("ivf", IvfIndex.rebuild(vecs.limit(1), cents, _),
        IvfIndex.mergeBatch(vecs, cents, _, 1L)),
      ("inverted", InvertedIndex.rebuild(docs.limit(1), _),
        InvertedIndex.mergeBatch(docs, _, 1L)))
    callers.foreach { case (name, setUp, merge) =>
      val p = tmp(s"concurrent_$name")
      setUp(p)
      // another maintenance job has batch 99 in flight
      val foreign = new Path(s"$p/_staging/batch=99")
      Seq((1L, 2L)).toDF("a", "b").write.mode("overwrite").parquet(s"$foreign/data")
      merge(p)
      assert(fs.exists(foreign),
        s"$name deleted a concurrent batch's in-flight staging dir")
      assert(!fs.exists(new Path(s"$p/_staging/batch=1")),
        s"$name left its own staging dir behind")
    }
  }

  // --- MergeSink -----------------------------------------------------

  private lazy val parsed =
    Ingest.parse(Synth.cloudEvents(spark, sf0001)).localCheckpoint()

  /** Earlier and later half of `df` by the time column `c`. */
  private def halves(df: DataFrame, c: String): (DataFrame, DataFrame) = {
    val mid = df.stat.approxQuantile(c, Array(0.5), 0.0).head
    (df.filter(col(c) < mid), df.filter(col(c) >= mid))
  }

  private def partitions(table: String): Set[String] =
    fs.listStatus(new Path(table)).map(_.getPath.getName)
      .filter(_.startsWith("uuid_p=")).toSet

  /** Merge `b1` then `b2` into a fresh table, each replayed after the
    * crash its first attempt left: `b1`, the very first batch, died
    * after staging its partitions (the table directory holds only
    * staging); `b2` died mid-swap, after moving a partition it touches
    * aside and before publishing its replacement. */
  private def crashAndReplay(name: String, b1: DataFrame, b2: DataFrame,
      merge: (String, DataFrame) => Unit): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val t = tmp(name)
    // b2's partitions, as staged by a merge of b2 alone
    val staged = tmp(s"${name}_b2_alone")
    merge(staged, b2)
    def plantStaging(): Unit = {
      assert(FileUtil.copy(fs, new Path(staged), fs, new Path(s"$t/_new"), false, hconf))
      ()
    }

    plantStaging()
    merge(t, b1)

    val part = (partitions(t) intersect partitions(staged)).min
    plantStaging()
    fs.mkdirs(new Path(s"$t/_old"))
    assert(fs.rename(new Path(s"$t/$part"), new Path(s"$t/_old/$part")))
    merge(t, b2)
    t
  }

  /** Same rows as the uncrashed table, and no staging or backup left. */
  private def assertConverged(got: String, want: String, read: String => DataFrame): Unit = {
    def rows(t: String) = read(t).collect().map(_.toString).toSeq.sorted
    assert(rows(got) == rows(want))
    assert(!fs.exists(new Path(s"$got/_new")) && !fs.exists(new Path(s"$got/_old")))
  }

  test("segments MERGE: crashes in the first batch and mid-swap converge on replay") {
    val changelog = StreamingPipeline.segmentsChangelog(spark, parsed).localCheckpoint()
    val (b1, b2) = halves(changelog, "emit_seq")
    val merge = (p: String, b: DataFrame) => MergeSink.mergeBatch(spark, p, b)
    val single = tmp("merge_seg_single")
    merge(single, changelog)
    val got = crashAndReplay("merge_seg", b1, b2, merge)
    assertConverged(got, single, MergeSink.read(spark, _))
  }

  test("agents MERGE: crashes in the first batch and mid-swap converge on replay") {
    val (b1, b2) = halves(parsed, "ts_us")
    val merge = (p: String, b: DataFrame) => MergeSink.mergeAgents(spark, p, b)
    val single = tmp("merge_agents_single")
    merge(single, parsed)
    val got = crashAndReplay("merge_agents", b1, b2, merge)
    assertConverged(got, single, MergeSink.readAgents(spark, _))
  }
}
