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
  * publishes of a two-table sink, or before or after a MERGE sink's
  * version commit — must converge to the uncrashed table when the
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

  /** Merge `b1` then `b2` into a fresh table, each replayed after the
    * crash its first attempt left: `b1`, the very first batch, died
    * before its commit (its files are staged under `_data/0`, no record
    * names them); `b2` died at the point `crash` plants after `b2`'s
    * real merge. */
  private def crashAndReplay(name: String, b1: DataFrame, b2: DataFrame,
      merge: (String, DataFrame) => Unit)(crash: String => Unit): String = {
    val t = tmp(name)
    merge(t, b1)
    assert(fs.delete(new Path(s"$t/_v/0"), false))
    assert(fs.exists(new Path(s"$t/_data/0")) && MergeSink.newest(spark, t).isEmpty)
    merge(t, b1)

    merge(t, b2)
    crash(t)
    merge(t, b2)
    t
  }

  /** The crash mid-swap: the batch staged its files, and died before its
    * record made them the table's. The commit is the swap of the
    * versioned table, so the previous version stays the newest and the
    * staging is named by no record. */
  private def midSwap(t: String): Unit = {
    val v = MergeSink.newest(spark, t).get
    assert(fs.delete(new Path(s"$t/_v/${v.id}"), false))
    assert(fs.exists(new Path(s"$t/_data/${v.id}")))
    assert(MergeSink.newest(spark, t).map(_.id) == Some(v.id - 1))
  }

  /** The crash before pruning: the batch committed, and a crashed
    * attempt's staging (planted at the replay's id + 4) and a commit's
    * temp file are still there. */
  private def beforePruning(t: String): Unit = {
    val v = MergeSink.newest(spark, t).get
    assert(FileUtil.copy(fs, new Path(s"$t/${v.files.head.path}"), fs,
      new Path(s"$t/_data/${v.id + 5}/range=0/part-0.parquet"), false,
      spark.sparkContext.hadoopConfiguration))
    fs.create(new Path(s"$t/_v/_${v.id + 5}.0.tmp")).close()
  }

  /** Same rows as the uncrashed table, and nothing left that no record
    * names: every `_data` directory is a committed version's, and `_v`
    * holds no commit's temp file. */
  private def assertConverged(got: String, want: String, read: String => DataFrame): Unit = {
    def rows(t: String) = read(t).collect().map(_.toString).toSeq.sorted
    assert(rows(got) == rows(want))
    def names(dir: String) = fs.listStatus(new Path(s"$got/$dir")).map(_.getPath.getName).toSet
    assert(names("_v").forall(_.forall(_.isDigit)), names("_v"))
    assert(names("_data").subsetOf(names("_v")), (names("_data"), names("_v")))
  }

  private def segmentsCase(name: String)(crash: String => Unit): String = {
    val changelog = StreamingPipeline.segmentsChangelog(spark, parsed).localCheckpoint()
    val (b1, b2) = halves(changelog, "emit_seq")
    val merge = (p: String, b: DataFrame) => MergeSink.mergeBatch(spark, p, b)
    val single = tmp(s"${name}_single")
    merge(single, changelog)
    val got = crashAndReplay(name, b1, b2, merge)(crash)
    assertConverged(got, single, MergeSink.read(spark, _))
    got
  }

  private def agentsCase(name: String)(crash: String => Unit): String = {
    val (b1, b2) = halves(parsed, "ts_us")
    val merge = (p: String, b: DataFrame) => MergeSink.mergeAgents(spark, p, b)
    val single = tmp(s"${name}_single")
    merge(single, parsed)
    val got = crashAndReplay(name, b1, b2, merge)(crash)
    assertConverged(got, single, MergeSink.readAgents(spark, _))
    got
  }

  test("segments MERGE: crashes in the first batch and mid-swap converge on replay") {
    val t = segmentsCase("merge_seg_swap")(midSwap)
    // each replay took the id its crashed attempt staged under
    assert(MergeSink.newest(spark, t).get.id == 1)
  }

  test("agents MERGE: crashes in the first batch and mid-swap converge on replay") {
    val t = agentsCase("merge_agents_swap")(midSwap)
    // each replay took the id its crashed attempt staged under
    assert(MergeSink.newest(spark, t).get.id == 1)
  }

  test("segments MERGE: crashes before the first commit and before pruning converge on replay") {
    segmentsCase("merge_seg")(beforePruning)
  }

  test("agents MERGE: crashes before the first commit and before pruning converge on replay") {
    agentsCase("merge_agents")(beforePruning)
  }

  test("a version is committed once: a second commit of it fails and keeps the first") {
    val t = tmp("commit_once")
    graft.sources.Publish.commit(spark, s"$t/_v/0", "first".getBytes("UTF-8"))
    intercept[IllegalStateException](
      graft.sources.Publish.commit(spark, s"$t/_v/0", "second".getBytes("UTF-8")))
    val in = fs.open(new Path(s"$t/_v/0"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "first") finally in.close()
    assert(fs.listStatus(new Path(s"$t/_v")).map(_.getPath.getName).toSeq == Seq("0"))
  }
}
