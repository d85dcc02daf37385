package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `queries`: one closed-loop client running a fixed subset of
  * `SparkEntry.queries`. Pass 0 is each query's first run in the JVM
  * (cold); later passes are warm and run in a seeded order. */
object Queries {
  /** Cells that take well under a second at the project's bench scale,
    * one from every query module except the TaskRouter reporting
    * queries (their one-time staging does not fit the run budget; the
    * report path runs in `live`), plus TPC-H Q6. A cut to the per-query
    * fixed floor shows here. */
  val Light: Seq[String] = Seq(
    "q1_agg", "q_sql_tpch6", "q_text_fingerprint", "q_dedup_minhash", "q_sim_ann_lsh",
    "q_label_majority", "q_graph_degree_hist", "q_mm_byte_hist", "q_zonemap_scan")

  /** A costly non-staging cell whose oracle is cheap to evaluate:
    * executor work dominates, so a loss here cannot hide behind a
    * fixed-floor gain on the light set. */
  val Heavy: Seq[String] = Seq("q_rec_itemcf")

  /** Runs of each heavy cell per warm pass: one heavy wall varies by
    * about a fifth between runs in the same process (Spark still
    * compiles code in warm runs), so its median needs more samples
    * than the light cells'. */
  val HeavyRuns = 2

  /** Query module of each name, for the per-module layer sums. */
  lazy val moduleOf: Map[String, String] = Seq(
    "queries" -> graft.queries.Relational.queries,
    "taskrouter" -> graft.taskrouter.TaskRouterQueries.queries,
    "text" -> (graft.text.TextAnalysis.queries ++ graft.text.InvertedIndex.queries ++
      graft.text.HtmlExtract.queries),
    "dedup" -> graft.dedup.Dedup.queries,
    "sim" -> (graft.sim.Similarity.queries ++ graft.sim.IvfIndex.queries),
    "quality" -> (graft.quality.Quality.queries ++ graft.quality.Labeling.queries),
    "graph" -> graft.graph.GraphOps.queries,
    "multimodal" -> (graft.multimodal.Multimodal.queries ++ graft.multimodal.PdfLite.queries),
    "operators" -> graft.operators.ZoneMap.queries
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  final case class Exec(seq: Int, name: String, pass: Int, wallS: Double, ok: Boolean,
      error: String, layer: Map[String, Double])

  private def stageDirs(root: File): Set[String] =
    Option(root.listFiles).getOrElse(Array.empty[File]).filter(_.isDirectory)
      .flatMap(app => Option(app.listFiles).getOrElse(Array.empty[File]).map(_.getPath)).toSet

  /** Warm passes of a run: fixed by `--seconds` alone (one per three
    * seconds, at least three), so every commit gets the same number of
    * samples per query whatever its speed. */
  def warmPasses(a: Args): Int = if (a.smoke) 2 else math.max(3, a.seconds / 3)

  final case class Prepared(relayoutS: Double)

  /** Set-up, as the project's Bench does it: fact-table relayout, then
    * the graph edge staging. */
  def prepare(spark: SparkSession, a: Args, round: Int): Prepared = {
    val (_, relayoutS) = Clock.time(Trace.span("relayout", "tables")(
      Seq("lineitem", "orders", "events", "documents", "embeddings")
        .foreach(t => Tables.load(spark, a.data, t))))
    Trace.span("staging", "graph")(graft.graph.GraphOps.stageEdges(spark, a.data))
    Prepared(relayoutS)
  }

  def run(spark: SparkSession, a: Args, prep: Prepared): Result = {
    val dir = a.data
    val light = if (a.smoke) Light.take(8) else Light
    val heavy = Heavy
    val set: Map[String, String] = (light.map(_ -> "light") ++ heavy.map(_ -> "heavy")).toMap
    val stageRoot = new File("target/graft-stage")

    val rnd = new scala.util.Random(a.seed)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passStages = mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val loads = mutable.ArrayBuffer.empty[Map[String, Double]]

    // the cold pass writes each result as parquet for the oracle check;
    // warm passes write to the noop sink, as the project's Bench does
    val checkDir = Fs.fresh(s"${a.work}/check")
    def exec(seq: Int, name: String, pass: Int): Exec = {
      val fn = SparkEntry.queries(name)
      val c0 = Codegen.mark()
      val t0 = System.nanoTime()
      var construct = 0.0
      try {
        Trace.span(name, "query", Map("seq" -> seq, "pass" -> pass, "set" -> set(name))) {
          val df = Trace.span("construct", "query.construct")(fn(spark, dir))
          construct = Clock.sec(t0)
          Trace.span("exec", "query.exec") {
            if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
            else df.write.format("noop").mode("overwrite").save()
          }
        }
        val wall = Clock.sec(t0)
        Exec(seq, name, pass, wall, ok = true, "", Map("construct_ms" -> construct * 1000,
          "exec_ms" -> (wall - construct) * 1000, "codegen_ms" -> Codegen.msSince(c0)))
      } catch { case e: Exception =>
        Exec(seq, name, pass, Clock.sec(t0), ok = false, e.toString.take(300), Map.empty)
      }
    }

    // pass 0 (cold), then a fixed number of warm passes in seeded order
    val passes = 1 + warmPasses(a)
    (0 until passes).foreach { pass =>
      val before = stageDirs(stageRoot)
      val l0 = Load.sample()
      val order = if (pass == 0) (light ++ heavy)
        else rnd.shuffle(light ++ heavy.flatMap(Seq.fill(HeavyRuns)(_)))
      order.foreach(q => execs += exec(execs.size, q, pass))
      val added = stageDirs(stageRoot) -- before
      passStages += ((pass, added.size, added.toSeq.map(p => Fs.bytes(new File(p))).sum))
      loads += Load.between(l0, Load.sample())
    }

    val ok = execs.filter(_.ok)
    val cold = ok.filter(_.pass == 0)
    val warm = ok.filter(_.pass > 0)
    def medianWarm(names: Seq[String]): Map[String, Double] =
      names.flatMap(n => Some(warm.filter(_.name == n).map(_.wallS).toSeq)
        .filter(_.nonEmpty).map(n -> Stats.median(_))).toMap
    val lightMed = medianWarm(light)
    val heavyMed = medianWarm(heavy)
    val named = mutable.LinkedHashMap.empty[String, Double]
    named("q_cold_s") = cold.map(_.wallS).sum
    named("q_light_s") = lightMed.values.sum
    named("q_heavy_s") = heavyMed.values.sum
    named("query_p50_s") = Stats.median(warm.map(_.wallS).toSeq)
    named("query_p90_s") = Stats.quantile(warm.map(_.wallS).toSeq, 0.9)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers("tables.relayout_s") = prep.relayoutS
    layers("cache.stage_builds") = passStages.head._2.toDouble
    layers("cache.stage_bytes") = passStages.head._3.toDouble
    var layerSums: Map[String, Any] = Map.empty
    val perQuery: Seq[Exec] = Option(Trace.tracer).map(t => Layers.queries(t, ok.toSeq)).getOrElse(ok.toSeq)
    if (Trace.on) {
      // per layer: each query's median over warm passes, summed over the
      // subset (task_skew: the median over queries)
      val warmRecs = perQuery.filter(_.pass > 0)
      val keys = warmRecs.flatMap(_.layer.keys).distinct
      val byQuery = warmRecs.groupBy(_.name).map { case (n, rs) =>
        n -> keys.map(k => k -> Stats.median(rs.flatMap(_.layer.get(k)))).toMap }
      def sum(group: Iterable[Map[String, Double]]): Map[String, Double] = keys.map { k =>
        k -> (if (k == "task_skew") Stats.median(group.flatMap(_.get(k)).toSeq)
          else group.flatMap(_.get(k)).filterNot(_.isNaN).sum)
      }.toMap
      sum(byQuery.values).foreach { case (k, v) => layers(s"query.$k") = v }
      layerSums = Map(
        "set" -> byQuery.groupBy { case (n, _) => set(n) }.map { case (g, m) => g -> sum(m.values) },
        "module" -> byQuery.groupBy { case (n, _) => moduleOf.getOrElse(n, "?") }
          .map { case (g, m) => g -> sum(m.values) })
    }

    val problems = mutable.ArrayBuffer.empty[String]
    execs.filterNot(_.ok).foreach(e => problems += s"${e.name} (pass ${e.pass}) failed: ${e.error}")

    Fs.write(s"$checkDir/_oracle.json", Json.render((light ++ heavy).map(n => n -> SparkEntry.oracleSql.get(n)).toMap))

    val attempted = execs.size.toLong
    val failed = execs.count(!_.ok).toLong
    Result(attempted, failed, problems.toSeq,
      gate = Map(
        "light_s" -> named("q_light_s"),
        "heavy_s" -> named("q_heavy_s"),
        "op_p50_s" -> named("query_p50_s")),
      named = named.toMap, layers = layers.toMap,
      detail = Map(
        "passes" -> passes,
        "cold_s" -> cold.map(e => e.name -> e.wallS).toMap,
        "warm_median_s" -> (lightMed ++ heavyMed),
        "set" -> set, "module" -> set.keys.map(n => n -> moduleOf.getOrElse(n, "?")).toMap,
        "per_query_layers" -> perQuery.map(e => Map("q" -> e.name, "pass" -> e.pass,
          "wall_s" -> e.wallS) ++ e.layer),
        "layer_sums" -> layerSums,
        "module_warm_s" -> (lightMed ++ heavyMed).groupBy { case (n, _) => moduleOf.getOrElse(n, "?") }
          .map { case (m, v) => m -> v.values.sum },
        "stage_dirs_per_pass" -> passStages.map { case (p, n, b) => Map("pass" -> p, "dirs" -> n, "bytes" -> b) },
        "loads" -> loads.toSeq,
        "check_dir" -> checkDir))
  }
}
