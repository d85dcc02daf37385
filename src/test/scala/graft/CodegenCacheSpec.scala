package graft

/** The session's codegen cache holds a repeated workload's generated
  * classes, so a second round of the same queries compiles nothing.
  * With Spark's default 100-entry cache the round's 132 classes (run
  * alone at sf0.001) outnumber the cache, each query evicts classes a
  * later one needs, and the repeat recompiles 53 of them. */
class CodegenCacheSpec extends SparkSpec {
  // the light cells of the perfbench `queries` workload: one per query
  // module plus TPC-H Q6
  private val Cells = Seq("q1_agg", "q_sql_tpch6", "q_text_fingerprint",
    "q_dedup_minhash", "q_sim_ann_lsh", "q_label_majority",
    "q_graph_degree_hist", "q_mm_byte_hist", "q_zonemap_scan")

  // None of these plans embeds a per-run value (a timestamp, a random
  // seed, a fresh temp path) in its generated source, so a repeat may
  // compile no class at all.
  private val AllowedRecompiles = 0L

  private def round(): Long = {
    val c0 = Bench.codegenCompiles()
    Cells.foreach { name =>
      SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()
    }
    Bench.codegenCompiles() - c0
  }

  test("codegen: a repeated round of queries compiles nothing") {
    val first = round()
    val second = round()
    assert(second <= AllowedRecompiles,
      s"the first round compiled $first classes and the repeat $second")
  }
}
