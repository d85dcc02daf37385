package graft

import org.apache.spark.sql.functions._

import graft.queries.Relational
import graft.sim.Similarity

/** Round-5b breadth operators: Bloom pruning equivalence, ANN recall
  * invariants, time-series gap-fill, unpivot, analytic functions,
  * embedding centroids. The DuckDB oracle hash-checks exact values;
  * these specs pin the *semantic* invariants that survive refactors. */
class BreadthSpec extends SparkSpec {
  import spark.implicits._

  test("BloomPrune.semiJoin is a drop-in for the plain left-semi join") {
    val hot = Tables.load(spark, sf0001, "orders")
      .filter($"o_totalprice" > 400000.0).select($"o_orderkey")
    val li = Tables.load(spark, sf0001, "lineitem")
    val pruned = graft.operators.BloomPrune
      .semiJoin(li, "l_orderkey", hot, "o_orderkey")
      .select($"l_orderkey", $"l_linenumber").collect().toSet
    val plain = li.join(hot, $"l_orderkey" === $"o_orderkey", "left_semi")
      .select($"l_orderkey", $"l_linenumber").collect().toSet
    assert(pruned == plain)
    assert(plain.nonEmpty)
  }

  test("bloom pre-filter plan: might_contain probe + scalar-subquery sketch") {
    val hot = Tables.load(spark, sf0001, "orders")
      .filter($"o_totalprice" > 400000.0).select($"o_orderkey")
    val df = graft.operators.BloomPrune.semiJoin(
      Tables.load(spark, sf0001, "lineitem"), "l_orderkey", hot, "o_orderkey")
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain"), p)
    assert(p.contains("scalar-subquery") || p.contains("Subquery"), p)
  }

  test("ANN recall: bounded, keyed by the brute query set, LSH ⊆ bucket") {
    val r = Similarity.qSimAnnRecall(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (ih, ir) = (row.getAs[Long]("ivf_hits"), row.getAs[Long]("ivf_recall_permille"))
      val (lh, lr) = (row.getAs[Long]("lsh_hits"), row.getAs[Long]("lsh_recall_permille"))
      assert(ih >= 0 && ih <= 3 && ir == ih * 1000 / 3)
      assert(lh >= 0 && lh <= 3 && lr == lh * 1000 / 3)
    }
    val truthQueries = Similarity.qSimKnnBrute(spark, sf0001)
      .select($"query_id").distinct().as[Long].collect().toSet
    assert(r.map(_.getAs[Long]("query_id")).toSet == truthQueries)
  }

  test("ts gap-fill: contiguous daily grid, forward-filled values") {
    val rows = Relational.qTsFill(spark, sf0001).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rs) =>
      val eps = rs.map(_.getAs[Long]("day_ep")).sorted
      // contiguous: every consecutive day present between min and max
      assert(eps.zip(eps.tail).forall { case (a, b) => b - a == 86400L })
      // forward fill: null only before the first observation; a gap row
      // carries the previous day's value
      var lastSeen: Option[Double] = None
      rs.sortBy(_.getAs[Long]("day_ep")).foreach { r =>
        val dv = Option(r.getAs[java.lang.Double]("day_value")).map(_.toDouble)
        val fv = Option(r.getAs[java.lang.Double]("filled_value")).map(_.toDouble)
        val gap = r.getAs[Boolean]("gap")
        assert(gap == dv.isEmpty)
        if (dv.isDefined) lastSeen = dv
        assert(fv == lastSeen)
      }
    }
  }

  test("unpivot melts each lineitem row into exactly 4 metric rows") {
    val n = Tables.load(spark, sf0001, "lineitem").count()
    val m = Relational.qUnpivot(spark, sf0001)
    assert(m.count() == 4 * n)
    assert(m.select($"metric").distinct().as[String].collect().sorted.toSeq ==
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
  }

  test("unpivot rows are in a total order: adjacent rows strictly ordered or equal") {
    val rows = Relational.qUnpivot(spark, sf0001).collect().toSeq.map { r =>
      (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"),
        r.getAs[String]("metric"), r.getAs[Double]("val"))
    }
    val order = Ordering.Tuple4(Ordering[Long], Ordering[Int], Ordering[String],
      Ordering.Double.TotalOrdering)
    val outOfOrder = rows.zip(rows.tail).filter { case (a, b) => order.gt(a, b) }
    assert(outOfOrder.isEmpty, outOfOrder.take(5))
    // the case the tiebreaker exists for: (orderkey, linenumber) repeats
    assert(rows.map(r => (r._1, r._2)).distinct.size < rows.size / 4)
  }

  test("distribution funcs: pct_rank/cume bounded, first_id is partition minimum") {
    val rows = Relational.qWindowDistribution(spark, sf0001).collect()
    rows.foreach { r =>
      val pr = r.getAs[Double]("pct_rank"); val cd = r.getAs[Double]("cume")
      assert(pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0)
    }
    // first_value over the running frame = row with the smallest (value, id)
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val minId = rs.minBy(r => (r.getAs[Double]("value"), r.getAs[Long]("event_id")))
        .getAs[Long]("event_id")
      assert(rs.forall(_.getAs[Long]("first_id") == minId))
    }
  }

  test("embedding centroids: 64 positions per label, counts = label sizes") {
    val c = Similarity.qEmbCentroid(spark, sf0001).collect()
    val sizes = Tables.load(spark, sf0001, "embeddings")
      .groupBy($"label").count().as[(Int, Long)].collect().toMap
    val byLabel = c.groupBy(_.getAs[Int]("label"))
    assert(byLabel.keySet == sizes.keySet)
    byLabel.foreach { case (l, rs) =>
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq == (0 until 64))
      assert(rs.forall(_.getAs[Long]("n_vectors") == sizes(l)))
    }
    // cross-check one cell against a direct Scala recomputation
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .filter($"label" === 0).select($"embedding").as[Array[Float]].collect()
    val mean0 = vecs.map(v => BigDecimal(v(0).toDouble).setScale(7, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble / vecs.length
    val got = c.find(r => r.getAs[Int]("label") == 0 && r.getAs[Int]("pos") == 0).get
      .getAs[Double]("mean_component")
    assert(math.abs(got - mean0) < 1e-9, s"$got vs $mean0")
  }

  test("chunking covers every token; overlap = chunk - stride; short docs chunk once") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val chunks = graft.text.TextAnalysis.qTextChunk(spark, sf0001).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet)
    byDoc.foreach { case (d, cs) =>
      val n = docs(d)
      // chunk count = ceil(max(n,1)/stride) with the last start <= n
      val starts = cs.map(_.getAs[Long]("start_token")).sorted
      assert(starts.head == 1 && starts.zip(starts.tail).forall { case (a, b) => b - a == 40 })
      assert(starts.last <= math.max(n, 1) && starts.last + 40 > math.max(n, 1))
      // token coverage: every non-last chunk re-reads (size - stride)
      // tokens of its successor's span, so Σ sizes = n + Σ overlaps
      val total = cs.map(_.getAs[Long]("n_chunk_tokens")).sum
      val expectedOverlap = cs.sortBy(_.getAs[Long]("chunk_id")).dropRight(1)
        .map(c => math.max(0L, c.getAs[Long]("n_chunk_tokens") - 40L)).sum
      assert(total == n + expectedOverlap, s"doc $d: $total vs $n + $expectedOverlap")
    }
  }

  test("packing: offsets chain within a source; pack boundaries flagged") {
    val df = graft.text.TextAnalysis.qTextPack(spark, sf0001)
    // Exact output types: the oracle casts its window sum to BIGINT, so any
    // drift here (e.g. a decimal creeping in) must fail the suite, not the driver.
    import org.apache.spark.sql.types._
    assert(df.schema.map(f => f.name -> f.dataType) == Seq(
      "doc_id" -> LongType, "source" -> StringType, "n_tokens" -> LongType,
      "pack_id" -> LongType, "pack_offset" -> LongType, "spans_packs" -> StringType))
    val rows = df.collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      var cum = 0L
      rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("pack_id") == cum / 256)
        assert(r.getAs[Long]("pack_offset") == cum % 256)
        val spans = (cum / 256) != ((cum + r.getAs[Long]("n_tokens") - 1) / 256)
        assert(r.getAs[String]("spans_packs") == (if (spans) "Y" else "N"))
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("MAD outliers: flag matches the formula; medians robust per group") {
    val rows = graft.queries.Relational.qOutlierMad(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val med = rs.head.getAs[Double]("med"); val mad = rs.head.getAs[Double]("mad")
      assert(mad >= 0)
      // group constants are really constant and the median splits the group
      assert(rs.forall(r => r.getAs[Double]("med") == med))
      val vals = rs.map(_.getAs[Double]("value"))
      assert(vals.count(_ <= med) >= rs.length / 2)
      assert(vals.count(_ >= med) >= rs.length / 2)
      rs.foreach { r =>
        val expect = math.abs(r.getAs[Double]("value") - med) > mad * 3
        assert(r.getAs[String]("is_outlier") == (if (expect) "Y" else "N"))
      }
    }
  }

  test("approx winsorize: thresholds honor the sketch's rank-error bound") {
    val approx = graft.queries.Relational.qWinsorizeApprox(spark, sf0001).collect()
    val byType = approx.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val n = rs.length.toDouble
      val eps = n / 10000 + 1 // accuracy-10000 rank error + discretization
      val p05 = rs.head.getAs[Double]("p05"); val p95 = rs.head.getAs[Double]("p95")
      val below05 = rs.count(_.getAs[Double]("value") < p05)
      val above95 = rs.count(_.getAs[Double]("value") > p95)
      assert(math.abs(below05 - 0.05 * n) <= eps, s"p05 rank off: $below05 of $n")
      assert(math.abs(above95 - 0.05 * n) <= eps, s"p95 rank off: $above95 of $n")
      // clamp correctness: clipped is the identity inside, threshold outside
      rs.foreach { r =>
        val v = r.getAs[Double]("value"); val c = r.getAs[Double]("clipped")
        val f = r.getAs[String]("clip_flag")
        if (v < p05) assert(c == p05 && f == "LO")
        else if (v > p95) assert(c == p95 && f == "HI")
        else assert(c == v && f == "IN")
      }
    }
  }

  test("semantic dedup: kept <-> zero dominators; dominators are lower ids, same cell") {
    val r = graft.sim.Similarity.qSemDedup(spark, sf0001).collect()
    assert(r.length == Tables.load(spark, sf0001, "embeddings").count())
    r.foreach { row =>
      val kept = row.getAs[String]("kept") == "Y"
      assert(kept == (row.getAs[Long]("n_dominators") == 0L))
    }
    assert(r.exists(_.getAs[String]("kept") == "N"), "threshold should drop someone")
    assert(r.exists(_.getAs[String]("kept") == "Y"))
  }

  test("z-order blocks: tight min/max ranges on BOTH dimensions") {
    // sf0.01: 10k events -> 10 blocks. A plain one-column sort leaves the
    // other column's per-block span ≈ its global span; the Morton curve
    // keeps both spans a fraction of global.
    val rows = Relational.qZorder(spark, graft.TestSpark.sf001).collect()
    assert(rows.length >= 5)
    def span(r: org.apache.spark.sql.Row, lo: String, hi: String): Long =
      r.getAs[Long](hi) - r.getAs[Long](lo)
    val gx = rows.map(_.getAs[Long]("max_x")).max - rows.map(_.getAs[Long]("min_x")).min
    val gy = rows.map(_.getAs[Long]("max_y")).max - rows.map(_.getAs[Long]("min_y")).min
    val avg = rows.map(r => span(r, "min_x", "max_x") + span(r, "min_y", "max_y")).sum
      .toDouble / rows.length
    assert(avg < 0.75 * (gx + gy), s"avg block span $avg vs global ${gx + gy}")
    // blocks tile the z range without overlap
    val sorted = rows.sortBy(_.getAs[Long]("block_id"))
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("max_z") <= b.getAs[Long]("min_z"))
    }
  }

  test("k-means: assignments equal a direct Scala replay of the quantized loop") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
      .map { case (id, e) => id -> e.map(x => math.round((x.toDouble + 10.0) * 1e6)) }
    def assign(cents: Map[Long, Array[Long]]): Map[Long, Long] =
      vecs.map { case (id, v) =>
        id -> cents.toSeq.map { case (j, c) =>
          (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.min._2
      }.toMap
    def recompute(asg: Map[Long, Long]): Map[Long, Array[Long]] =
      vecs.groupBy { case (id, _) => asg(id) }.map { case (j, vs) =>
        j -> (0 until 64).map { p =>
          vs.map(_._2(p)).sum / vs.length  // floor div, all values >= 0
        }.toArray
      }
    val cents0 = vecs.filter(_._1 < 8).map { case (id, v) => id -> v }.toMap
    val expected = assign(recompute(assign(cents0)))
    val got = graft.sim.Similarity.qKmeans(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(got == expected)
    assert(got.values.toSet.size > 1, "should form multiple clusters")
  }

  test("tpch breadth: semi/anti shapes plan as joins, not per-row subqueries") {
    Tables.registerAll(spark, sf0001)
    val q4 = Relational.queries("q_sql_tpch4")(spark, sf0001)
    assert(q4.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    val q21 = Relational.queries("q_sql_tpch21")(spark, sf0001)
    val p21 = q21.queryExecution.optimizedPlan.toString
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"), p21)
    val q22 = Relational.queries("q_sql_tpch22")(spark, sf0001)
    assert(q22.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
  }

  test("cohort retention: offset-0 cells are exactly the cohort at 1000 permille") {
    val rows = Relational.qCohortRetention(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val day0 = rows.filter(_.getAs[Long]("day_offset") == 0L)
    assert(day0.nonEmpty)
    day0.foreach { r =>
      assert(r.getAs[Long]("n_users") == r.getAs[Long]("cohort_size"), r)
      assert(r.getAs[Long]("retained_permille") == 1000L, r)
    }
    // retention is a fraction of the cohort: never exceeds 1000
    rows.foreach(r => assert(r.getAs[Long]("retained_permille") <= 1000L, r))
  }

  test("incremental dedup: verdicts partition the batch; corpus hits share a stored fp") {
    val rows = graft.dedup.Dedup.qDedupIncremental(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val verdicts = rows.map(_.getAs[String]("verdict")).toSet
    assert(verdicts.subsetOf(Set("new", "dup_corpus", "dup_batch")), verdicts)
    // a dup_batch loser always has a batch winner with the same fp and
    // a smaller id that itself is NOT dup_batch
    val byFp = rows.groupBy(_.getAs[String]("fp"))
    rows.filter(_.getAs[String]("verdict") == "dup_batch").foreach { r =>
      val winner = byFp(r.getAs[String]("fp")).minBy(_.getAs[Long]("doc_id"))
      assert(winner.getAs[Long]("doc_id") < r.getAs[Long]("doc_id"))
      assert(winner.getAs[String]("verdict") != "dup_batch")
    }
  }

  test("approx distinct: HLL estimate within 15% of the exact count") {
    val rows = Relational.qApproxDistinct(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_parts")
      val exact = r.getAs[Long]("exact_parts")
      assert(math.abs(approx - exact) <= exact * 0.15,
        s"approx $approx vs exact $exact")
    }
  }

  test("bpe training: every learned pair vanishes next round; max count never grows") {
    val rows = graft.text.TextAnalysis.qBpeTrain(spark, sf0001).collect()
    val rounds = graft.text.TextAnalysis.BpeRounds
    val byRound = (0 until rounds).map(r =>
      rows.filter(_.getAs[Long]("round") == r.toLong).sortBy(_.getAs[Long]("rank")))
    // this corpus never exhausts in 8 rounds: 5 candidates per round
    byRound.foreach(rs => assert(rs.length == 5))
    byRound.foreach { rs =>
      val counts = rs.map(_.getAs[Long]("pair_count"))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b }, counts.toSeq)
    }
    byRound.sliding(2).foreach { case Seq(prev, next) =>
      val learned = (prev.head.getAs[String]("sym_a"), prev.head.getAs[String]("sym_b"))
      // the learned pair can no longer be adjacent as two symbols
      assert(!next.exists(r =>
        (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")) == learned),
        s"learned $learned resurfaced")
      // merging only removes or splits occurrences: every next-round
      // pair's occurrences embed into some prior pair's, so the max
      // count cannot grow round over round
      assert(next.head.getAs[Long]("pair_count") <= prev.head.getAs[Long]("pair_count"))
      ()
    }
  }

  test("hard negatives: 3 per query, all cross-label, descending similarity") {
    val rows = Similarity.qSimHardNegatives(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val labels = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", $"label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.get(r.fieldIndex("label"))).toMap
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, negs) =>
      assert(negs.length == 3, s"query $qid has ${negs.length} negatives")
      assert(negs.map(_.getAs[Long]("rank")).sorted.sameElements(Array(1L, 2L, 3L)))
      negs.foreach(n =>
        assert(labels(n.getAs[Long]("neg_id")) != labels(qid), s"$qid same-label"))
      val sims = negs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cos_e6"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, sims.toSeq)
    }
  }

  test("fuzzy vocab pairs: suffix-blocked, verified edit distance within bounds") {
    val rows = graft.text.TextAnalysis.qTextFuzzy(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[String]("tok_a"); val b = r.getAs[String]("tok_b")
      assert(a < b, r)
      assert(a.last == b.last, r) // block key
      assert(math.abs(a.length - b.length) <= 1, r)
      val d = r.getAs[Long]("dist")
      assert(d >= 1L && d <= 2L, r)
    }
  }

  test("sax motifs: ordered pairs within the distance bound, words 4-symbol base-10") {
    val rows = Relational.qTsSaxMotif(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("user_a") < r.getAs[Long]("user_b"), r)
      val d = r.getAs[Long]("l1_dist")
      assert(d >= 0L && d <= 300L, r)
      val word = r.getAs[Long]("sax_word")
      // each base-10 digit is a symbol in 0..3
      assert(word >= 0L && word <= 3333L, r)
      assert(word.toString.forall(c => c >= '0' && c <= '3'), r)
    }
    // no duplicate pairs
    val pairs = rows.map(r => (r.getAs[Long]("user_a"), r.getAs[Long]("user_b")))
    assert(pairs.distinct.length == pairs.length)
  }

  test("transition matrix: pairs = events - users; row shares sum to ~1000") {
    val rows = Relational.qEventTransitions(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ev = Tables.load(spark, sf0001, "events")
    val expectedPairs = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expectedPairs)
    rows.groupBy(_.getAs[String]("prev_type")).foreach { case (prev, cells) =>
      val s = cells.map(_.getAs[Long]("share_permille")).sum
      // floor division loses at most (cells - 1) permille per row
      assert(s <= 1000L && s > 1000L - cells.length, s"$prev row sums to $s")
    }
  }

  test("event paths: trigram counts replay; paths nest inside transition pairs") {
    val rows = Relational.qEventPaths(spark, sf0001).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("n"))
    assert(rows.nonEmpty && rows.length <= 20)
    // descending count with path tiebreak, every path 3 segments
    assert(rows.sortBy { case (p, n) => (-n, p) }.toSeq == rows.toSeq)
    assert(rows.forall(_._1.split(">", -1).length == 3))
    // direct Scala replay of the trigram counting (top-20 slice)
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"), $"event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._3, e._4)).map(_._2).sliding(3).filter(_.length == 3)
        .map(_.mkString(">"))
    }.toSeq.groupBy(identity).map { case (p, os) => p -> os.size.toLong }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(rows.toSeq == want)
  }

  test("embedding drift: halves partition each label, cosine bounded") {
    val rows = Similarity.qEmbDrift(spark, sf0001).collect()
    val sizes = Tables.load(spark, sf0001, "embeddings")
      .groupBy($"label").count().as[(Int, Long)].collect().toMap
    assert(rows.map(_.getAs[Int]("label")).toSet == sizes.keySet)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") ==
        sizes(r.getAs[Int]("label")))
      val c = r.getAs[Long]("cos_e6")
      assert(c >= -1000000L && c <= 1000000L)
    }
    // cross-check label 0 against a direct Scala recomputation
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .filter($"label" === 0).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    def centroid(half: Long): Array[Double] = {
      val vs = vecs.filter(_._1 % 2 == half).map(_._2)
      (0 until 64).map { i =>
        val s = vs.map(v => BigDecimal(v(i).toDouble)
          .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum
        // mirror the engine's op order: decimal -> double, THEN divide
        s.toDouble / vs.length
      }.toArray
    }
    val (ca, cb) = (centroid(0), centroid(1))
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (a, b) => a * b }.sum
    val want = math.round(dot(ca, cb) /
      (math.sqrt(dot(ca, ca)) * math.sqrt(dot(cb, cb))) * 1e6)
    assert(rows.find(_.getAs[Int]("label") == 0).get.getAs[Long]("cos_e6") == want)
  }

  test("basket rules: supports, confidence and lift replay in Scala") {
    val li = Tables.load(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val supp = li.groupBy(_._2).map { case (p, rs) => p -> rs.length.toLong }
    val nOrders = li.map(_._1).distinct.length.toLong
    val pairSupp = li.groupBy(_._1).values.flatMap { order =>
      val ps = order.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 3L)
    val expected = pairSupp.toSeq.map { case ((a, b), sab) =>
      (a, b, supp(a), supp(b), sab, nOrders,
        sab * 1000000L / supp(a),
        nOrders * sab * 1000000L / (supp(a) * supp(b)))
    }.sortBy { case (a, b, _, _, _, _, _, lift) => (-lift, a, b) }
    val got = Relational.qBasketRules(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("supp_a"), r.getAs[Long]("supp_b"),
        r.getAs[Long]("supp_ab"), r.getAs[Long]("n_orders"),
        r.getAs[Long]("conf_ab_x1e6"), r.getAs[Long]("lift_x1e6"))).toSeq
    assert(got == expected && got.nonEmpty)
    // lift > 1e6 means positively associated; confidence never exceeds 1
    got.foreach { case (_, _, _, _, _, _, conf, _) =>
      assert(conf > 0L && conf <= 1000000L)
    }
  }

  test("markov eval: train/eval split replays in Scala") {
    val split = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", $"event_type", $"ts", unix_micros($"ts").as("us"), $"event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4)))
    val trans = ev.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._4, e._5)).sliding(2).filter(_.length == 2)
        .map { case Array(a, b) => (a._2, b._2, a._3) }
    }.toSeq
    val (train, eval) = trans.partition(_._3.before(split))
    val model = train.groupBy(_._1).map { case (p, ts) =>
      val best = ts.groupBy(_._2).map { case (nxt, os) => (nxt, os.size.toLong) }
        .toSeq.sortBy { case (nxt, n) => (-n, nxt) }.head
      p -> best
    }
    val expected = eval.groupBy(_._1).collect {
      case (p, es) if model.contains(p) =>
        val (pred, trainN) = model(p)
        val hits = es.count(_._2 == pred).toLong
        p -> ((pred, trainN, es.size.toLong, hits, hits * 1000000L / es.size))
    }
    val got = Relational.qMarkovEval(spark, sf0001).collect().map { r =>
      r.getAs[String]("event_type") -> ((r.getAs[String]("predicted"),
        r.getAs[Long]("train_n"), r.getAs[Long]("eval_n"),
        r.getAs[Long]("hits"), r.getAs[Long]("accuracy_ppm")))
    }.toMap
    assert(got == expected && got.nonEmpty)
  }

  test("rfm segmentation equals a direct Scala replay of the quintile cuts") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", unix_micros($"ts").as("us"),
        $"value".cast("decimal(18,2)").as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    val per = ev.groupBy(_._1).map { case (u, rs) =>
      (u, rs.map(_._2).max / 1000000L, rs.length.toLong,
        (rs.map(_._3).sum * 100).toLongExact)
    }.toSeq
    def cuts(vals: Seq[Long]): Seq[Long] = {
      val sorted = vals.sorted
      val n = sorted.length.toLong
      (1 to 4).map(k => sorted(((k * n / 5) - 1).toInt))
    }
    def score(v: Long, ts: Seq[Long]): Long = 1L + ts.count(v > _)
    val (rc, fc, mc) =
      (cuts(per.map(_._2)), cuts(per.map(_._3)), cuts(per.map(_._4)))
    val expected = per.map { case (u, r, f, m) =>
      val (rs, fs, ms) = (score(r, rc), score(f, fc), score(m, mc))
      u -> ((r, f, m, rs, fs, ms, rs * 100 + fs * 10 + ms))
    }.toMap
    val got = Relational.qRfmSegments(spark, sf0001).collect().map { row =>
      row.getAs[Long]("user_id") -> ((row.getAs[Long]("recency_ep"),
        row.getAs[Long]("frequency"), row.getAs[Long]("monetary_cents"),
        row.getAs[Long]("r_score"), row.getAs[Long]("f_score"),
        row.getAs[Long]("m_score"), row.getAs[Long]("segment")))
    }.toMap
    assert(got == expected && got.nonEmpty)
  }

  test("per-nation gini equals a direct BigInt Scala replay") {
    val rev = Tables.load(spark, sf0001, "orders")
      .select($"o_custkey", $"o_totalprice".cast("decimal(18,2)").as("p")).collect()
      .groupBy(_.getLong(0))
      .map { case (c, rs) => c -> (rs.map(r => BigDecimal(r.getDecimal(1))).sum * 100).toLongExact }
    val cust = Tables.load(spark, sf0001, "customer")
      .select($"c_custkey", $"c_nationkey").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val expected = cust.groupBy(_._2).map { case (nation, cs) =>
      val xs = cs.map { case (ck, _) => (rev.getOrElse(ck, 0L), ck) }
        .sortBy(identity)
      val n = BigInt(xs.length)
      val tot = BigInt(xs.map(_._1).sum)
      val rw = xs.zipWithIndex.map { case ((x, _), i) => BigInt(i + 1) * x }.sum
      val g = if (tot == 0) BigInt(0)
        else (BigInt(2) * rw - (n + 1) * tot) * 1000000 / (n * tot)
      nation -> ((n.toLong, tot.toLong, g.toLong))
    }
    val got = Relational.qGiniRevenue(spark, sf0001).collect().map { r =>
      r.getAs[Number]("c_nationkey").longValue -> ((r.getAs[Long]("n_customers"),
        r.getAs[Long]("total_cents"), r.getAs[Long]("gini_x1e6")))
    }.toMap
    assert(got == expected && got.nonEmpty)
    got.values.foreach { case (_, _, g) => assert(g >= 0L && g < 1000000L) }
  }

  test("attribution: every purchase lands in exactly one touch bucket") {
    val rows = graft.quality.Quality.qAttribution(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val buckets = rows.map(_.getAs[String]("touch_type"))
    assert(buckets.distinct.length == buckets.length)
    assert(buckets.toSet.subsetOf(Set("click", "error", "signup", "view", "direct")),
      buckets.toSet)
    val attributed = rows.map(_.getAs[Long]("n_purchases")).sum
    val purchases = Tables.load(spark, sf0001, "events")
      .filter($"event_type" === "purchase").count()
    assert(attributed == purchases, s"$attributed != $purchases")
  }

  test("span duplication: permille = dup/total; spans never exceed the gram count") {
    val rows = graft.text.TextAnalysis.qTextSpanDup(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_spans"); val d = r.getAs[Long]("dup_spans")
      assert(d >= 0L && d <= n, r)
      assert(r.getAs[Long]("dup_permille") == d * 1000 / n, r)
    }
    // the synthetic corpus repeats templates: some doc must share a span
    assert(rows.exists(_.getAs[Long]("dup_spans") > 0L))
  }

  test("HHI: engine == BigInt replay; bounds 1/n to 1") {
    val rev = Tables.load(spark, sf0001, "orders")
      .groupBy($"o_custkey")
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) * 100 as bigint)")
        .as("c"))
      .select($"o_custkey", $"c").as[(Long, Long)].collect().toMap
    val cust = Tables.load(spark, sf0001, "customer")
      .select($"c_custkey", $"c_nationkey").as[(Long, Long)].collect()
    val nation = Tables.load(spark, sf0001, "nation")
      .select($"n_nationkey", $"n_name").as[(Long, String)].collect().toMap
    val want = cust.groupBy(c => nation(c._2)).map { case (n, cs) =>
      val cents = cs.map(c => BigInt(rev.getOrElse(c._1, 0L)))
      val tot = cents.sum
      val hhi = if (tot == 0) 0L
        else (cents.map(x => x * x).sum * 1000000 / (tot * tot)).toLong
      n -> ((cs.length.toLong, tot.toLong, hhi))
    }
    val got = Relational.qHhiRevenue(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_customers"),
        r.getAs[Long]("revenue_cents"), r.getAs[Long]("hhi_ppm")))).toMap
    assert(got == want)
    // HHI in [1e6/n, 1e6] for nations with revenue
    got.foreach { case (n, (nc, tot, hhi)) =>
      if (tot > 0) assert(hhi >= 1000000L / nc - 1 && hhi <= 1000000L, n)
    }
    assert(got.nonEmpty)
  }

  test("PQ recall guard: hits == set intersection; the 64x compression price is visible") {
    val truth = Similarity.qSimKnnBrute(spark, sf0001).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val pq = Similarity.qSimAnnPq(spark, sf0001)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val got = Similarity.qSimPqRecall(spark, sf0001).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("pq_hits"), r.getAs[Long]("pq_recall_permille"))))
      .toMap
    assert(got.keySet == truth.keySet)
    got.foreach { case (q, (hits, recall)) =>
      val want = truth(q).intersect(pq.getOrElse(q, Set.empty)).size.toLong
      assert(hits == want, s"query $q")
      assert(recall == hits * 1000 / 3)
    }
    // the guard's point: 8-codeword-per-subspace PQ at 64x compression
    // measurably loses neighbors — at sf0.001 recall@3 is actually ZERO
    // across all queries (the driver's sf0.01 check measures ~200
    // permille), which is exactly the signal the audit exists to
    // surface; a fake 100% would indicate a broken pipeline
    assert(got.values.exists(_._1 < 3L))
    assert(got.values.forall(v => v._1 >= 0L && v._1 <= 3L))
  }

  test("Pareto curve: engine == Scala replay; shares accumulate to ~1e6") {
    val rev = Tables.load(spark, sf0001, "orders")
      .groupBy($"o_custkey")
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) * 100 as bigint)")
        .as("c"))
      .select($"o_custkey", $"c").as[(Long, Long)].collect()
    val n = rev.length.toLong; val total = rev.map(_._2).sum
    val ranked = rev.sortBy { case (k, c) => (-c, k) }.zipWithIndex
    val want = ranked.groupBy { case (_, i) => i.toLong * 10 / n }
      .toSeq.sortBy(_._1).foldLeft((0L, Seq.empty[(Long, Long, Long, Long, Long)])) {
        case ((cum, acc), (d, xs)) =>
          val r = xs.map(_._1._2).sum
          val c2 = cum + r
          (c2, acc :+ ((d, xs.length.toLong, r,
            (BigInt(r) * 1000000 / total).toLong,
            (BigInt(c2) * 1000000 / total).toLong)))
      }._2.toSet
    val got = Relational.qParetoRevenue(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("n_customers"),
        r.getAs[Long]("revenue_cents"), r.getAs[Long]("share_ppm"),
        r.getAs[Long]("cum_share_ppm"))).toSet
    assert(got == want)
    assert(got.size == 10)
    // deciles are balanced to within one customer; top decile dominates
    val sizes = got.toSeq.sortBy(_._1).map(_._2)
    assert(sizes.max - sizes.min <= 1)
    val byDecile = got.map(g => g._1 -> g._4).toMap
    assert(byDecile(0L) > byDecile(9L))
    // final cumulative share is exactly the truncated total
    assert(got.maxBy(_._1)._5 == BigInt(total) * 1000000 / total)
  }

  test("cohort LTV: engine == Scala replay; curves are cumulative") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", expr("unix_timestamp(ts) div 604800L").as("w"),
        $"event_type",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cohort = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val sizes = cohort.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val rev = ev.filter(_._3 == "purchase")
      .groupBy(e => (cohort(e._1), e._2 - cohort(e._1)))
      .map { case (k, xs) => k -> xs.map(_._4).sum }
    val want = rev.groupBy(_._1._1).flatMap { case (c, offs) =>
      var cum = 0L
      offs.toSeq.sortBy(_._1._2).map { case ((_, o), r) =>
        cum += r
        (c, o, sizes(c), r, cum, cum / sizes(c))
      }
    }.toSet
    val got = Relational.qCohortLtv(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("cohort_week_idx"), r.getAs[Long]("offset"),
        r.getAs[Long]("n_users"), r.getAs[Long]("revenue_cents"),
        r.getAs[Long]("cum_cents"), r.getAs[Long]("ltv_cents_per_user"))).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // LTV never decreases along a cohort's curve
    got.groupBy(_._1).values.foreach { curve =>
      val ltv = curve.toSeq.sortBy(_._2).map(_._6)
      assert(ltv == ltv.sorted)
    }
  }

  test("forecast evaluation: engine == dense-grid Scala replay") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"event_type", unix_timestamp($"ts").as("s"))
      .as[(String, Long)].collect()
    val want = ev.groupBy(_._1).flatMap { case (t, xs) =>
      val byHour = xs.groupBy(_._2 / 3600).map { case (h, ys) => h -> ys.length.toLong }
      val h0 = byHour.keys.min; val h1 = byHour.keys.max
      val dense = (h0 to h1).map(h => byHour.getOrElse(h, 0L))
      val rows = dense.indices.drop(24).map { i =>
        (math.abs(dense(i) - dense(i - 24)), math.abs(dense(i) - dense(i - 1)))
      }
      if (rows.isEmpty) None
      else {
        val aeS = rows.map(_._1).sum; val aeP = rows.map(_._2).sum
        Some(t -> ((rows.length.toLong, aeS * 100 / rows.length,
          aeP * 100 / rows.length,
          if (aeP == 0) 0L else aeS * 1000000L / aeP)))
      }
    }
    val got = Relational.qForecastMase(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_hours"), r.getAs[Long]("mae_seasonal_x100"),
          r.getAs[Long]("mae_persist_x100"), r.getAs[Long]("skill_ppm"))))
      .toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("interval merge: engine == Scala sweep replay; islands are disjoint covers") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", unix_timestamp($"ts").as("s"), $"event_id")
      .as[(Long, Long, Long)].collect()
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val ordered = rows.map(r => (r._2, r._2 + 1800L, r._3)).sortBy(r => (r._1, r._3))
      var island = 0L; var maxEnd = Long.MinValue
      val tagged = ordered.map { case (s, e, _) =>
        if (maxEnd == Long.MinValue || s > maxEnd) island += 1
        maxEnd = math.max(maxEnd, e)
        (island, s, e)
      }
      tagged.groupBy(_._1).map { case (i, xs) =>
        (u, i, xs.map(_._2).min, xs.map(_._3).max,
          xs.map(_._3).max - xs.map(_._2).min, xs.length.toLong)
      }
    }.toSet
    val got = Relational.qIntervalMerge(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("island"),
        r.getAs[Long]("start_ep"), r.getAs[Long]("end_ep"),
        r.getAs[Long]("span_secs"), r.getAs[Long]("n_events"))).toSet
    assert(got == want)
    // islands of one user never overlap and are ordered
    got.groupBy(_._1).values.foreach { isl =>
      val sorted = isl.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 < b._3, s"overlap: $a $b")
        case _ =>
      }
    }
  }

  test("SCD-2 point-in-time join: matches are the valid interval (containment identity)") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // replay the SCD-2 intervals over the non-purchase state stream
    val hist: Map[Long, Seq[(Long, Option[Long], String, Long)]] =
      ev.filter(_._4 != "purchase").groupBy(_._1).map { case (u, rows) =>
        val ordered = rows.sortBy(r => (r._2, r._3))
        val changes = ordered.zipWithIndex.filter { case (r, i) =>
          i == 0 || ordered(i - 1)._4 != r._4
        }.map(_._1)
        val iv = changes.zipWithIndex.map { case (c, i) =>
          (c._2, if (i + 1 < changes.length) Some(changes(i + 1)._2) else None,
            c._4, i + 1L)
        }
        u -> iv.toSeq
      }
    val got = Relational.qScd2Pit(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        Option(r.getAs[Any]("state_at_purchase")).map(_.toString),
        Option(r.getAs[Any]("version")).map(_.asInstanceOf[Long])))
    assert(got.nonEmpty && got.exists(_._3.nonEmpty))
    val pUs = ev.filter(_._4 == "purchase").map(r => r._3 -> r._2).toMap
    got.foreach { case (eid, u, state, ver) =>
      val t = pUs(eid)
      val expected = hist.getOrElse(u, Seq.empty)
        .filter(_._1 < t).sortBy(_._1).lastOption
      assert(state == expected.map(_._3) && ver == expected.map(_._4), s"event $eid")
      // the as-of match IS interval containment: t in (from, to]
      expected.foreach { case (from, to, _, _) =>
        assert(from < t && to.forall(t <= _))
      }
    }
  }

  test("join-size CMS estimate: engine == MD5 replay; never undercounts") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", $"event_type").as[(Long, String)].collect()
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      u -> ((xs.count(_._2 == "view").toLong, xs.count(_._2 == "purchase").toLong))
    }
    val exact = perUser.values.map { case (a, b) => a * b }.sum
    val ests = (0 until 4).map { d =>
      val cells = scala.collection.mutable.Map.empty[Long, (Long, Long)]
        .withDefaultValue((0L, 0L))
      perUser.foreach { case (u, (a, b)) =>
        val h = md5hex(u.toString).substring(4 * d, 4 * d + 4)
        val bucket = java.lang.Long.parseLong(h, 16) % 64
        val (sa, sb) = cells(bucket); cells(bucket) = (sa + a, sb + b)
      }
      d.toLong -> cells.values.map { case (sa, sb) => sa * sb }.sum
    }.toMap
    val got = Relational.qJoinCardEst(spark, sf0001).collect()
      .map(r => r.getAs[Long]("d") ->
        ((r.getAs[Long]("dot_est"), r.getAs[Long]("exact_size"),
          r.getAs[Long]("est_min"), r.getAs[Long]("overcount"))))
      .toMap
    assert(got.map { case (d, v) => d -> v._1 } == ests)
    got.values.foreach { case (est, ex, mn, over) =>
      assert(ex == exact)
      assert(mn == ests.values.min)
      assert(est >= ex && over == est - ex) // one-sided: never undercounts
    }
  }

  test("skew report: engine == Scala replay of counts, shares, percentiles") {
    val keys = Tables.load(spark, sf0001, "lineitem")
      .select($"l_suppkey").as[Long].collect()
    val kc = keys.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val total = keys.length.toLong; val nKeys = kc.size.toLong
    val cnts = kc.values.toSeq.sorted
    def pctAt(rank: Long): Long = {
      var cum = 0L
      cnts.distinct.sorted.find { c =>
        cum += cnts.count(_ == c); cum >= rank
      }.get
    }
    val p50 = pctAt((nKeys + 1) / 2)
    val p99 = pctAt((99 * (nKeys + 1)) / 100)
    val want = kc.toSeq.sortBy { case (k, c) => (-c, k) }.take(10).zipWithIndex
      .map { case ((k, c), i) =>
        (i + 1L, k, c, c * 1000000L / total, nKeys, p50, p99, cnts.max)
      }.toSet
    val got = Relational.qSkewReport(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("key"), r.getAs[Long]("cnt"),
        r.getAs[Long]("share_ppm"), r.getAs[Long]("n_keys"),
        r.getAs[Long]("p50_cnt"), r.getAs[Long]("p99_cnt"),
        r.getAs[Long]("max_cnt"))).toSet
    assert(got == want)
    assert(got.size == 10)
  }

  test("sf0.001 itemCF: engine == Scala replay; per-item neighbor lists rank-ordered") {
    val o = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect().toMap
    val cp = Tables.load(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
      .flatMap { case (ok, pk) => o.get(ok).map(ck => (ck, pk)) }.distinct
    val cnt = cp.groupBy(_._2).map { case (i, xs) => i -> xs.length.toLong }
    val pairs = cp.groupBy(_._1).values.flatMap { basket =>
      val is = basket.map(_._2).sorted
      for (i <- is.indices; j <- (i + 1) until is.length) yield (is(i), is(j))
    }.groupBy(identity).collect { case (p, xs) if xs.size >= 3 => p -> xs.size.toLong }
    val sym = pairs.flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
    val scored = sym.map { case (a, b, c) =>
      (a, b, c, (BigInt(c) * c * 1000000L / (BigInt(cnt(a)) * cnt(b))).toLong)
    }
    val want = scored.groupBy(_._1).flatMap { case (a, ns) =>
      ns.toSeq.sortBy(n => (-n._4, n._2)).take(5).zipWithIndex
        .map { case ((_, b, c, s), i) => (a, i + 1L, b, c, s) }
    }.toSet
    val got = Relational.qRecItemcf(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("item"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor"), r.getAs[Long]("n_common"),
        r.getAs[Long]("cos2_ppm"))).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // cosine² never exceeds 1 (ppm)
    assert(got.forall(_._5 <= 1000000L))
  }

  test("sf0.001 EWMA control chart: engine == two-pass Scala fold replay") {
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("c"))
      .as[(Long, Long, Long, Long)].collect()
    val want = ev.groupBy(_._1).map { case (u, rows) =>
      val vs = rows.sortBy(r => (r._2, r._3)).map(_._4)
      // pass 1: final EWMA + mean absolute deviation from the running EWMA
      var ema = 0L; var sd = 0L
      vs.zipWithIndex.foreach { case (v, i) =>
        if (i == 0) ema = v
        else { sd += math.abs(v - ema); ema = (v + 3 * ema) / 4 }
      }
      val meanDev = if (vs.length > 1) sd / (vs.length - 1) else 0L
      // pass 2: count excursions beyond the 3×MAD band
      var ema2 = 0L; var anom = 0L
      vs.zipWithIndex.foreach { case (v, i) =>
        if (i > 0 && math.abs(v - ema2) > 3 * meanDev) anom += 1
        if (i == 0) ema2 = v else ema2 = (v + 3 * ema2) / 4
      }
      u -> ((vs.length.toLong, ema, meanDev, anom))
    }
    val got = Relational.qTsEwma(spark, sf0001).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_points"), r.getAs[Long]("ema_last"),
          r.getAs[Long]("mean_dev"), r.getAs[Long]("n_anomalies"))))
      .toMap
    assert(got == want)
    assert(got.nonEmpty)
    // the band is 3× the mean deviation: some user must still excurse
    assert(got.values.exists(_._4 > 0L))
  }
}
