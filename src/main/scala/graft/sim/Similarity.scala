package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Similarity search over the embedding column (Array[Float], 64-d):
  *
  *  - brute-force cosine top-k: the exactness baseline — broadcast the
  *    (small) query set against the full corpus, one pass, no shuffle
  *    of the big side;
  *  - LSH-bucketed ANN: deterministic hyperplane signatures route both
  *    queries and candidates into buckets; the pair space shrinks from
  *    O(Q·N) to O(Q·N/buckets), which is the 100 TB path (bucket id is
  *    also the natural partition key for a pre-bucketed corpus table);
  *  - embedding near-dup pairs: label-blocked cosine join for dedup.
  *
  * Cross-engine determinism: elements are cast to double and folded
  * sequentially (identical IEEE op order in Spark `aggregate` and
  * DuckDB `list_sum ∘ list_transform`), ranks compare the *rounded*
  * cosine (1e-6 fixed point) with vec_id tiebreak.
  */
object Similarity {

  private val Dim = 64
  private val Planes = 8

  /** Double-cast vectors + LSH bucket signature, materialized once per
    * (session, dir) — the at-scale shape is a persisted embeddings
    * table bucketed by the signature (the 440-term hyperplane sum is
    * paid once at write time, not once per query side). */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.checkpointed(spark, s"sim.vectors|$dir") {
      import spark.implicits._
      Tables.load(spark, dir, "embeddings")
        .withColumn("nv", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("bucket", bucketCol("nv"))
        .select($"vec_id", $"label", $"nv", $"bucket")
    }

  /** Fixed-point cosine via the native codegen'd Catalyst expression
    * (graft.functions.CosineSimilarity) — one fused loop per pair.
    * A zero-norm (or empty) vector makes the cosine NaN; guard it to
    * NULL rather than letting the ANSI long-cast fail the whole job. */
  private def cosE6(a: String, b: String): Column = {
    val c = graft.functions.CosineSimilarity.cosine_sim(col(a), col(b))
    when(isnan(c), lit(null)).otherwise(round(c * 1e6).cast("long"))
  }

  /** Brute-force cosine top-k (k=5) for query set vec_id % 100 == 0. */
  def qSimKnnBrute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"))
    val c = n.select($"vec_id".as("neighbor_id"), $"nv".as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** Top-k via the typed bounded Aggregator (UDAF surface) — identical
    * result to the window formulation but only k rows cross the shuffle
    * per (query, partition) instead of the full candidate sort. */
  def qSimKnnAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"))
    val c = n.select($"vec_id".as("neighbor_id"), $"nv".as("cv"))
    val pairs = broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      // NULL cosine (zero-norm vector) would crash the primitive-Long
      // encoder; the window variant sorts such rows past k anyway
      .filter($"cos_e6".isNotNull)
      .select($"query_id", $"neighbor_id", $"cos_e6")
      .as[(Long, Long, Long)]
    pairs.groupByKey(_._1)
      .mapValues(t => ScoredNeighbor(t._2, t._3))
      .agg(new TopKByCosine(5).toColumn)
      .flatMap { case (qid, tops) =>
        tops.zipWithIndex.map { case (s, i) =>
          (qid, (i + 1).toLong, s.neighborId, s.cosE6)
        }
      }
      .toDF("query_id", "rank", "neighbor_id", "cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** Deterministic hyperplane weights: w(k)(i) = ((i*31 + k*17) % 7) - 3
    * for 1-based element index i — reproducible in plain SQL on both
    * engines (no RNG, no state). */
  private def bucketCol(v: String): Column = {
    val bits = (0 until Planes).map { k =>
      val terms = (1 to Dim).map { i =>
        val wgt = ((i * 31 + k * 17) % 7) - 3
        if (wgt == 0) "0.0" else s"$wgt.0 * element_at($v, $i)"
      }.filter(_ != "0.0")
      s"(CASE WHEN ${terms.mkString(" + ")} >= 0 THEN ${1 << k} ELSE 0 END)"
    }
    expr(bits.mkString(" + ")).cast("long")
  }

  /** LSH-bucketed ANN: top-3 within the query's bucket. Hyperplane
    * signs are scale-invariant, so bucketing raw vectors matches
    * bucketing normalized ones. */
  def qSimAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"), $"bucket")
    val c = n.select($"vec_id".as("neighbor_id"), $"nv".as("cv"), $"bucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    q.join(c, Seq("bucket")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"bucket", $"rank".cast("long").as("rank"),
        $"neighbor_id", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** MULTI-PROBE LSH (Lv et al. 2007, public paper): probe the
    * query's own bucket AND every 1-bit-flip neighbor bucket — the
    * recall of ~9 hash tables from ONE stored table (boundary-straddling
    * neighbors land one hyperplane flip away, which single-probe
    * misses entirely). Probe buckets are a per-query explode of
    * [[Planes]]+1 literals (no corpus re-bucketing); candidate union,
    * exact cosine verify and top-3 are the single-probe machinery.
    * Same index memory, ~(Planes+1)× candidate work, strictly ≥
    * recall — the standard memory/recall trade multi-probe exists
    * for. */
  def qSimAnnLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"), $"bucket")
      .withColumn("probe", explode(array(
        ($"bucket" +: (0 until Planes).map(k =>
          $"bucket".bitwiseXOR(lit(1L << k)))): _*)))
    val c = n.select($"vec_id".as("neighbor_id"), $"nv".as("cv"),
      $"bucket".as("probe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    // probes are pairwise-distinct buckets and a candidate lives in
    // exactly one bucket, so no (query, candidate) pair repeats — no
    // dedup needed before the verify
    q.join(c, Seq("probe")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"),
        $"neighbor_id", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  private val Centroids = 8
  private val NProbe = 2

  /** IVF-style ANN: a coarse quantizer (the first `Centroids` vectors
    * stand in for an offline-trained codebook) assigns every corpus
    * vector to its nearest cell; a query probes its `NProbe` nearest
    * cells and searches only those inverted lists. At 100 TB the cell
    * id is the partition key of a pre-bucketed corpus table, the
    * codebook is broadcast (a map-side pass assigns cells), and a probe
    * touches NProbe/Centroids of the data instead of all of it. */
  /** IVF coarse assignment: every vector → its nearest centroid (the
    * first `Centroids` vectors stand in for the trained codebook).
    * Broadcast codebook, map-side assignment — no shuffle of the
    * corpus; shared by the IVF probe and the semantic-dedup cell
    * blocking. */
  private def cellAssign(n: DataFrame): DataFrame = {
    val cent = n.filter(col("vec_id") < Centroids)
      .select(col("vec_id").as("centroid_id"), col("nv").as("centv"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("centroid_id"))
    n.crossJoin(broadcast(cent))
      .withColumn("c_cos", cosE6("centv", "nv"))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("nv"), col("centroid_id").as("cell"))
  }

  def qSimAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val cent = n.filter($"vec_id" < Centroids)
      .select($"vec_id".as("centroid_id"), $"nv".as("centv"))

    // coarse assignment: every vector -> nearest centroid (its cell)
    val cells = cellAssign(n)

    // probe list: each query's NProbe nearest cells
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"c_cos".desc, $"centroid_id")
    val probes = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("c_cos", cosE6("centv", "qv"))
      .withColumn("prank", row_number().over(wProbe))
      .filter($"prank" <= NProbe)
      .select($"query_id", $"qv", $"centroid_id".as("cell"))

    // search only the probed inverted lists
    val c = cells.select($"vec_id".as("neighbor_id"), $"nv".as("cv"), $"cell")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    probes.join(c, Seq("cell")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"),
        $"neighbor_id", $"cell", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  private val SubSpaces = 4            // PQ subspaces (16 dims each)
  private val SubDim = Dim / SubSpaces
  private val CodeWords = 8            // codewords per subspace

  /** Fixed-point squared L2 over two array columns — sequential fold,
    * identical IEEE op order to DuckDB list_sum ∘ list_transform. */
  private def l2E6(a: String, b: String): Column =
    round(expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "0D, (acc, v) -> acc + v)") * 1e6).cast("long")

  private def subspaced(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.select(col("*"),
        explode(array((0 until SubSpaces).map(lit): _*)).as("m"))
      .withColumn(outCol, expr(s"slice($vecCol, m * $SubDim + 1, $SubDim)"))
      .drop(vecCol)

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou et al. 2011, public paper): split vectors into 4×16-d
    * subspaces; per subspace the first `CodeWords` corpus subvectors
    * stand in for an offline-trained codebook (as IVF's centroids do);
    * every corpus vector compresses to 4 code bytes; a query builds a
    * per-subspace distance TABLE to the codewords and scores each
    * candidate as the SUM of 4 table lookups — no full-dimension
    * arithmetic per pair. Approx top-10 re-rank by exact cosine → top-3.
    *
    * At 100 TB: codes are the stored representation (64 d × 4 B floats
    * → 4 B per vector, a 64× compression); the codebook + query tables
    * broadcast; ADC is a map-side lookup-sum over the codes table, and
    * only the ~10 candidates per query ever touch full vectors. The
    * declarative join on (m, code) keeps the plan oracle-checkable;
    * the same shape compiles to a broadcast-hash join + partial sum. */
  def qSimAnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val cb = subspaced(
        n.filter($"vec_id" < CodeWords).select($"vec_id".as("j"), $"nv"),
        "nv", "cw")
      .select($"m", $"j", $"cw")

    // STORED code table (the production representation — 4 code bytes
    // per vector, built once at index time, bucketed by vec_id): the
    // encode join never appears in a search plan, searches scan codes.
    val codes = graft.SessionCache.bucketedTable(
        spark, s"sim.pqcodes|$dir", "vec_id", 8) {
      subspaced(n.select($"vec_id", $"nv"), "nv", "sv")
        .join(broadcast(cb), Seq("m"))
        .withColumn("d_e6", l2E6("sv", "cw"))
        .groupBy($"vec_id", $"m")
        .agg(min_by($"j", struct($"d_e6", $"j")).as("j"))
    }

    // query-side ADC tables: distance to every codeword per subspace
    val dtab = subspaced(
        n.filter($"vec_id" % 100 === 0).select($"vec_id".as("query_id"), $"nv"),
        "nv", "qsv")
      .join(broadcast(cb), Seq("m"))
      .withColumn("d_e6", l2E6("qsv", "cw"))
      .select($"query_id", $"m", $"j", $"d_e6")

    // ADC score: sum of per-subspace table lookups (integer-exact);
    // the query tables broadcast so the stored codes never shuffle
    val adist = codes.join(broadcast(dtab), Seq("m", "j"))
      .filter($"query_id" =!= $"vec_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"d_e6").as("adist_e6"))

    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adist_e6".asc, $"vec_id")
    val cand = adist
      .withColumn("arank", row_number().over(wA)).filter($"arank" <= 10)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"adist_e6")

    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    cand
      .join(n.select($"vec_id".as("query_id"), $"nv".as("qv")), Seq("query_id"))
      .join(n.select($"vec_id".as("neighbor_id"), $"nv".as("cv")), Seq("neighbor_id"))
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(wR))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"),
        $"neighbor_id", $"adist_e6", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  private val NearDupBands = 4 // 2 hyperplanes per band over the 8-bit signature

  /** Embedding near-duplicate pairs via LSH candidates + exact verify
    * (the q_dedup_lsh_verify pattern): pairs sharing the label and ≥1
    * of 4 two-plane LSH bands are candidates — one shuffle on
    * (label, band, value) — and only candidates pay the exact cosine
    * (kept at cos ≥ 0.25). The previous label-blocked all-pairs join
    * was O(B²) per label: correct at sf0.1 (11.7s) but quadratic on a
    * hot label at 100 TB. Discovery recall is set by the deterministic
    * band scheme, which the DuckDB oracle reproduces bit-for-bit. */
  def qSimNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val banded = n.select($"label", $"vec_id", explode(array(
      (0 until NearDupBands).map(k =>
        struct(lit(k).as("band"),
          shiftright($"bucket", 2 * k).bitwiseAND(3).as("bv"))): _*)).as("b"))
      .select($"label", $"vec_id", $"b.band".as("band"), $"b.bv".as("bv"))
    val ca = banded.select($"label", $"band", $"bv", $"vec_id".as("vec_a"))
    val cb = banded.select($"label", $"band", $"bv", $"vec_id".as("vec_b"))
    val cand = ca.join(cb, Seq("label", "band", "bv"))
      .filter($"vec_a" < $"vec_b")
      .select($"label", $"vec_a", $"vec_b").distinct()
    cand
      .join(n.select($"vec_id".as("vec_a"), $"nv".as("va")), Seq("vec_a"))
      .join(n.select($"vec_id".as("vec_b"), $"nv".as("vb")), Seq("vec_b"))
      .withColumn("cos_e6", cosE6("va", "vb"))
      .filter($"cos_e6" >= 250000)
      .select($"label".cast("long").as("label"), $"vec_a", $"vec_b", $"cos_e6")
      .orderBy($"vec_a", $"vec_b")
  }

  private val SemDupThreshold = 250000L // cos_e6 ≥ 0.25, the neardup bar

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023 — public
    * paper): drop embeddings dominated by a LOWER-ID vector that lands
    * in the same IVF cell, shares ≥1 LSH band, and has cosine ≥ 0.25.
    * "Lowest id wins" makes the keep-list deterministic without
    * transitive closure (every dropped vector names its dominators).
    * Candidates come from cell+band blocking — the same
    * candidates→verify shape as q_sim_neardup, so the pair space stays
    * linear-ish at 100 TB (no within-cell all-pairs join). */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val cells = cellAssign(n).select($"vec_id", $"cell")
    val banded = n.select($"vec_id", explode(array(
        (0 until NearDupBands).map(k =>
          struct(lit(k).as("band"),
            shiftright($"bucket", 2 * k).bitwiseAND(3).as("bv"))): _*)).as("b"))
      .select($"vec_id", $"b.band".as("band"), $"b.bv".as("bv"))
      .join(cells, Seq("vec_id"))
    val hi = banded.select($"cell", $"band", $"bv", $"vec_id")
    val lo = banded.select($"cell", $"band", $"bv", $"vec_id".as("dom_id"))
    val cand = hi.join(lo, Seq("cell", "band", "bv"))
      .filter($"dom_id" < $"vec_id")
      .select($"vec_id", $"dom_id").distinct()
    val dominators = cand
      .join(n.select($"vec_id", $"nv".as("va")), Seq("vec_id"))
      .join(n.select($"vec_id".as("dom_id"), $"nv".as("vb")), Seq("dom_id"))
      .withColumn("cos_e6", cosE6("va", "vb"))
      .filter($"cos_e6" >= SemDupThreshold)
      .groupBy($"vec_id").agg(count(lit(1)).as("nd"))
    cells.join(dominators, Seq("vec_id"), "left_outer")
      .select($"vec_id", $"cell",
        coalesce($"nd", lit(0L)).as("n_dominators"),
        when($"nd".isNull, "Y").otherwise("N").as("kept"))
      .orderBy($"vec_id")
  }

  private val KmIters = 2

  /** Quantized Lloyd k-means, 2 iterations — the trainer the IVF/PQ
    * codebooks come from (those use first-K stand-ins; this is the
    * real assign→recompute loop). Everything is INTEGER fixed-point:
    * components are shifted non-negative and scaled to 1e-6 units
    * (vq = round((x+10)·1e6)), centroid means use floor division
    * (exact, shift-invariant), distances are bigint sums of squared
    * differences — no float accumulation anywhere, so both engines
    * agree bit-for-bit after any number of iterations.
    *
    * Per iteration: one broadcast join on pos (centroid frame is
    * K·dim rows), one (vec, j) aggregate with map-side combine, one
    * argmin — all linear in corpus·K·dim, no all-pairs anything. The
    * loop composes PLANS (no driver-side data movement); at 100 TB
    * each iteration is the canonical broadcast-assign shape with the
    * assignment frame checkpointed between rounds. */
  /** The quantized Lloyd fit: returns (final assignment, final trained
    * centroid arrays) after `KmIters` assign/recompute rounds — shared
    * by the q_kmeans report and the trained-codebook IVF index. Both
    * frames are staged once per (session, dir): a trained index is
    * persisted, not refit per query. */
  /** Quantized whole-vector points (vec_id, nv, qv): the ONE place the
    * fixed-point encoding lives — the fit, the cell assignment and the
    * trained search must share it bit-for-bit. */
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).select(col("vec_id"), col("nv"),
      expr("transform(nv, x -> cast(round((x + 10.0d) * 1e6) as bigint))").as("qv"))

  /** Fused integer L2 distance of every `qpts` row to every centroid
    * array — no per-position row explosion crosses any join. */
  private def kmDistances(qpts: DataFrame, cents: DataFrame): DataFrame =
    qpts.crossJoin(broadcast(cents))
      .withColumn("d", expr(
        "aggregate(zip_with(qv, cvec, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))

  /** Nearest-centroid assignment over the distance frame. */
  private def kmAssign(qpts: DataFrame, cents: DataFrame): DataFrame =
    kmDistances(qpts, cents)
      .groupBy(col("vec_id"))
      .agg(min_by(col("j"), struct(col("d"), col("j"))).as("cluster"))

  /** Per-cluster component means (floor-div, exact) as centroid arrays. */
  private def kmRecompute(qpts: DataFrame, asg: DataFrame): DataFrame =
    qpts.select(col("vec_id"), posexplode(col("qv")))
      .select(col("vec_id"), col("pos"), col("col").as("vq"))
      .join(asg, Seq("vec_id"))
      .groupBy(col("cluster"), col("pos"))
      .agg(expr("sum(vq) div count(*)").as("cq"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cq))), x -> x.cq)").as("cvec"))
      .select(col("cluster").as("j"), col("cvec"))

  private def kmeansFit(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val qpts = quantized(spark, dir).drop("nv") // the fit never reads raw vectors
    val asg = graft.SessionCache.checkpointed(spark, s"sim.kmasg|$dir") {
      val cents0 = qpts.filter($"vec_id" < Centroids)
        .select($"vec_id".as("j"), $"qv".as("cvec"))
      (1 until KmIters).foldLeft(kmAssign(qpts, cents0)) { (a, _) =>
        kmAssign(qpts, kmRecompute(qpts, a))
      }
    }
    // the trained centroids derive from the STAGED assignment — the
    // fit is never re-run once persisted
    val cents = graft.SessionCache.checkpointed(spark, s"sim.kmcents|$dir") {
      kmRecompute(qpts, asg)
    }
    (asg, cents)
  }

  /** CLUSTERING EVALUATION — purity + mutual information of the
    * trained k-means assignment against the corpus labels (the
    * standard external cluster-validity pair; purity prices the
    * majority vote, MI prices the full contingency structure a
    * majority can hide). All integers: purity in exact ppm; MI terms
    * n_cl·(log2(n_cl·N) − log2(n_c·n_l)) through the bit-by-bit
    * integer log2 ([[graft.text.TextAnalysis.ilog2x4096]]), summed
    * and reported in micro-log2 units. True MI is ≥ 0; the ±0.07%
    * per-log approximation can leave microscopic negative dust on
    * near-independent tables, clamped at 0 identically in both
    * engines (a negative numerator would also split truncate-vs-floor
    * division semantics).
    *
    * Scale shape: the contingency table is ≤ clusters×labels rows —
    * everything after the one assignment-join combine is
    * broadcast-sized; the fit itself is the stored staged assignment
    * ([[kmeansFit]]), never re-run. */
  def qKmeansPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (asg, _) = kmeansFit(spark, dir)
    val labels = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label")
    val cells = asg.join(labels, Seq("vec_id"))
      .groupBy($"cluster", $"label").agg(count(lit(1)).as("n_cl"))
    val byC = cells.groupBy($"cluster")
      .agg(sum($"n_cl").as("n_c"),
        max_by($"label", struct($"n_cl", -$"label")).as("top_label"),
        max($"n_cl").as("top_n"))
    val byL = cells.groupBy($"label").agg(sum($"n_cl").as("n_l"))
    val tot = cells.agg(sum($"n_cl").as("n_total"))
    val enriched = cells
      .join(broadcast(byC.select($"cluster", $"n_c")), Seq("cluster"))
      .join(broadcast(byL), Seq("label"))
      .crossJoin(broadcast(tot))
      .withColumn("lr",
        expr(graft.text.TextAnalysis.ilog2x4096("(n_cl * n_total)"))
          - expr(graft.text.TextAnalysis.ilog2x4096("(n_c * n_l)")))
    val glob = enriched.agg(
      sum(expr("n_cl * lr")).as("mi_sum"),
      max($"n_total").as("n_total"))
    val overall = byC.agg(sum($"top_n").as("top_sum"))
    byC.crossJoin(broadcast(glob)).crossJoin(broadcast(overall))
      .select($"cluster", $"n_c".as("n_vectors"), $"top_label", $"top_n",
        expr("(top_n * 1000000) div n_c").as("purity_ppm"),
        expr("(top_sum * 1000000) div n_total").as("overall_purity_ppm"),
        expr("(greatest(0L, mi_sum) * 1000000) div (n_total * 4096)")
          .as("mi_micro_log2"))
      .orderBy($"cluster")
  }

  def qKmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kmeansFit(spark, dir)._1
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"cluster")))
      .select($"vec_id", $"cluster", $"cluster_size")
      .orderBy($"vec_id")
  }

  /** IVF over the TRAINED codebook — the trainer-feeds-index
    * composition a production ANN system runs: cells come from the
    * k-means fit's final centroids (quantized-L2 assignment, exactly
    * the fit's own metric), queries probe their 2 nearest trained
    * centroids, and only those inverted lists pay the exact cosine.
    * Same plan shapes as q_sim_ann_ivf (broadcast codebook, map-side
    * assignment, bucketed probes); the codebook is just better. */
  def qSimAnnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, cents) = kmeansFit(spark, dir)
    val qpts = quantized(spark, dir)
    // STORED inverted lists (cell, neighbor_id, vector), bucketed by
    // cell — the index table a production IVF search scans. Assignment
    // (broadcast-codebook fan-out) runs once at index-build time and
    // never appears in a search plan.
    val members = graft.SessionCache.bucketedTable(
        spark, s"sim.ivfindex|$dir", "cell", 8) {
      qpts.select($"vec_id".as("neighbor_id"), $"nv".as("cv2"))
        .join(kmAssign(qpts, cents).withColumnRenamed("cluster", "cell")
          .select($"vec_id".as("neighbor_id"), $"cell"), Seq("neighbor_id"))
        .select($"cell", $"neighbor_id", $"cv2")
    }
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"d", $"j")
    val probes = kmDistances(qpts.filter($"vec_id" % 100 === 0), cents)
      .withColumn("prank", row_number().over(wProbe))
      .filter($"prank" <= NProbe)
      .select($"vec_id".as("query_id"), $"nv".as("qv2"), $"j".as("cell"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    broadcast(probes).join(members, Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv2", "cv2"))
      .withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"),
        $"neighbor_id", $"cell", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** ANN recall guard: recall@3 of the LSH- and IVF-bucketed paths
    * against the brute-force ground truth, per query — the metric that
    * turns "the ANN query still runs" into "the ANN query still FINDS
    * the right neighbors". Both sides reuse the production pipelines
    * (one semi-join each against the exact top-3), so any change to
    * bucketing/probing that silently craters recall fails this query's
    * oracle hash. Integer permille (hits*1000 div 3) keeps it exact. */
  def qSimAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = qSimKnnBrute(spark, dir).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id")
    def hits(ann: DataFrame, out: String): DataFrame =
      truth.join(ann.select($"query_id", $"neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy($"query_id").agg(count(lit(1)).as(out))
    truth.select($"query_id").distinct()
      .join(hits(qSimAnnIvf(spark, dir), "ivf_hits"), Seq("query_id"), "left_outer")
      .join(hits(qSimAnnLsh(spark, dir), "lsh_hits"), Seq("query_id"), "left_outer")
      .select($"query_id",
        coalesce($"ivf_hits", lit(0L)).as("ivf_hits"),
        expr("coalesce(ivf_hits, 0L) * 1000 div 3").as("ivf_recall_permille"),
        coalesce($"lsh_hits", lit(0L)).as("lsh_hits"),
        expr("coalesce(lsh_hits, 0L) * 1000 div 3").as("lsh_recall_permille"))
      .orderBy($"query_id")
  }

  /** PQ recall guard — completes the ANN recall family
    * ([[qSimAnnRecall]] covers IVF and LSH): recall@3 of the full
    * PQ/ADC pipeline (codebook → codes → asymmetric-distance top-10 →
    * exact rerank top-3) against brute-force ground truth, integer
    * permille. A codebook/subspace change that craters PQ recall now
    * fails correctness, not just quality. */
  def qSimPqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = qSimKnnBrute(spark, dir).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id")
    val hits = truth.join(
        qSimAnnPq(spark, dir).select($"query_id", $"neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("pq_hits"))
    truth.select($"query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select($"query_id", coalesce($"pq_hits", lit(0L)).as("pq_hits"),
        expr("coalesce(pq_hits, 0L) * 1000 div 3").as("pq_recall_permille"))
      .orderBy($"query_id")
  }

  /** Kept dimensions of the truncated-head recall audit. */
  private val TruncDim = 16

  /** TRUNCATED-EMBEDDING RECALL AUDIT — the Matryoshka-serving check
    * (Kusupati et al. 2022: serve a prefix of the embedding as a
    * cheap first-stage ranker): recall@3 of cosine top-3 computed on
    * the FIRST [[TruncDim]] of [[Dim]] dimensions against the
    * full-dimension brute-force truth, per query in integer permille.
    * A 4× cheaper scan/index (quarter the bytes moved and compared)
    * is only usable if this number holds up — and because the audit
    * is a CORRECTNESS entry, an embedding or slicing change that
    * craters the truncated head fails the driver hash, not just a
    * quality dashboard. Same broadcast-query brute shape as
    * [[qSimKnnBrute]] (the exhaustive baseline is the point here;
    * the ladder's index paths cover the at-scale serving shape). */
  def qSimTruncRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = qSimKnnBrute(spark, dir).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id")
    val n = vectors(spark, dir)
      .withColumn("tv", expr(s"slice(nv, 1, $TruncDim)"))
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"tv".as("qv"))
    val c = n.select($"vec_id".as("neighbor_id"), $"tv".as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    val truncTop = broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id")
    val hits = truth.join(truncTop, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("trunc_hits"))
    truth.select($"query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select($"query_id",
        coalesce($"trunc_hits", lit(0L)).as("trunc_hits"),
        expr("coalesce(trunc_hits, 0L) * 1000 div 3")
          .as("trunc_recall_permille"))
      .orderBy($"query_id")
  }

  /** IVFADC — the FAISS production composition (Jégou et al. 2011
    * §IV: IVF coarse quantizer + PQ codes per inverted list): the
    * trained k-means codebook routes every vector to a cell; WITHIN
    * the cell the vector is stored as its 4 PQ code bytes; a query
    * probes its [[NProbe]] nearest cells, scores ONLY those cells'
    * codes with the ADC lookup-sum, and exact-reranks the top-10.
    * Non-residual variant (FAISS `by_residual=false`): codes quantize
    * the raw vector, so ONE PQ codebook serves every cell — the
    * residual variant's per-cell re-centering adds nothing on this
    * corpus and would break the shared-codebook oracle replay.
    *
    * Stored artifact: ONE bucketed (cell, vec_id, m, j) table — cell
    * routing AND codes together, built once at index time (the
    * composition of the two structures the engine already maintains
    * separately: sim.ivfindex's lists and sim.pqcodes' codes). At
    * 100 TB a search scans only the probed cells' code buckets
    * (partition-prunable), broadcasts the query's 4×8-entry distance
    * tables, and touches full vectors only for the ~10 rerank
    * candidates per query — memory per candidate is 4 bytes, not
    * 4·64. */
  def qSimAnnIvfadc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val (_, cents) = kmeansFit(spark, dir)
    val qpts = quantized(spark, dir)
    val cb = subspaced(
        n.filter($"vec_id" < CodeWords).select($"vec_id".as("j"), $"nv"),
        "nv", "cw")
      .select($"m", $"j", $"cw")
    val cellCodes = graft.SessionCache.bucketedTable(
        spark, s"sim.ivfadc|$dir", "cell", 8) {
      val cells = kmAssign(qpts, cents).withColumnRenamed("cluster", "cell")
        .select($"vec_id", $"cell")
      subspaced(n.select($"vec_id", $"nv"), "nv", "sv")
        .join(broadcast(cb), Seq("m"))
        .withColumn("d_e6", l2E6("sv", "cw"))
        .groupBy($"vec_id", $"m")
        .agg(min_by($"j", struct($"d_e6", $"j")).as("j"))
        .join(cells, Seq("vec_id"))
        .select($"cell", $"vec_id", $"m", $"j")
    }
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"d", $"j")
    val probes = kmDistances(qpts.filter($"vec_id" % 100 === 0), cents)
      .withColumn("prank", row_number().over(wProbe))
      .filter($"prank" <= NProbe)
      .select($"vec_id".as("query_id"), $"j".as("cell"))
    val dtab = subspaced(
        n.filter($"vec_id" % 100 === 0).select($"vec_id".as("query_id"), $"nv"),
        "nv", "qsv")
      .join(broadcast(cb), Seq("m"))
      .withColumn("d_e6", l2E6("qsv", "cw"))
      .select($"query_id", $"m", $"j", $"d_e6")
    // ADC over probed cells only: the stored codes never shuffle —
    // probe list and distance tables broadcast onto the bucket scan
    val adist = cellCodes.join(broadcast(probes), Seq("cell"))
      .filter($"query_id" =!= $"vec_id")
      .join(broadcast(dtab), Seq("query_id", "m", "j"))
      .groupBy($"query_id", $"vec_id", $"cell")
      .agg(sum($"d_e6").as("adist_e6"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adist_e6".asc, $"vec_id")
    val cand = adist
      .withColumn("arank", row_number().over(wA)).filter($"arank" <= 10)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"cell", $"adist_e6")
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")
    cand
      .join(n.select($"vec_id".as("query_id"), $"nv".as("qv")), Seq("query_id"))
      .join(n.select($"vec_id".as("neighbor_id"), $"nv".as("cv")), Seq("neighbor_id"))
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(wR))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"),
        $"neighbor_id", $"cell", $"adist_e6", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** IVFADC recall guard — the [[qSimPqRecall]] check on the composed
    * index: recall@3 of the probed-cell ADC pipeline vs brute-force
    * ground truth. Probing loses candidates PQ alone would score (a
    * true neighbor in an unprobed cell can never surface), so this is
    * the guard that prices the nprobe setting, alongside the PQ and
    * IVF/LSH guards. */
  def qSimIvfadcRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = qSimKnnBrute(spark, dir).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id")
    val hits = truth.join(
        qSimAnnIvfadc(spark, dir).select($"query_id", $"neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("ivfadc_hits"))
    truth.select($"query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select($"query_id",
        coalesce($"ivfadc_hits", lit(0L)).as("ivfadc_hits"),
        expr("coalesce(ivfadc_hits, 0L) * 1000 div 3").as("ivfadc_recall_permille"))
      .orderBy($"query_id")
  }

  /** Per-label centroid embeddings (mean pooling — the class-prototype
    * / cluster-seed builder): posexplode to (label, pos, component),
    * sum in DECIMAL (summation-order independent across engines and
    * partitionings), divide once per output cell. One shuffle on
    * (label, pos) with map-side combine; at 100 TB this is the same
    * linear histogram shape as word counting. */
  /** EMBEDDING OUTLIER AUDIT — the mislabel/poison detector an
    * embedding pipeline runs before trusting its labels: per label,
    * vectors whose squared distance to their label centroid exceeds
    * 4× the label mean (Chebyshev-style cutoff). Fully integral: each
    * component is round(x·10⁶) (the q_emb_qa fixed-point convention,
    * proven engine-identical), the deviation is carried ×n (n·xᵢ −
    * Σxᵢ — the mean never divides) and squared in DECIMAL(38,0) /
    * HUGEINT; the flag compares n·d² > 4·Σd² multiplied through, so
    * no ratio is ever materialized. ONE (label, pos) centroid combine
    * + one (label, vec) combine; the per-label totals broadcast. */
  def qEmbOutliers(spark: SparkSession, dir: String): DataFrame =
    embOutliers(Tables.load(spark, dir, "embeddings"))

  /** Core of [[qEmbOutliers]] over any (vec_id, label, embedding)
    * frame — separated so the planted-cluster spec can drive it. */
  private[graft] def embOutliers(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb
      .select($"vec_id", $"label", posexplode($"embedding"))
      .select($"vec_id", $"label", $"pos",
        expr("cast(round(cast(col as double) * 1000000) as bigint)").as("xi"))
    val cen = e.groupBy($"label", $"pos")
      .agg(sum($"xi").as("si"), count(lit(1)).as("n"))
    val d2 = e.join(cen, Seq("label", "pos"))
      .withColumn("t", expr("cast(n * xi - si as decimal(38,0))"))
      .groupBy($"label", $"vec_id")
      .agg(sum(expr("t * t")).as("d2"), max($"n").as("n"))
    val per = d2.groupBy($"label")
      .agg(max($"n").as("n_vectors"), sum($"d2").as("sd"))
    d2.join(broadcast(per), Seq("label"))
      .groupBy($"label")
      .agg(max($"n_vectors").as("n_vectors"),
        sum(when(expr("n_vectors * d2 > 4 * sd"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("flagged_ppm", expr("(n_flagged * 1000000) div n_vectors"))
      .orderBy($"label")
  }

  def qEmbCentroid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"label", posexplode($"embedding"))
      .groupBy($"label", $"pos")
      .agg(sum($"col".cast("double").cast(DecimalType(20, 7))).as("s"),
        count(lit(1)).as("n_vectors"))
      .select($"label", $"pos".cast("int").as("pos"),
        ($"s".cast("double") / $"n_vectors").as("mean_component"), $"n_vectors")
      .orderBy($"label", $"pos")
  }

  /** Embedding QA — the vector-sanity gate every indexing pipeline
    * runs BEFORE building anything: per vector, its dimensionality,
    * L2 norm (×10⁶ fixed point, summed in array order so both engines
    * round identically — the cosine-expression convention) and an `ok`
    * verdict (expected dim, norm comfortably non-zero). Zero or
    * near-zero vectors poison cosine similarity (NaN / garbage
    * neighbors), wrong dims crash zip_with — both get caught here at
    * scan speed, zero shuffle. */
  def qEmbQa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id",
        size($"embedding").cast("long").as("dim"),
        expr("cast(round(sqrt(aggregate(transform(embedding," +
          " x -> cast(x as double) * cast(x as double)), 0D," +
          " (acc, v) -> acc + v)) * 1e6) as bigint)").as("norm_e6"))
      .withColumn("ok", $"dim" === 64 && $"norm_e6" > 10000L)
      .orderBy($"vec_id")
  }

  /** Embedding-centroid drift — the vector-space sibling of the
    * histogram drift monitor (`Quality.qQualityDrift`): per label, the
    * mean-pooled centroid of one half of the corpus (vec_id parity —
    * stand-in for "last month vs this month" batches) against the
    * other, reported as fixed-point cosine. A label whose prototype
    * rotates between batches signals upstream distribution shift in
    * the embedding space before any downstream metric moves.
    *
    * Exactness: per-component means are DECIMAL sums (order
    * independent) cast to double once — bit-identical across engines —
    * and the cosine over the two 64-d centroid arrays evaluates in
    * array order on both sides (the codegen'd CosineSimilarity
    * expression here, sequential list_sum in DuckDB). Shape: the same
    * one (label, half, pos) map-side-combined shuffle as the centroid
    * builder, then a 10-row self-join. */
  def qEmbDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.load(spark, dir, "embeddings")
      .withColumn("half", pmod($"vec_id", lit(2L)))
      .select($"label", $"half", posexplode($"embedding"))
      .groupBy($"label", $"half", $"pos")
      .agg(sum($"col".cast("double").cast(DecimalType(20, 7))).as("s"),
        count(lit(1)).as("n"))
      .select($"label", $"half", $"pos", ($"s".cast("double") / $"n").as("m"), $"n")
    val cents = m.groupBy($"label", $"half")
      .agg(max($"n").as("n_vectors"),
        expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").as("cv"))
    val a = cents.filter($"half" === 0)
      .select($"label", $"n_vectors".as("n_a"), $"cv".as("ca"))
    val b = cents.filter($"half" === 1)
      .select($"label", $"n_vectors".as("n_b"), $"cv".as("cb"))
    a.join(b, Seq("label"))
      .withColumn("cos_e6", cosE6("ca", "cb"))
      .select($"label", $"n_a", $"n_b", $"cos_e6")
      .orderBy($"label")
  }

  /** Hard-negative mining: for each query vector, the top-3 most
    * similar vectors with a DIFFERENT label — the contrastive-training
    * negative selection step (easy negatives are useless; the hardest
    * ones carry the gradient). Same broadcast-query plan as brute kNN
    * with the label-mismatch gate in the join condition; the at-scale
    * path swaps the corpus side for the IVF/PQ index tables exactly
    * like the ANN searches. */
  def qSimHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"), $"nv".as("qv"))
    val c = n.select($"vec_id".as("neg_id"), $"label".as("clabel"), $"nv".as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"neg_id")
    broadcast(q).join(c, $"qlabel" =!= $"clabel")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neg_id", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** Top principal direction of the embedding corpus by POWER
    * ITERATION in exact fixed point — the drift-axis / index-rotation
    * primitive (which direction carries the corpus' energy): two
    * rounds of `v ← M·v` against the 64×64 second-moment matrix
    * `M = Σ q qᵀ`, L∞-normalized to ×10⁶ each round.
    *
    * Everything is engine-exact: components quantize to
    * `round(x·10⁶)` BIGINT (signed — no shift needed because the only
    * divisions run on MAGNITUDES: `sign(w)·((|w|·10⁶) div max|w|)`,
    * sidestepping the floor-vs-truncate divergence on negatives);
    * M·v products ride DECIMAL(38,0) (m·v tops BIGINT immediately).
    *
    * Scale shape: the moment matrix is ONE map-side-combined shuffle
    * of the per-vector position pairs (d² cells regardless of corpus
    * size — the classic distributed Gram computation); iterations are
    * d²-sized joins against a broadcast 64-row vector, free at any
    * corpus scale. */
  def qEmbPcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Gram computation: the previous shape exploded (vec_id, pos, q)
    // and SELF-JOINED on vec_id to fan out the d² cells — one exchange
    // of the n·d component frame plus join machinery before the cell
    // aggregate, and the join subtree re-derived per round reference.
    // The per-vector outer product needs no join at all: quantize the
    // vector once, explode positions, and explode the SAME row's array
    // again (two chained generators) — zero shuffles until the d²-cell
    // map-side-combined aggregate (guide §2.4: remove shuffles
    // outright). Same integer products, order-independent sum.
    val quant = vectors(spark, dir)
      .select(expr("transform(nv, x -> cast(round(x * 1e6) as bigint))").as("qa"))
    val m = quant
      .select(posexplode($"qa").as(Seq("pp", "qp")), $"qa")
      .select($"pp", $"qp", posexplode($"qa").as(Seq("pq", "qv")))
      .groupBy($"pp".cast("long").as("p"), $"pq".cast("long").as("qq"))
      .agg(sum($"qp" * $"qv").as("mpq"))
      // d² = 4096 rows regardless of corpus size, referenced by both
      // power rounds (each twice: the M·v join and the max-abs scale) —
      // bounded ephemeral per SCALE.md's iterative-materialization
      // policy; unmaterialized, every reference re-ran the full
      // corpus-sized Gram fan-out (the before-plan carried it 5×).
      .localCheckpoint()
    var v = m.select($"p".as("pos")).distinct()
      .select($"pos", lit(1000000L).as("v"))
    for (_ <- 1 to 2) {
      val w = m.join(broadcast(v), m("qq") === v("pos"))
        .groupBy($"p")
        .agg(sum(expr("cast(mpq as decimal(38,0)) * v")).as("w"))
      val mx = w.agg(max(abs($"w")).as("mx"))
      v = w.crossJoin(broadcast(mx))
        .select($"p".as("pos"), expr(
          """cast(case when w < 0
            |  then -((cast(-w as decimal(38,0)) * 1000000) div mx)
            |  else (cast(w as decimal(38,0)) * 1000000) div mx
            |end as bigint)""".stripMargin).as("v"))
    }
    v.select($"pos", $"v".as("pc1_x1e6")).orderBy($"pos")
  }

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein 1998, public
    * paper): diversified top-k — each pick maximizes
    * λ·rel(q, c) − (1−λ)·max_{s∈selected} sim(c, s), so the result set
    * trades raw relevance for coverage (retrieval diversification, and
    * the dedup-aware batch-selection shape training-data curation
    * uses: don't fill the context with five copies of the same
    * paragraph). λ = 0.7, k = [[MmrK]] picks per query.
    *
    * ALL queries advance together each greedy round (the batched-pivot
    * protocol): the scored (query, candidate) frame is staged once;
    * a round is one join of it against the ≤ Q·r selected frame, one
    * max-penalty combine, one max_by argmax per query — k bounded
    * rounds, never a per-query loop. The MMR score stays integral
    * (mmr_x1e7 = 7·rel_e6 − 3·pen_e6, no division — a negative score
    * would diverge under Spark `div` vs DuckDB `//`). The oracle
    * replays the full greedy recursion as k unrolled CTE stages. */
  private val MmrK = 5
  def qSimMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"))
    val c = n.select($"vec_id".as("cand_id"), $"nv".as("cv"))
    val scored = graft.SessionCache.checkpointed(spark, s"sim.mmr.scored|$dir") {
      broadcast(q).join(c, $"query_id" =!= $"cand_id")
        .withColumn("rel_e6", cosE6("qv", "cv"))
        .filter($"rel_e6".isNotNull)
        .select($"query_id", $"cand_id", $"rel_e6", $"cv")
    }
    // The argmax payload is deliberately SCALAR-ONLY (r16 revert of the
    // r15 cv-carry): carrying the 64-element vector through the max_by
    // made every partial-aggregation row of the Q×C `remaining` frame
    // allocate the array into its struct payload each round — the cell
    // regressed 3.03→4.91 s in the r15 close runs. The selected picks'
    // vectors are recovered instead by one broadcast join of the ≤Q·r
    // pick frame against the corpus vector table per round (below) —
    // Q·r rows through a broadcast build vs Q·C array copies through a
    // shuffle is the right trade at any scale.
    def argmax(frame: DataFrame, rank: Int): DataFrame =
      frame.groupBy($"query_id")
        .agg(max_by(struct($"score", (-$"cand_id").as("nc"), $"cand_id",
          $"rel_e6"), struct($"score", (-$"cand_id").as("nc"))).as("p"))
        .select($"query_id", lit(rank.toLong).as("pick"),
          $"p.cand_id".as("cand_id"), $"p.rel_e6".as("rel_e6"),
          $"p.score".as("mmr_x1e7"))
    // pick 1: pure relevance (empty selected set, penalty 0). Each
    // round's selected frame is localCheckpoint-materialized (bounded
    // ephemeral: ≤ queries·K rows, single-query lifetime — SCALE.md
    // "Iterative-materialization policy").
    var selected = argmax(
      scored.withColumn("score", $"rel_e6" * 7), 1).localCheckpoint()
    for (r <- 2 to MmrK) {
      val selVecs = broadcast(selected.select($"query_id", $"cand_id".as("sel_id")))
        .join(c.withColumnRenamed("cand_id", "sel_id")
          .withColumnRenamed("cv", "sv"), Seq("sel_id"))
      val pen = scored
        .join(broadcast(selVecs), Seq("query_id"))
        .filter($"cand_id" =!= $"sel_id")
        .withColumn("pair_e6", cosE6("cv", "sv"))
        .groupBy($"query_id", $"cand_id")
        .agg(max($"pair_e6").as("pen_e6"))
      val remaining = scored
        .join(selected.select($"query_id", $"cand_id"),
          Seq("query_id", "cand_id"), "left_anti")
        .join(pen, Seq("query_id", "cand_id"))
        .withColumn("score", $"rel_e6" * 7 - $"pen_e6" * 3)
      selected = selected.union(argmax(remaining, r)).localCheckpoint()
    }
    selected
      .select($"query_id", $"pick", $"cand_id", $"rel_e6", $"mmr_x1e7")
      .orderBy($"query_id", $"pick")
  }

  /** SQ8 SCALAR-QUANTIZED ANN (the FAISS SQ8 shape): each vector
    * compresses 8× to an int8 code array (per-vector max-abs scale,
    * code = round(v/s·127)); candidate generation ranks by the CODE
    * vectors' cosine — pure int multiply-adds, 127²·64 fits int —
    * and only the top-10 survivors pay the exact double cosine for
    * the final top-5. At scale the code table is what sits in memory
    * (8× more vectors per executor than raw doubles) and the exact
    * re-rank touches 10 rows per query. Quantization, int scoring and
    * both rank stages replay arithmetically in the oracle — the whole
    * pipeline is hash-checked, unlike recall-style ANN audits. */
  def qSimAnnSq8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coded = vectors(spark, dir)
      .withColumn("s", expr("array_max(transform(nv, x -> abs(x)))"))
      .withColumn("code", expr("transform(nv, x -> cast(round(x / s * 127) as int))"))
      .withColumn("n2", expr(
        "aggregate(code, 0L, (acc, x) -> acc + cast(x as bigint) * x)"))
      .select($"vec_id", $"nv", $"code", $"n2")
    val q = coded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"),
        $"code".as("qcode"), $"n2".as("qn2"))
    val c = coded.select($"vec_id".as("cand_id"), $"nv".as("cv"),
      $"code".as("ccode"), $"n2".as("cn2"))
    val wCode = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_code_e6".desc, $"cand_id")
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"cand_id")
    broadcast(q).join(c, $"query_id" =!= $"cand_id")
      .withColumn("dotc", expr(
        "aggregate(zip_with(qcode, ccode, (a, b) -> cast(a as bigint) * b), 0L, (acc, x) -> acc + x)"))
      .withColumn("cos_code_e6", expr(
        "cast(round(cast(dotc as double) / (sqrt(cast(qn2 as double)) * sqrt(cast(cn2 as double))) * 1e6) as bigint)"))
      .withColumn("crank", row_number().over(wCode))
      .filter($"crank" <= 10)
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"cand_id".as("neighbor_id"),
        $"cos_e6", $"cos_code_e6")
      .orderBy($"query_id", $"rank")
  }

  /** BINARY (1-bit) QUANTIZATION ANN — the fourth rung of the
    * quantization ladder (float32 → SQ8 int8 → PQ 4 B → 8 B sign code
    * here, two BIGINT halves per vector, the dHash convention): bit k set iff component k > 0,
    * Hamming distance `bit_count(xor)` as the candidate metric (the
    * binary-quantization recipe modern vector stores ship — a
    * candidate scan is ONE xor+popcount per pair, 32× less memory
    * than float32), exact cosine rerank of the Hamming top-10 to
    * top-3. Sign quantization of mean-centered-ish embeddings
    * preserves angular order remarkably well (Charikar 2002: Hamming
    * on sign codes estimates angle). Everything integer and
    * deterministic, so — like SQ8 and unlike the recall-audited
    * LSH/IVF — the WHOLE pipeline hash-checks end to end.
    *
    * Scale shape: the 5 query codes broadcast over the corpus CODE
    * column (the vectors never join the candidate scan); only the 10
    * rerank candidates per query touch full vectors. */
  def qSimAnnBinary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // two 32-bit halves (the dHash convention) — bit 63 of a single
    // BIGINT would overflow DuckDB's checked left shift
    val half = Dim / 2
    val coded = vectors(spark, dir)
      .withColumn("code_lo", expr(
        s"aggregate(sequence(0, ${half - 1}), 0L, " +
          "(acc, k) -> acc + if(element_at(nv, k + 1) > 0D, shiftleft(1L, k), 0L))"))
      .withColumn("code_hi", expr(
        s"aggregate(sequence(0, ${half - 1}), 0L, " +
          s"(acc, k) -> acc + if(element_at(nv, k + $half + 1) > 0D, shiftleft(1L, k), 0L))"))
    val q = coded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"nv".as("qv"),
        $"code_lo".as("qlo"), $"code_hi".as("qhi"))
    val c = coded.select($"vec_id".as("cand_id"), $"nv".as("cv"),
      $"code_lo".as("clo"), $"code_hi".as("chi"))
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"hamming", $"cand_id")
    val wE = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"cand_id")
    broadcast(q).join(c, $"query_id" =!= $"cand_id")
      .withColumn("hamming", expr(
        "cast(bit_count(qlo ^ clo) + bit_count(qhi ^ chi) as bigint)"))
      .withColumn("hrank", row_number().over(wH)).filter($"hrank" <= 10)
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"cand_id".as("neighbor_id"),
        $"hamming", $"cos_e6")
      .orderBy($"query_id", $"rank")
  }

  /** JOHNSON–LINDENSTRAUSS RANDOM PROJECTION (JL 1984; Achlioptas 2003
    * ±1 database-friendly variant, public papers): project 64-dim
    * embeddings to 16 dims through a FIXED ±1 sign matrix (the
    * deterministic (i·31+k·17)%7 weight convention shared with the LSH
    * planes — reproducible in plain SQL, no RNG) and AUDIT the
    * distortion: for each flagged query and its id+1 companion, the
    * cosine before vs after. This is the cheap dim-reduction step
    * ahead of clustering/dedup at scale — 4× less memory and flops per
    * comparison, distortion measured instead of assumed. Projection is
    * a per-row expression (zero shuffle); the audit joins a handful of
    * pairs. */
  private val JlDim = 16
  def qSimJlProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def projCol(v: String): Column = {
      val comps = (0 until JlDim).map { k =>
        val terms = (1 to Dim).flatMap { i =>
          ((i * 31 + k * 17) % 7) match {
            case w if w < 3 => Some(s"-element_at($v, $i)") // 0,1,2 → −1
            case w if w >= 4 => Some(s"element_at($v, $i)") // 4,5,6 → +1
            case _ => None // 3 → 0 (sparse JL)
          }
        }
        s"(${terms.mkString(" + ")})"
      }
      expr(s"array(${comps.mkString(", ")})")
    }
    val n = vectors(spark, dir)
      .withColumn("jv", projCol("nv"))
    val a = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("id_a"), $"nv".as("va"), $"jv".as("ja"))
    val b = n.select($"vec_id".as("id_b"), $"nv".as("vb"), $"jv".as("jb"))
    a.join(b, $"id_b" === $"id_a" + 1)
      .withColumn("cos_orig_e6", cosE6("va", "vb"))
      .withColumn("cos_proj_e6", cosE6("ja", "jb"))
      .withColumn("distortion_e6", abs($"cos_proj_e6" - $"cos_orig_e6"))
      .select($"id_a", $"id_b", $"cos_orig_e6", $"cos_proj_e6",
        $"distortion_e6")
      .orderBy($"id_a")
  }

  /** Discount table for nDCG@10 — 10⁶/log₂(i+1) as LITERALS computed
    * once here and embedded in both engines' expressions (a runtime
    * log would reopen float-divergence questions the fixed-point
    * conventions exist to close). */
  private[graft] val NdcgDisc: IndexedSeq[Long] =
    (1 to 10).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private lazy val idcgPrefix: IndexedSeq[Long] = NdcgDisc.scanLeft(0L)(_ + _)

  /** RANKING EVALUATION (nDCG@10 + MRR) of the cosine-kNN retrieval
    * with label-match relevance — "how good is the dense retriever at
    * surfacing same-class items", the metric that separates a usable
    * index from a fast one. DCG = Σ rel_i·disc(i) over the top-10,
    * IDCG from the total same-label availability (capped at 10),
    * MRR = 10⁶ div first-relevant rank. All integral via the literal
    * discount table. One broadcast-query corpus scan for the ranking;
    * relevance totals ride the same scan. */
  def qSimRankEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = vectors(spark, dir)
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"), $"nv".as("qv"))
    val c = n.select($"vec_id".as("cand_id"), $"label".as("clabel"),
      $"nv".as("cv"))
    val scored = broadcast(q).join(c, $"query_id" =!= $"cand_id")
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .filter($"cos_e6".isNotNull)
      .withColumn("rel", when($"qlabel" === $"clabel", 1L).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_e6".desc, $"cand_id")
    val ranked = scored
      .withColumn("rank", row_number().over(w).cast("long"))
    val totals = scored.groupBy($"query_id")
      .agg(sum($"rel").as("n_rel_total"))
    val discCase = (1 to 10).map(i => s"WHEN $i THEN ${NdcgDisc(i - 1)}")
      .mkString("CASE rank ", " ", " ELSE 0 END")
    val idcgCase = (0 to 10).map(r => s"WHEN $r THEN ${idcgPrefix(r)}")
      .mkString("CASE least(n_rel_total, 10L) ", " ", " ELSE 0 END")
    ranked.filter($"rank" <= 10)
      .groupBy($"query_id")
      .agg(sum($"rel").as("n_rel10"),
        expr(s"sum(rel * ($discCase))").as("dcg_e6"),
        min(when($"rel" === 1, $"rank")).as("first_rel_rank"))
      .join(totals, Seq("query_id"))
      .withColumn("idcg_e6", expr(idcgCase))
      .select($"query_id", $"n_rel10", $"n_rel_total", $"first_rel_rank",
        expr("coalesce(1000000 div (nullif(first_rel_rank, 0)), 0L)")
          .as("mrr_e6"),
        $"dcg_e6",
        expr("if(idcg_e6 > 0, (dcg_e6 * 1000000) div idcg_e6, 0L)")
          .as("ndcg_ppm"))
      .orderBy($"query_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_mmr" -> qSimMmr,
    "q_sim_ann_sq8" -> qSimAnnSq8,
    "q_sim_ann_binary" -> qSimAnnBinary,
    "q_sim_jl_project" -> qSimJlProject,
    "q_sim_rank_eval" -> qSimRankEval,
    "q_sim_ann_lsh_multiprobe" -> qSimAnnLshMultiprobe,
    "q_emb_pca_power" -> qEmbPcaPower,
    "q_sim_knn_brute" -> qSimKnnBrute,
    "q_sim_hard_negatives" -> qSimHardNegatives,
    "q_sim_knn_agg" -> qSimKnnAgg,
    "q_sim_ann_lsh" -> qSimAnnLsh,
    "q_sim_ann_ivf" -> qSimAnnIvf,
    "q_sim_ann_pq" -> qSimAnnPq,
    "q_sim_pq_recall" -> qSimPqRecall,
    "q_sim_ann_ivfadc" -> qSimAnnIvfadc,
    "q_sim_ivfadc_recall" -> qSimIvfadcRecall,
    "q_sim_ann_recall" -> qSimAnnRecall,
    "q_sim_neardup" -> qSimNearDup,
    "q_sem_dedup" -> qSemDedup,
    "q_emb_centroid" -> qEmbCentroid,
    "q_emb_outliers" -> qEmbOutliers,
    "q_emb_drift" -> qEmbDrift,
    "q_emb_qa" -> qEmbQa,
    "q_kmeans" -> qKmeans,
    "q_kmeans_purity" -> qKmeansPurity,
    "q_sim_ann_ivf_trained" -> qSimAnnIvfTrained,
    "q_sim_trunc_recall" -> qSimTruncRecall
  )

  /** The PQ codebook/encode/query-distance-table CTEs (assume `n`
    * from [[duckNorm]]) — shared by the PQ and IVFADC oracles. Ends
    * with `codes(vec_id, m, j)` and `dtab(query_id, m, j, d_e6)`. */
  private lazy val pqChain: String =
    s"""ms AS (SELECT unnest(range(0, $SubSpaces)) AS m),
       |cb AS (SELECT m, vec_id AS j,
       |         nv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS cw
       |       FROM n, ms WHERE vec_id < $CodeWords),
       |sub AS (SELECT vec_id, m,
       |          nv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sv
       |        FROM n, ms),
       |enc AS (SELECT vec_id, sub.m AS m, j,
       |          CAST(round(list_sum(list_transform(range(1, ${SubDim + 1}),
       |            i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d_e6
       |        FROM sub JOIN cb ON sub.m = cb.m),
       |codes AS (SELECT vec_id, m, j FROM (
       |            SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |                      ORDER BY d_e6, j) AS rn FROM enc)
       |          WHERE rn = 1),
       |qsub AS (SELECT vec_id AS query_id, m,
       |           nv[m * $SubDim + 1 : m * $SubDim + $SubDim] AS qsv
       |         FROM n, ms WHERE vec_id % 100 = 0),
       |dtab AS (SELECT query_id, qsub.m AS m, j,
       |           CAST(round(list_sum(list_transform(range(1, ${SubDim + 1}),
       |             i -> (qsv[i] - cw[i]) * (qsv[i] - cw[i]))) * 1e6) AS BIGINT) AS d_e6
       |         FROM qsub JOIN cb ON qsub.m = cb.m)""".stripMargin

  /** DuckDB prologue: double-cast vectors (same fold order as the
    * CosineSimilarity expression's per-accumulator loops). */
  private val duckNorm =
    """WITH n AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
      |  FROM embeddings)""".stripMargin

  /** The norm product is wrapped in nullif so a zero-norm vector (a
    * truncated head can be all-zero even when the full vector isn't)
    * yields NULL by construction — matching the Spark side's NaN→NULL
    * mapping regardless of DuckDB's ieee_floating_point_ops setting
    * (>=1.1 defaults 0/0 to NaN instead of NULL). */
  private def duckCosN(a: String, b: String, n: Int): String =
    (s"list_sum(list_transform(range(1, ${n + 1}), i -> $a[i] * $b[i]))" +
      s" / nullif(sqrt(list_sum(list_transform(range(1, ${n + 1}), i -> $a[i] * $a[i])))" +
      s" * sqrt(list_sum(list_transform(range(1, ${n + 1}), i -> $b[i] * $b[i]))), 0.0)")

  private def duckCos(a: String, b: String): String = duckCosN(a, b, Dim)

  private val duckDot = duckCos("qv", "cv")

  private def duckBucket(v: String): String = {
    val bits = (0 until Planes).map { k =>
      val terms = (1 to Dim).flatMap { i =>
        val wgt = ((i * 31 + k * 17) % 7) - 3
        if (wgt == 0) None else Some(s"$wgt.0 * $v[$i]")
      }
      s"(CASE WHEN ${terms.mkString(" + ")} >= 0 THEN ${1 << k} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  /** The MMR greedy recursion as [[MmrK]] unrolled CTE stages (the
    * betweenness-oracle technique): stage r computes every candidate's
    * max pairwise cosine against the union of picks 1..r−1, scores
    * 7·rel − 3·pen, and takes the per-query argmax. */
  private lazy val mmrOracle: String = {
    val sb = new StringBuilder(duckNorm)
    sb.append(s""",
      |sc AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    CAST(round(${duckCos("q.nv", "c.nv")} * 1e6) AS BIGINT) AS rel_e6,
      |    q.nv AS qv, c.nv AS cv
      |  FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
      |s1 AS (
      |  SELECT query_id, CAST(1 AS BIGINT) AS pick, cand_id, rel_e6,
      |    CAST(rel_e6 * 7 AS BIGINT) AS mmr_x1e7
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY rel_e6 * 7 DESC, cand_id) AS rn FROM sc)
      |  WHERE rn = 1),
      |selu1 AS (SELECT query_id, cand_id FROM s1)""".stripMargin)
    for (r <- 2 to MmrK) {
      val p = r - 1
      sb.append(s""",
        |pen$r AS (
        |  SELECT sc.query_id, sc.cand_id,
        |    max(CAST(round(${duckCos("cc.nv", "ss.nv")} * 1e6) AS BIGINT))
        |      AS pen_e6
        |  FROM sc
        |  JOIN selu$p u ON sc.query_id = u.query_id AND sc.cand_id <> u.cand_id
        |  JOIN n cc ON cc.vec_id = sc.cand_id
        |  JOIN n ss ON ss.vec_id = u.cand_id
        |  GROUP BY 1, 2),
        |s$r AS (
        |  SELECT query_id, CAST($r AS BIGINT) AS pick, cand_id, rel_e6,
        |    CAST(score AS BIGINT) AS mmr_x1e7
        |  FROM (
        |    SELECT sc.query_id, sc.cand_id, sc.rel_e6,
        |      sc.rel_e6 * 7 - pn.pen_e6 * 3 AS score,
        |      row_number() OVER (PARTITION BY sc.query_id
        |        ORDER BY sc.rel_e6 * 7 - pn.pen_e6 * 3 DESC, sc.cand_id) AS rn
        |    FROM sc
        |    JOIN pen$r pn ON sc.query_id = pn.query_id
        |                 AND sc.cand_id = pn.cand_id
        |    WHERE NOT EXISTS (SELECT 1 FROM selu$p u
        |      WHERE u.query_id = sc.query_id AND u.cand_id = sc.cand_id))
        |  WHERE rn = 1),
        |selu$r AS (SELECT * FROM selu$p
        |  UNION ALL SELECT query_id, cand_id FROM s$r)""".stripMargin)
    }
    sb.append("\n" + (1 to MmrK).map(r =>
      s"SELECT query_id, pick, cand_id, rel_e6, mmr_x1e7 FROM s$r")
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id, pick"))
    sb.toString
  }

  /** The JL ±1 component expressions in DuckDB list syntax — same
    * weight rule as the Spark side. */
  private def duckJlComps: String =
    (0 until JlDim).map { k =>
      val terms = (1 to Dim).flatMap { i =>
        ((i * 31 + k * 17) % 7) match {
          case w if w < 3 => Some(s"-nv[$i]")
          case w if w >= 4 => Some(s"nv[$i]")
          case _ => None
        }
      }
      s"(${terms.mkString(" + ")})"
    }.mkString(", ")

  private lazy val rankEvalOracle: String = {
    val discCase = (1 to 10).map(i => s"WHEN $i THEN ${NdcgDisc(i - 1)}")
      .mkString("CASE r.rank ", " ", " ELSE 0 END")
    val idcgCase = (0 to 10).map(r => s"WHEN $r THEN ${idcgPrefix(r)}")
      .mkString("CASE least(tt.n_rel_total, 10) ", " ", " ELSE 0 END")
    duckNorm.replace("SELECT vec_id, label,",
      "SELECT vec_id, label,") +
      s""",
        |p AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlabel,
        |    c.vec_id AS cand_id, c.label AS clabel,
        |    CAST(round(${duckCos("q.nv", "c.nv")} * 1e6) AS BIGINT) AS cos_e6
        |  FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT query_id, cand_id,
        |    CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_e6 DESC, cand_id) AS BIGINT) AS rank
        |  FROM p),
        |tot AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel_total
        |        FROM r GROUP BY 1),
        |top AS (
        |  SELECT r.query_id, CAST(sum(r.rel) AS BIGINT) AS n_rel10,
        |    CAST(sum(r.rel * ($discCase)) AS BIGINT) AS dcg_e6,
        |    CAST(min(CASE WHEN r.rel = 1 THEN r.rank END) AS BIGINT)
        |      AS first_rel_rank
        |  FROM r WHERE r.rank <= 10 GROUP BY 1)
        |SELECT t.query_id, t.n_rel10, tt.n_rel_total, t.first_rel_rank,
        |  COALESCE(1000000 // t.first_rel_rank, 0) AS mrr_e6,
        |  t.dcg_e6,
        |  CASE WHEN ($idcgCase) > 0
        |    THEN (t.dcg_e6 * 1000000) // ($idcgCase) ELSE 0 END AS ndcg_ppm
        |FROM top t JOIN tot tt ON tt.query_id = t.query_id
        |ORDER BY t.query_id""".stripMargin
  }

  private val baseOracles: Map[String, String] = Map(
    "q_sim_mmr" -> mmrOracle,
    "q_sim_rank_eval" -> rankEvalOracle,

    "q_sim_ann_lsh_multiprobe" ->
      (duckNorm +
        s""",
          |b AS (SELECT vec_id, nv, ${duckBucket("nv")} AS bucket FROM n),
          |q AS (
          |  SELECT vec_id AS query_id, nv AS qv,
          |    unnest([bucket${(0 until Planes).map(k =>
               s", xor(bucket, ${1L << k})").mkString}]) AS probe
          |  FROM b WHERE vec_id % 100 = 0),
          |p AS (
          |  SELECT q.query_id, c.vec_id AS neighbor_id,
          |    CAST(round(${duckCos("q.qv", "c.nv")} * 1e6) AS BIGINT) AS cos_e6
          |  FROM q JOIN b c ON c.bucket = q.probe
          |  WHERE q.query_id <> c.vec_id),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_e6 DESC, neighbor_id) AS rank
          |  FROM p)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_e6
          |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    "q_sim_jl_project" ->
      (duckNorm +
        s""",
          |jl AS (SELECT vec_id, nv, [$duckJlComps] AS jv FROM n),
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |    a.nv AS va, b.nv AS vb, a.jv AS ja, b.jv AS jb
          |  FROM jl a JOIN jl b
          |    ON a.vec_id % 100 = 0 AND b.vec_id = a.vec_id + 1),
          |s AS (
          |  SELECT id_a, id_b,
          |    CAST(round(${duckCosN("va", "vb", 64)} * 1e6) AS BIGINT)
          |      AS cos_orig_e6,
          |    CAST(round(${duckCosN("ja", "jb", 16)} * 1e6) AS BIGINT)
          |      AS cos_proj_e6
          |  FROM p)
          |SELECT id_a, id_b, cos_orig_e6, cos_proj_e6,
          |  abs(cos_proj_e6 - cos_orig_e6) AS distortion_e6
          |FROM s ORDER BY id_a""".stripMargin),

    "q_sim_ann_sq8" ->
      (duckNorm +
        s""",
          |coded AS (
          |  SELECT vec_id, nv,
          |    list_transform(nv, x -> CAST(round(
          |      x / list_max(list_transform(nv, y -> abs(y))) * 127) AS INTEGER))
          |      AS code
          |  FROM n),
          |c2 AS (
          |  SELECT vec_id, nv, code,
          |    CAST(list_sum(list_transform(code,
          |      x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS n2
          |  FROM coded),
          |p AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          |    q.nv AS qv, c.nv AS cv,
          |    CAST(list_sum(list_transform(range(1, 65),
          |      i -> CAST(q.code[i] AS BIGINT) * c.code[i])) AS BIGINT) AS dotc,
          |    q.n2 AS qn2, c.n2 AS cn2
          |  FROM c2 q JOIN c2 c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
          |sco AS (
          |  SELECT query_id, cand_id, qv, cv,
          |    CAST(round(CAST(dotc AS DOUBLE)
          |      / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)))
          |      * 1e6) AS BIGINT) AS cos_code_e6
          |  FROM p),
          |top10 AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY cos_code_e6 DESC, cand_id) AS crank FROM sco)
          |  WHERE crank <= 10),
          |exact AS (
          |  SELECT query_id, cand_id, cos_code_e6,
          |    CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |  FROM top10),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_e6 DESC, cand_id) AS rank FROM exact)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank,
          |  cand_id AS neighbor_id, cos_e6, cos_code_e6
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "q_sim_hard_negatives" ->
      (duckNorm +
        s""",
          |p AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
          |         q.nv AS qv, c.nv AS cv
          |  FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.label <> c.label),
          |s AS (
          |  SELECT query_id, neg_id,
          |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |  FROM p),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |            ORDER BY cos_e6 DESC, neg_id) AS rank
          |  FROM s)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neg_id, cos_e6
          |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    "q_sim_knn_brute" ->
      (duckNorm +
        s""",
          |p AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         q.nv AS qv, c.nv AS cv
          |  FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |  FROM p),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |            ORDER BY cos_e6 DESC, neighbor_id) AS rank
          |  FROM s)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_e6
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    "q_sim_trunc_recall" ->
      (duckNorm +
        s""",
          |q AS (SELECT vec_id AS query_id, nv, nv[1:$TruncDim] AS tq
          |      FROM n WHERE vec_id % 100 = 0),
          |p AS (
          |  SELECT q.query_id, c.vec_id AS neighbor_id,
          |         q.nv AS qv, c.nv AS cv,
          |         q.tq AS qt, c.nv[1:$TruncDim] AS ct
          |  FROM q JOIN n c ON q.query_id <> c.vec_id),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_full,
          |         CAST(round(${duckCosN("qt", "ct", TruncDim)} * 1e6) AS BIGINT) AS cos_tr
          |  FROM p),
          |rf AS (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY cos_full DESC, neighbor_id) AS rank
          |  FROM s),
          |rt AS (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY cos_tr DESC, neighbor_id) AS rank
          |  FROM s),
          |truth AS (SELECT query_id, neighbor_id FROM rf WHERE rank <= 3),
          |tr AS (SELECT query_id, neighbor_id FROM rt WHERE rank <= 3),
          |h AS (
          |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS trunc_hits
          |  FROM truth t JOIN tr USING (query_id, neighbor_id) GROUP BY 1)
          |SELECT qq.query_id,
          |  CAST(coalesce(h.trunc_hits, 0) AS BIGINT) AS trunc_hits,
          |  CAST((coalesce(h.trunc_hits, 0) * 1000) // 3 AS BIGINT)
          |    AS trunc_recall_permille
          |FROM (SELECT DISTINCT query_id FROM truth) qq
          |LEFT JOIN h USING (query_id)
          |ORDER BY qq.query_id""".stripMargin),

    // identical semantics to the brute-force window formulation — the
    // aggregator must reproduce it exactly
    "q_sim_knn_agg" ->
      (duckNorm +
        s""",
          |p AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         q.nv AS qv, c.nv AS cv
          |  FROM n q JOIN n c ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |  FROM p),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |            ORDER BY cos_e6 DESC, neighbor_id) AS rank
          |  FROM s)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_e6
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    "q_sim_ann_lsh" ->
      (duckNorm +
        s""",
          |b AS (SELECT vec_id, nv, ${duckBucket("nv")} AS bucket FROM n),
          |p AS (
          |  SELECT q.vec_id AS query_id, q.bucket, c.vec_id AS neighbor_id,
          |         q.nv AS qv, c.nv AS cv
          |  FROM b q JOIN b c ON q.bucket = c.bucket
          |   AND q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
          |s AS (
          |  SELECT query_id, bucket, neighbor_id,
          |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |  FROM p),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |            ORDER BY cos_e6 DESC, neighbor_id) AS rank
          |  FROM s)
          |SELECT query_id, bucket, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_e6
          |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // IVF: coarse-quantize (nearest of the first 8 vectors), probe the
    // query's 2 nearest cells, search only those inverted lists
    "q_sim_ann_ivf" ->
      (duckNorm +
        s""",
          |cent AS (SELECT vec_id AS centroid_id, nv AS centv FROM n WHERE vec_id < 8),
          |asg AS (
          |  SELECT v.vec_id, v.nv, c.centroid_id,
          |         row_number() OVER (PARTITION BY v.vec_id
          |           ORDER BY CAST(round(${duckCos("centv", "nv")} * 1e6) AS BIGINT) DESC,
          |                    c.centroid_id) AS arank
          |  FROM n v CROSS JOIN cent c),
          |cells AS (SELECT vec_id, nv, centroid_id AS cell FROM asg WHERE arank = 1),
          |pr AS (
          |  SELECT q.vec_id AS query_id, q.nv AS qv, c.centroid_id AS cell,
          |         row_number() OVER (PARTITION BY q.vec_id
          |           ORDER BY CAST(round(${duckCos("centv", "qv")} * 1e6) AS BIGINT) DESC,
          |                    c.centroid_id) AS prank
          |  FROM (SELECT vec_id, nv FROM n WHERE vec_id % 100 = 0) q
          |  CROSS JOIN cent c),
          |probes AS (SELECT query_id, qv, cell FROM pr WHERE prank <= 2),
          |s AS (
          |  SELECT p.query_id, p.cell, l.vec_id AS neighbor_id,
          |         CAST(round(${duckCos("qv", "cv")} * 1e6) AS BIGINT) AS cos_e6
          |  FROM probes p
          |  JOIN (SELECT vec_id, cell, nv AS cv FROM cells) l USING (cell)
          |  WHERE p.query_id <> l.vec_id),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |            ORDER BY cos_e6 DESC, neighbor_id) AS rank
          |  FROM s)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cell, cos_e6
          |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // full PQ/ADC pipeline re-derived in SQL: codebook slices, argmin
    // encoding, query distance tables, lookup-sum scoring, exact rerank
    "q_sim_ann_pq" ->
      (duckNorm +
        s""",
          |$pqChain,
          |adist AS (SELECT query_id, vec_id, CAST(sum(d_e6) AS BIGINT) AS adist_e6
          |          FROM codes JOIN dtab ON codes.m = dtab.m AND codes.j = dtab.j
          |          WHERE query_id <> vec_id GROUP BY query_id, vec_id),
          |cand AS (SELECT query_id, vec_id AS neighbor_id, adist_e6 FROM (
          |           SELECT *, row_number() OVER (PARTITION BY query_id
          |                     ORDER BY adist_e6, vec_id) AS arank FROM adist)
          |         WHERE arank <= 10),
          |p AS (SELECT cand.query_id, cand.neighbor_id, cand.adist_e6,
          |        q.nv AS qv, c.nv AS cv
          |      FROM cand JOIN n q ON cand.query_id = q.vec_id
          |      JOIN n c ON cand.neighbor_id = c.vec_id),
          |s AS (SELECT query_id, neighbor_id, adist_e6,
          |        CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |      FROM p),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |                ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM s)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
          |       adist_e6, cos_e6
          |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // mirrors the Spark LSH-candidate + exact-verify pipeline: the band
    // scheme is deterministic, so both engines derive identical
    // candidate sets before the exact cosine check
    "q_sim_neardup" ->
      (duckNorm +
        s""",
          |bk AS (SELECT vec_id, label, nv, ${duckBucket("nv")} AS bucket FROM n),
          |banded AS (
          |${(0 until NearDupBands).map(k =>
              s"  SELECT vec_id, label, $k AS band, (bucket >> ${2 * k}) & 3 AS bv FROM bk")
              .mkString("\n  UNION ALL\n")}
          |),
          |cand AS (
          |  SELECT DISTINCT x.label, x.vec_id AS vec_a, y.vec_id AS vec_b
          |  FROM banded x JOIN banded y
          |    ON x.label = y.label AND x.band = y.band AND x.bv = y.bv
          |   AND x.vec_id < y.vec_id),
          |p AS (
          |  SELECT c.label, c.vec_a, c.vec_b, a.nv AS qv, b.nv AS cv
          |  FROM cand c
          |  JOIN n a ON a.vec_id = c.vec_a
          |  JOIN n b ON b.vec_id = c.vec_b),
          |s AS (
          |  SELECT CAST(label AS BIGINT) AS label, vec_a, vec_b,
          |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
          |  FROM p)
          |SELECT label, vec_a, vec_b, cos_e6
          |FROM s WHERE cos_e6 >= 250000 ORDER BY vec_a, vec_b""".stripMargin)
  )

  /** Recall oracle: the brute/IVF/LSH oracles re-run verbatim as CTEs
    * (nested WITH), then one semi-join + rollup per ANN path. */
  private val recallOracle =
    s"""WITH b AS (${baseOracles("q_sim_knn_brute")}),
       |i AS (${baseOracles("q_sim_ann_ivf")}),
       |l AS (${baseOracles("q_sim_ann_lsh")}),
       |t AS (SELECT query_id, neighbor_id FROM b WHERE rank <= 3),
       |ih AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits
       |       FROM t JOIN i ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
       |       GROUP BY t.query_id),
       |lh AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits
       |       FROM t JOIN l ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
       |       GROUP BY t.query_id)
       |SELECT q.query_id,
       |  coalesce(ih.hits, 0) AS ivf_hits,
       |  coalesce(ih.hits, 0) * 1000 // 3 AS ivf_recall_permille,
       |  coalesce(lh.hits, 0) AS lsh_hits,
       |  coalesce(lh.hits, 0) * 1000 // 3 AS lsh_recall_permille
       |FROM (SELECT DISTINCT query_id FROM t) q
       |LEFT JOIN ih ON q.query_id = ih.query_id
       |LEFT JOIN lh ON q.query_id = lh.query_id
       |ORDER BY q.query_id""".stripMargin

  private val pqRecallOracle =
    s"""WITH b AS (${baseOracles("q_sim_knn_brute")}),
       |p AS (${baseOracles("q_sim_ann_pq")}),
       |t AS (SELECT query_id, neighbor_id FROM b WHERE rank <= 3),
       |ph AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits
       |       FROM t JOIN p ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
       |       GROUP BY t.query_id)
       |SELECT q.query_id,
       |  coalesce(ph.hits, 0) AS pq_hits,
       |  coalesce(ph.hits, 0) * 1000 // 3 AS pq_recall_permille
       |FROM (SELECT DISTINCT query_id FROM t) q
       |LEFT JOIN ph ON q.query_id = ph.query_id
       |ORDER BY q.query_id""".stripMargin

  private val centroidOracle =
    """WITH x AS (
      |  SELECT label, i + 1 AS idx, embedding[i + 1] AS val
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) t)
      |SELECT label, CAST(idx - 1 AS INT) AS pos,
      |  CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS mean_component,
      |  CAST(count(*) AS BIGINT) AS n_vectors
      |FROM x GROUP BY label, idx ORDER BY label, pos""".stripMargin

  /** SemDeDup oracle: IVF cells + band blocking + cosine verify,
    * re-derived from scratch (same helpers as the ivf/neardup oracles). */
  private val semDedupOracle =
    (duckNorm +
      s""",
        |cent AS (SELECT vec_id AS centroid_id, nv AS centv FROM n WHERE vec_id < $Centroids),
        |asg AS (
        |  SELECT v.vec_id, c.centroid_id,
        |         row_number() OVER (PARTITION BY v.vec_id
        |           ORDER BY CAST(round(${duckCos("centv", "nv")} * 1e6) AS BIGINT) DESC,
        |                    c.centroid_id) AS arank
        |  FROM n v CROSS JOIN cent c),
        |cells AS (SELECT vec_id, centroid_id AS cell FROM asg WHERE arank = 1),
        |bk AS (SELECT vec_id, ${duckBucket("nv")} AS bucket FROM n),
        |banded AS (
        |${(0 until NearDupBands).map(k =>
            s"  SELECT vec_id, $k AS band, (bucket >> ${2 * k}) & 3 AS bv FROM bk")
            .mkString("\n  UNION ALL\n")}
        |),
        |bc AS (SELECT b.vec_id, cells.cell, b.band, b.bv
        |       FROM banded b JOIN cells ON b.vec_id = cells.vec_id),
        |cand AS (
        |  SELECT DISTINCT x.vec_id, y.vec_id AS dom_id
        |  FROM bc x JOIN bc y
        |    ON x.cell = y.cell AND x.band = y.band AND x.bv = y.bv
        |   AND y.vec_id < x.vec_id),
        |dom AS (
        |  SELECT c.vec_id, CAST(count(*) AS BIGINT) AS n_dominators
        |  FROM cand c
        |  JOIN n a ON a.vec_id = c.vec_id
        |  JOIN n b ON b.vec_id = c.dom_id
        |  WHERE CAST(round(${duckCos("a.nv", "b.nv")} * 1e6) AS BIGINT) >= $SemDupThreshold
        |  GROUP BY c.vec_id)
        |SELECT cells.vec_id, cell,
        |  coalesce(dom.n_dominators, 0) AS n_dominators,
        |  CASE WHEN dom.vec_id IS NULL THEN 'Y' ELSE 'N' END AS kept
        |FROM cells LEFT JOIN dom ON cells.vec_id = dom.vec_id
        |ORDER BY cells.vec_id""".stripMargin)

  /** The 2 quantized Lloyd iterations as CTEs — pure bigint
    * arithmetic, shared by the k-means and trained-IVF oracles. */
  private val kmChain =
    s"""pts AS (
       |  SELECT vec_id, i AS pos,
       |    CAST(round((CAST(embedding[i + 1] AS DOUBLE) + 10) * 1e6) AS BIGINT) AS vq
       |  FROM embeddings, (SELECT unnest(range(0, $Dim)) AS i) t),
       |c0 AS (SELECT vec_id AS j, pos, vq AS cq FROM pts WHERE vec_id < $Centroids),
       |d1 AS (
       |  SELECT p.vec_id, c.j, sum((p.vq - c.cq) * (p.vq - c.cq)) AS d
       |  FROM pts p JOIN c0 c ON p.pos = c.pos GROUP BY p.vec_id, c.j),
       |a1 AS (
       |  SELECT vec_id, j AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
       |    FROM d1) WHERE rn = 1),
       |c1 AS (
       |  SELECT a.cluster AS j, p.pos, sum(p.vq) // count(*) AS cq
       |  FROM pts p JOIN a1 a ON p.vec_id = a.vec_id
       |  GROUP BY a.cluster, p.pos),
       |d2 AS (
       |  SELECT p.vec_id, c.j, sum((p.vq - c.cq) * (p.vq - c.cq)) AS d
       |  FROM pts p JOIN c1 c ON p.pos = c.pos GROUP BY p.vec_id, c.j),
       |a2 AS (
       |  SELECT vec_id, j AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
       |    FROM d2) WHERE rn = 1)""".stripMargin

  private val kmeansOracle =
    s"""WITH $kmChain
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
       |FROM a2 ORDER BY vec_id""".stripMargin

  /** Trained-IVF oracle: the Lloyd chain + final centroids (c2) +
    * quantized-L2 cell assignment + 2-probe search + exact cosine. */
  private val ivfTrainedOracle =
    (duckNorm +
      s""",
        |$kmChain,
        |c2 AS (
        |  SELECT a.cluster AS j, p.pos, sum(p.vq) // count(*) AS cq
        |  FROM pts p JOIN a2 a ON p.vec_id = a.vec_id
        |  GROUP BY a.cluster, p.pos),
        |d3 AS (
        |  SELECT p.vec_id, c.j, sum((p.vq - c.cq) * (p.vq - c.cq)) AS d
        |  FROM pts p JOIN c2 c ON p.pos = c.pos GROUP BY p.vec_id, c.j),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
        |  FROM d3),
        |cells AS (SELECT vec_id, j AS cell FROM rk WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, j AS cell FROM rk
        |           WHERE vec_id % 100 = 0 AND rn <= $NProbe),
        |s AS (
        |  SELECT pr.query_id, m.vec_id AS neighbor_id, pr.cell,
        |         CAST(round(${duckCos("q.nv", "c.nv")} * 1e6) AS BIGINT) AS cos_e6
        |  FROM probes pr
        |  JOIN cells m ON pr.cell = m.cell
        |  JOIN n q ON q.vec_id = pr.query_id
        |  JOIN n c ON c.vec_id = m.vec_id
        |  WHERE pr.query_id <> m.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_e6 DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cell, cos_e6
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  /** IVFADC oracle: the Lloyd chain + final-centroid cell assignment
    * + nprobe probes (verbatim from the trained-IVF oracle) composed
    * with the PQ chain (verbatim from the PQ oracle) — ADC lookup-sum
    * restricted to probed cells, exact cosine rerank. */
  private lazy val ivfadcOracle: String =
    (duckNorm +
      s""",
        |$kmChain,
        |c2 AS (
        |  SELECT a.cluster AS j, p.pos, sum(p.vq) // count(*) AS cq
        |  FROM pts p JOIN a2 a ON p.vec_id = a.vec_id
        |  GROUP BY a.cluster, p.pos),
        |d3 AS (
        |  SELECT p.vec_id, c.j, sum((p.vq - c.cq) * (p.vq - c.cq)) AS d
        |  FROM pts p JOIN c2 c ON p.pos = c.pos GROUP BY p.vec_id, c.j),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
        |  FROM d3),
        |cells AS (SELECT vec_id, j AS cell FROM rk WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, j AS cell FROM rk
        |           WHERE vec_id % 100 = 0 AND rn <= $NProbe),
        |$pqChain,
        |adist AS (
        |  SELECT pr.query_id, mm.vec_id, mm.cell,
        |         CAST(sum(dt.d_e6) AS BIGINT) AS adist_e6
        |  FROM probes pr
        |  JOIN cells mm ON pr.cell = mm.cell
        |  JOIN codes ON codes.vec_id = mm.vec_id
        |  JOIN dtab dt ON dt.query_id = pr.query_id
        |             AND dt.m = codes.m AND dt.j = codes.j
        |  WHERE pr.query_id <> mm.vec_id
        |  GROUP BY 1, 2, 3),
        |cand AS (SELECT query_id, vec_id AS neighbor_id, cell, adist_e6 FROM (
        |           SELECT *, row_number() OVER (PARTITION BY query_id
        |                     ORDER BY adist_e6, vec_id) AS arank FROM adist)
        |         WHERE arank <= 10),
        |p2 AS (SELECT cand.query_id, cand.neighbor_id, cand.cell,
        |         cand.adist_e6, q.nv AS qv, c.nv AS cv
        |       FROM cand JOIN n q ON cand.query_id = q.vec_id
        |       JOIN n c ON cand.neighbor_id = c.vec_id),
        |s2 AS (SELECT query_id, neighbor_id, cell, adist_e6,
        |         CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
        |       FROM p2),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                 ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM s2)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |       cell, adist_e6, cos_e6
        |FROM r2 WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  private lazy val ivfadcRecallOracle: String =
    s"""WITH b AS (${baseOracles("q_sim_knn_brute")}),
       |v AS ($ivfadcOracle),
       |t AS (SELECT query_id, neighbor_id FROM b WHERE rank <= 3),
       |vh AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits
       |       FROM t JOIN v ON t.query_id = v.query_id AND t.neighbor_id = v.neighbor_id
       |       GROUP BY t.query_id)
       |SELECT q.query_id,
       |  coalesce(vh.hits, 0) AS ivfadc_hits,
       |  coalesce(vh.hits, 0) * 1000 // 3 AS ivfadc_recall_permille
       |FROM (SELECT DISTINCT query_id FROM t) q
       |LEFT JOIN vh ON q.query_id = vh.query_id
       |ORDER BY q.query_id""".stripMargin

  private lazy val binaryAnnOracle: String =
    (duckNorm +
      s""",
        |code AS (SELECT vec_id, nv,
        |  CAST(list_sum(list_transform(range(0, ${Dim / 2}),
        |    k -> CASE WHEN nv[k + 1] > 0 THEN (1::BIGINT << k)
        |         ELSE 0::BIGINT END)) AS BIGINT) AS code_lo,
        |  CAST(list_sum(list_transform(range(0, ${Dim / 2}),
        |    k -> CASE WHEN nv[k + ${Dim / 2} + 1] > 0 THEN (1::BIGINT << k)
        |         ELSE 0::BIGINT END)) AS BIGINT) AS code_hi
        |  FROM n),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(bit_count(xor(q.code_lo, c.code_lo))
        |       + bit_count(xor(q.code_hi, c.code_hi)) AS BIGINT) AS hamming,
        |    q.nv AS qv, c.nv AS cv
        |  FROM code q JOIN code c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id % 100 = 0),
        |h AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY hamming, cand_id) AS hrank FROM pairs),
        |e AS (SELECT query_id, cand_id AS neighbor_id, hamming,
        |        CAST(round($duckDot * 1e6) AS BIGINT) AS cos_e6
        |      FROM h WHERE hrank <= 10),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM e)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |       hamming, cos_e6
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  /** Purity/MI oracle: the Lloyd chain's final assignment + labels →
    * contingency table; both MI log operands run through the generated
    * 12-step integer log2 chain, keyed (cluster, label, side). */
  private lazy val kmeansPurityOracle: String = {
    val logSteps = (0 until 12).map { i =>
      s"""kl${i + 1} AS (SELECT cluster, label, side,
         |  CASE WHEN (m*m)>>12 >= 8192 THEN ((m*m)>>12)>>1 ELSE (m*m)>>12 END AS m,
         |  r + CASE WHEN (m*m)>>12 >= 8192 THEN 1<<${11 - i} ELSE 0 END AS r
         |  FROM kl$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $kmChain,
       |cj AS (SELECT a2.vec_id, a2.cluster, e.label
       |       FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id),
       |cells AS MATERIALIZED (
       |  SELECT cluster, label, CAST(count(*) AS BIGINT) AS n_cl
       |  FROM cj GROUP BY 1, 2),
       |bc AS (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_c
       |       FROM cells GROUP BY 1),
       |tlb AS (SELECT cluster, label AS top_label, n_cl AS top_n FROM (
       |        SELECT *, row_number() OVER (PARTITION BY cluster
       |          ORDER BY n_cl DESC, label) AS rn FROM cells) q WHERE rn = 1),
       |bl AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l
       |       FROM cells GROUP BY 1),
       |nt AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n_total FROM cells),
       |en AS MATERIALIZED (
       |  SELECT c.cluster, c.label, c.n_cl,
       |    c.n_cl * nt.n_total AS qa, bc.n_c * bl.n_l AS qb
       |  FROM cells c JOIN bc USING (cluster) JOIN bl USING (label)
       |  CROSS JOIN nt),
       |ku AS (
       |  SELECT cluster, label, 'a' AS side, qa AS q FROM en
       |  UNION ALL
       |  SELECT cluster, label, 'b' AS side, qb AS q FROM en),
       |kl0 AS (SELECT cluster, label, side,
       |  (q * 4096) >> (length(bin(q)) - 1) AS m,
       |  (length(bin(q)) - 1) * 4096 AS r FROM ku),
       |$logSteps,
       |lg AS (SELECT cluster, label,
       |  sum(CASE WHEN side = 'a' THEN r END)
       |    - sum(CASE WHEN side = 'b' THEN r END) AS lr
       |  FROM kl12 GROUP BY 1, 2),
       |mi AS (SELECT CAST(sum(en.n_cl * lg.lr) AS BIGINT) AS mi_sum
       |       FROM en JOIN lg USING (cluster, label)),
       |ov AS (SELECT CAST(sum(top_n) AS BIGINT) AS top_sum FROM tlb)
       |SELECT bc.cluster, bc.n_c AS n_vectors, tlb.top_label, tlb.top_n,
       |  (tlb.top_n * 1000000) // bc.n_c AS purity_ppm,
       |  (ov.top_sum * 1000000) // nt.n_total AS overall_purity_ppm,
       |  (greatest(0, mi.mi_sum) * 1000000) // (nt.n_total * 4096) AS mi_micro_log2
       |FROM bc JOIN tlb USING (cluster)
       |CROSS JOIN nt CROSS JOIN ov CROSS JOIN mi
       |ORDER BY bc.cluster""".stripMargin
  }

  val oracles: Map[String, String] = baseOracles ++ Map(
    "q_kmeans_purity" -> kmeansPurityOracle,
    "q_sim_ann_binary" -> binaryAnnOracle,
    "q_sim_ann_ivfadc" -> ivfadcOracle,
    "q_sim_ivfadc_recall" -> ivfadcRecallOracle,
    "q_emb_pca_power" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS pos,
        |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) t),
        |m AS (SELECT a.pos AS p, b.pos AS qq,
        |        CAST(SUM(a.q * b.q) AS BIGINT) AS mpq
        |      FROM comp a JOIN comp b ON a.vec_id = b.vec_id
        |      GROUP BY a.pos, b.pos),
        |v0 AS (SELECT DISTINCT p AS pos, CAST(1000000 AS BIGINT) AS v FROM m),
        |w1 AS (SELECT m.p, SUM(CAST(m.mpq AS HUGEINT) * v0.v) AS w
        |       FROM m JOIN v0 ON m.qq = v0.pos GROUP BY m.p),
        |v1 AS (SELECT p AS pos,
        |  CAST(CASE WHEN w < 0
        |    THEN -((CAST(-w AS HUGEINT) * 1000000) // (SELECT MAX(abs(w)) FROM w1))
        |    ELSE (CAST(w AS HUGEINT) * 1000000) // (SELECT MAX(abs(w)) FROM w1)
        |  END AS BIGINT) AS v FROM w1),
        |w2 AS (SELECT m.p, SUM(CAST(m.mpq AS HUGEINT) * v1.v) AS w
        |       FROM m JOIN v1 ON m.qq = v1.pos GROUP BY m.p),
        |v2 AS (SELECT p AS pos,
        |  CAST(CASE WHEN w < 0
        |    THEN -((CAST(-w AS HUGEINT) * 1000000) // (SELECT MAX(abs(w)) FROM w2))
        |    ELSE (CAST(w AS HUGEINT) * 1000000) // (SELECT MAX(abs(w)) FROM w2)
        |  END AS BIGINT) AS v FROM w2)
        |SELECT pos, v AS pc1_x1e6 FROM v2 ORDER BY pos""".stripMargin,
    "q_sim_ann_recall" -> recallOracle,
    "q_sim_pq_recall" -> pqRecallOracle,
    "q_sem_dedup" -> semDedupOracle,
    "q_emb_centroid" -> centroidOracle,
    "q_emb_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, i + 1 AS idx,
        |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS xi
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) t),
        |cen AS (SELECT label, idx, CAST(sum(xi) AS BIGINT) AS si,
        |               CAST(count(*) AS BIGINT) AS n
        |        FROM e GROUP BY 1, 2),
        |d2 AS (
        |  SELECT e.label, e.vec_id,
        |    sum(CAST(cen.n * e.xi - cen.si AS HUGEINT)
        |        * (cen.n * e.xi - cen.si)) AS d2,
        |    max(cen.n) AS n
        |  FROM e JOIN cen ON cen.label = e.label AND cen.idx = e.idx
        |  GROUP BY 1, 2),
        |per AS (SELECT label, max(n) AS n_vectors, sum(d2) AS sd
        |        FROM d2 GROUP BY label),
        |fl AS (
        |  SELECT per.label, per.n_vectors,
        |    CAST(sum(CASE WHEN per.n_vectors * d2.d2 > 4 * per.sd
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |  FROM d2 JOIN per USING (label) GROUP BY 1, 2)
        |SELECT label, n_vectors, n_flagged,
        |  (n_flagged * 1000000) // n_vectors AS flagged_ppm
        |FROM fl ORDER BY label""".stripMargin,
    "q_emb_qa" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1e6) AS BIGINT)
        |    AS norm_e6,
        |  (CAST(len(embedding) AS BIGINT) = 64
        |   AND CAST(round(sqrt(list_sum(list_transform(embedding,
        |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1e6) AS BIGINT)
        |     > 10000) AS ok
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_emb_drift" ->
      """WITH x AS (
        |  SELECT label, vec_id % 2 AS half, i + 1 AS idx, embedding[i + 1] AS val
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) t),
        |m AS (
        |  SELECT label, half, idx,
        |    CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS m,
        |    count(*) AS n
        |  FROM x GROUP BY label, half, idx),
        |c AS (
        |  SELECT label, half, CAST(max(n) AS BIGINT) AS n_vectors,
        |    list(m ORDER BY idx) AS cv
        |  FROM m GROUP BY label, half),
        |j AS (
        |  SELECT a.label, a.n_vectors AS n_a, b.n_vectors AS n_b,
        |         a.cv AS ca, b.cv AS cb
        |  FROM c a JOIN c b ON a.label = b.label AND a.half = 0 AND b.half = 1)
        |SELECT label, n_a, n_b,
        |  CAST(round((list_sum(list_transform(range(1, 65), i -> ca[i] * cb[i]))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i -> ca[i] * ca[i])))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> cb[i] * cb[i]))))) * 1e6)
        |    AS BIGINT) AS cos_e6
        |FROM j ORDER BY label""".stripMargin,
    "q_kmeans" -> kmeansOracle,
    "q_sim_ann_ivf_trained" -> ivfTrainedOracle)
}
