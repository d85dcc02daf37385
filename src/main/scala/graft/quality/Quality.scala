package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data curation operators beyond dedup/similarity: document
  * quality gates (Gopher-style rule filters), repetition scoring,
  * deterministic sampling / stratified subsetting, canonicalization
  * dedup, and funnel analysis over the event stream.
  *
  * Scale notes (100 TB):
  *  - quality gates + sampling are pure per-row expressions (zero
  *    shuffle, fully codegen'd) — they run at scan speed and compose
  *    with predicate pushdown when used as filters;
  *  - repetition scoring shuffles (doc_id, token) once with map-side
  *    combine — the canonical word-histogram shape;
  *  - canonicalization dedup is one shuffle on the normalized digest,
  *    identical to exact dedup (dedup/Dedup.scala);
  *  - the funnel is one shuffle on user_id: chained window minima over
  *    the SAME partitioning reuse a single exchange (no per-stage
  *    re-shuffle), then a per-user aggregate.
  */
object Quality {

  /** Whitespace-token array with empties dropped — the shared word
    * tokenization (matches DuckDB regexp_split_to_array + list_filter). */
  private def wordsCol: Column =
    expr("filter(split(text, '\\\\s+'), w -> w <> '')")

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "on")

  /** Adds the Gopher gate columns (rule metrics + flags +
    * `quality_pass`) to any frame with a `text` column — shared by the
    * gate query and the curation queries that filter on it. */
  private[graft] def withQualityGate(df: DataFrame): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    df.withColumn("ws", wordsCol)
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("sum_wlen",
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))"))
      .withColumn("mean_wlen_permille",
        expr("(sum_wlen * 1000) div nullif(n_words, 0)"))
      .withColumn("stop_hits",
        expr(s"size(filter(ws, w -> w IN ($stopList)))").cast("long"))
      .withColumn("ok_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("ok_mean_wlen",
        col("mean_wlen_permille") >= 3000 && col("mean_wlen_permille") <= 10000)
      .withColumn("ok_stopwords", col("stop_hits") >= 2)
      .withColumn("quality_pass",
        col("ok_word_count") && col("ok_mean_wlen") && col("ok_stopwords"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    * public paper): word count bounds, mean word length bounds, minimum
    * stop-word hits. Pure array expressions per row; at 100 TB this is
    * a scan-speed filter with no shuffle. */
  def qQualityGopher(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withQualityGate(Tables.load(spark, dir, "documents"))
      .select($"doc_id", $"n_words", $"sum_wlen", $"mean_wlen_permille",
        $"stop_hits", $"ok_word_count", $"ok_mean_wlen", $"ok_stopwords",
        $"quality_pass")
      .orderBy($"doc_id")
  }

  /** Repetition scoring (the Gopher/C4 "repetitious text" family):
    * most-frequent-word share and duplicate-bigram share per document.
    * One shuffle on (doc_id, token) with map-side combine — the
    * word-histogram shape that scales linearly. */
  def qQualityRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", wordsCol.as("ws"))
    val uni = docs.select($"doc_id", explode($"ws").as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max($"c").as("top_word_n"))
    // bigrams: empty below 2 words (sequence(1,0) generates DESCENDING
    // in Spark — must guard, not rely on an empty range). zip_with over
    // two slices, NOT transform(sequence, i -> element_at(ws, i)):
    // referencing ws inside the lambda body lets CollapseProject inline
    // the filter(split(...)) there, re-running the regex split once per
    // BIGRAM (measured 10s for 5000 docs); zip_with's lambda touches
    // only its element variables, so ws is evaluated once per row.
    val big = docs
      .withColumn("bs", expr(
        """CASE WHEN size(ws) < 2 THEN CAST(array() AS array<string>)
          |ELSE zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
          |  (a, b) -> concat(a, ' ', b)) END""".stripMargin))
      .select($"doc_id", explode($"bs").as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    uni.join(big, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_words", $"n_distinct_words", $"top_word_n",
        expr("(top_word_n * 1000) div nullif(n_words, 0)").as("top_word_permille"),
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_bigrams" - $"n_distinct_bigrams", lit(0L)).as("n_dup_bigrams"),
        expr("((n_bigrams - n_distinct_bigrams) * 1000) div nullif(n_bigrams, 0)")
          .as("dup_bigram_permille"))
      .orderBy($"doc_id")
  }

  /** Integer quality score shared by the budget/binning operators:
    * stop-word hits dominate (×100000), mean word length breaks ties —
    * deterministic, NULL-free (empty docs score their stop_hits). */
  private def scoreCol: Column =
    col("stop_hits") * 100000L + coalesce(col("mean_wlen_permille"), lit(0L))

  /** Greedy token-budget selection — the "fill 100B tokens with the
    * best documents" curation step: order the corpus by quality score
    * (descending, doc_id tiebreak) and select the prefix whose
    * cumulative token count fits the budget.
    *
    * The global running sum is a DISTRIBUTED prefix sum, not a
    * single-partition window: docs split into score BANDS (stop_hits —
    * the score's dominant term, so band order equals score order);
    * per-band token totals are a tiny aggregate whose running offsets
    * broadcast back, and each doc's cumulative count is its band
    * offset plus a window WITHIN the band. No stage ever sees the
    * whole corpus in one partition — the textbook scalable cumsum. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 15000L
    val scored = withQualityGate(Tables.load(spark, dir, "documents"))
      .select($"doc_id", $"n_words", scoreCol.as("score"), $"stop_hits".as("band"))
    val bandTotals = scored.groupBy($"band").agg(sum($"n_words").as("band_tokens"))
    val wBand = Window.orderBy($"band".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandTotals // one row per distinct stop_hits value — tiny
      .withColumn("offset", coalesce(sum($"band_tokens").over(wBand), lit(0L)))
      .select($"band", $"offset")
    val wDoc = Window.partitionBy($"band").orderBy($"score".desc, $"doc_id")
    scored.join(broadcast(offsets), Seq("band"))
      .withColumn("cum_tokens", $"offset" + sum($"n_words").over(wDoc))
      .select($"doc_id", $"score", $"n_words", $"cum_tokens",
        ($"cum_tokens" <= budget).as("selected"))
      .orderBy($"doc_id")
  }

  /** Per-language quality quintiles with token mass per bin — the
    * mixing-prep summary ("how many tokens live in each quality band
    * of each language"). One shuffle on lang for the ntile window
    * (languages partition the corpus, so no global sort), one
    * map-side-combined aggregate. */
  def qQualityBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = withQualityGate(Tables.load(spark, dir, "documents"))
      .select($"doc_id", $"lang", $"n_words", scoreCol.as("score"))
    val w = Window.partitionBy($"lang").orderBy($"score".desc, $"doc_id")
    scored.withColumn("bin", ntile(5).over(w))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("sum_tokens"),
        min($"score").as("min_score"), max($"score").as("max_score"))
      .select($"lang", $"bin".cast("long").as("bin"), $"n_docs",
        $"sum_tokens", $"min_score", $"max_score")
      .orderBy($"lang", $"bin")
  }

  /** Deterministic ~10% corpus sample: md5 of a salted key, first hex
    * byte < 0x1a (26/256 ≈ 10.2%). A pure function of the row key —
    * stable under re-runs, shards and corpus growth (adding documents
    * never reselects existing ones), zero shuffle, and trivially
    * repartition-safe at 100 TB (contrast with rand()-based sampling,
    * which is neither deterministic nor replay-stable). */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .filter(substring(md5(concat(lit("smp|"), $"doc_id".cast("string")).cast("binary")), 1, 2) < "1a")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  /** Stratified deterministic subset: top-20 per language by salted
    * md5 order — the "N examples per stratum" eval-set builder. One
    * shuffle on the stratum key; rank cutoff is a per-partition top-k
    * (WindowGroupLimit pushes the k=20 limit below the sort at scale). */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rk = md5(concat(lit("strat|"), $"doc_id".cast("string")).cast("binary"))
    Tables.load(spark, dir, "documents")
      .withColumn("rk", rk)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"lang").orderBy($"rk", $"doc_id")))
      .filter($"rn" <= 20)
      .select($"doc_id", $"lang", $"rn")
      .orderBy($"lang", $"rn")
  }

  /** Canonicalization dedup (the C4 normalize-then-hash step):
    * lowercase, strip non-alphanumerics, collapse whitespace, digest,
    * group. One shuffle on the normalized fingerprint — identical cost
    * shape to exact dedup; catches whitespace/punctuation-only
    * near-copies that byte-exact dedup misses. */
  def qDedupNorm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .withColumn("norm", trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), "\\s+", " ")))
      .groupBy(md5($"norm".cast("binary")).as("norm_fp"))
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_doc_id"))
      .orderBy($"canonical_doc_id")
  }

  /** Ordered funnel over the event stream: first view, first click at
    * or after it, first purchase at or after that, per user. The three
    * chained window minima share ONE user_id exchange (no orderBy in
    * the frame, so no per-stage sort either); the per-user rollup then
    * reads exchange-local data. */
  /** Per-user ordered funnel epochs (first view, first click at-or-
    * after it, first purchase at-or-after that) — ONE definition shared
    * by the stage rollup ([[qFunnel]]) and the latency distribution
    * ([[qFunnelLatency]]). */
  private def funnelEpochs(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    df.withColumn("us", unix_micros(col("ts")))
      .withColumn("v_ep", min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("c_ep",
        min(when(col("event_type") === "click" && col("us") >= col("v_ep"),
          col("us"))).over(w))
      .withColumn("p_ep",
        min(when(col("event_type") === "purchase" && col("us") >= col("c_ep"),
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v_ep")).as("view_ep"), max(col("c_ep")).as("click_ep"),
        max(col("p_ep")).as("purchase_ep"))
  }

  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    funnelEpochs(Tables.load(spark, dir, "events"))
      .select($"user_id", $"view_ep", $"click_ep", $"purchase_ep",
        when($"purchase_ep".isNotNull, 3)
          .when($"click_ep".isNotNull, 2)
          .when($"view_ep".isNotNull, 1)
          .otherwise(0).as("stage"))
      .orderBy($"user_id")
  }

  /** The funnel with a CONVERSION DEADLINE — the definition product
    * analytics actually uses ("purchased within 7 days of first
    * view"): each user's stage counts only transitions that happened
    * within `deadline` of the funnel-ordered first view. Reuses
    * [[funnelEpochs]] verbatim; the deadline is a pure per-row
    * predicate on the epoch columns, so the plan is the funnel's
    * plan. Emits the per-stage user counts and conversion rates
    * (ppm of stage-1 entrants) — the numbers a funnel chart plots. */
  def qFunnelDeadline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deadlineUs = 7L * 24 * 3600 * 1000000L
    val staged = funnelEpochs(Tables.load(spark, dir, "events"))
      .select($"user_id", $"view_ep",
        when($"click_ep" - $"view_ep" <= deadlineUs, $"click_ep").as("c_ok"),
        when($"purchase_ep" - $"view_ep" <= deadlineUs, $"purchase_ep").as("p_ok"))
      .select($"user_id",
        when($"p_ok".isNotNull && $"c_ok".isNotNull, 3)
          .when($"c_ok".isNotNull, 2)
          .when($"view_ep".isNotNull, 1)
          .otherwise(0).as("stage"))
    val counts = staged.groupBy($"stage").agg(count(lit(1)).as("n_users"))
    val entered = counts.filter($"stage" >= 1).agg(sum($"n_users").as("n_entered"))
    counts.crossJoin(broadcast(entered))
      .withColumn("reached", // users at or past this stage
        sum($"n_users").over(org.apache.spark.sql.expressions.Window
          .orderBy($"stage".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rate_ppm",
        expr("CASE WHEN stage = 0 THEN cast(0 as bigint)"
          + " ELSE (reached * 1000000) div n_entered END"))
      .select($"stage", $"n_users", $"reached", $"n_entered", $"rate_ppm")
      .orderBy($"stage")
  }

  /** Funnel time-to-convert distribution: whole-funnel latency
    * (first view → the funnel-ordered first purchase) in whole
    * seconds for every converted user, summarized as count / min /
    * exact median / exact p90 / max. Percentiles use the value-count
    * ranking pattern (distinct-second frame with cumulative counts via
    * [[graft.operators.BandedRank]] hour-bands — the distinct-second
    * frame grows with the corpus time span, so the cum is the banded
    * distributed prefix sum, never a global-order window); p90 is the
    * value at integer rank
    * `ceil(9n/10) = (9n+9) div 10`, median averages ranks
    * `(n+1) div 2` and `n div 2 + 1` — both replayed verbatim in the
    * oracle CTE so no engine quantile-interpolation convention is
    * involved.
    *
    * Zero-conversion contract (r11 → banded rewrite): the global
    * `.agg` returns ONE all-null row when no user converted (the old
    * groupBy("__g") form returned zero rows). This matches ANSI — a
    * grand aggregate over an empty input is one row of nulls — so the
    * DuckDB oracle agrees by construction. */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lat = funnelEpochs(Tables.load(spark, dir, "events"))
      .filter($"purchase_ep".isNotNull)
      .select(expr("(purchase_ep - view_ep) div 1000000").as("sec"))
    val g = lat.groupBy($"sec".as("__v")).agg(count(lit(1)).as("c"))
    val n = g.agg(sum($"c").as("n"))
    val vc = graft.operators.BandedRank
      .inclusiveCum(g, "__v", "c", 3600L, "cum")
      .crossJoin(broadcast(n))
    def rankValue(rank: Column): Column =
      max(when($"cum" - $"c" < rank && rank <= $"cum", $"__v"))
    vc.agg(max($"n").as("n_converted"),
        min($"__v").as("min_sec"), max($"__v").as("max_sec"),
        ((rankValue(expr("(n + 1) div 2")) + rankValue(expr("n div 2 + 1"))) / 2)
          .as("median_sec"),
        rankValue(expr("(9 * n + 9) div 10")).as("p90_sec"))
      .select($"n_converted", $"min_sec", $"max_sec", $"median_sec", $"p90_sec")
  }

  /** Source-weighted data mixing — the "mixture weights" step of every
    * pretraining recipe: each source keeps a deterministic fraction of
    * its documents (here 900‰ for up-weighted sources, 500‰ mid, 200‰
    * down-weighted) via the same salted-hash rule as qSampleHash, so
    * the mix is replay/shard/growth-stable. The per-doc keep decision
    * is a pure scan-speed expression; this query reports the per-source
    * audit (docs in, docs kept) — one map-side-combined rollup. */
  /** Last-touch attribution: every purchase credits the user's most
    * recent PRIOR non-purchase event (strict event-time order, micro
    * epoch + event_id tiebreak); purchases with no prior touch fall in
    * the 'direct' bucket. Revenue sums in exact DECIMAL, cast to
    * double once.
    *
    * Scale shape: ONE shuffle on user_id for the running last_value
    * window (frames are per-user, so no whole-table window), then the
    * tiny per-touch-type aggregate. Linear in events at any scale. */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros($"ts"))
      .withColumn("touch",
        last(when($"event_type" =!= "purchase", $"event_type"), ignoreNulls = true)
          .over(w))
      .filter($"event_type" === "purchase")
      .groupBy(coalesce($"touch", lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy($"touch_type")
  }

  /** Deterministic EPOCH SHUFFLE + sharding — how a reproducible
    * dataloader re-orders the corpus each epoch without ever sorting
    * it: a doc's shard for epoch e is a salted hash of (e, doc_id), so
    * (a) the permutation is different every epoch, (b) any shard of
    * any epoch can be re-materialized independently (resume-from-step
    * reproducibility), and (c) nothing is stateful — the assignment is
    * a pure per-row expression, zero shuffle until the audit rollup.
    * Same md5 hex-pair convention as the mix sampler, so the DuckDB
    * oracle replays the arithmetic exactly. Output: per (epoch, shard)
    * doc and char mass — the balance audit a dataloader checks before
    * trusting hash sharding. */
  def qEpochShard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hx = "substring(md5(cast(concat('ep', cast(epoch as string), '|', " +
      "cast(doc_id as string)) as binary)), 1, 2)"
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars", explode(array(lit(0L), lit(1L))).as("epoch"))
      .withColumn("hv", expr(
        s"(instr('0123456789abcdef', substring($hx, 1, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substring($hx, 2, 1)) - 1)"))
      .withColumn("shard", expr("hv % 32").cast("long"))
      .groupBy($"epoch", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"epoch", $"shard")
  }

  /** FEATURE-HASHING COLLISION AUDIT (the "hashing trick",
    * Weinberger et al. 2009, public paper): before committing to a
    * 2^k hashed feature space, measure what it destroys — distinct
    * vocabulary per bucket, the occupancy histogram, and the collision
    * rate (1 − used/vocab). Buckets come from the md5 hex-pair
    * convention (engine-portable — xxhash64 has no DuckDB twin) over
    * 1024 buckets. One vocab combine + one bucket combine, both on
    * the distinct-token frame. */
  def qFeatureHashAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hx = "substring(md5(cast(concat('fh|', token) as binary)), 1, 3)"
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("token"))
      .filter(length($"token") > 0).distinct()
      .withColumn("bucket", expr(
        s"((instr('0123456789abcdef', substring($hx, 1, 1)) - 1) * 256 + " +
          s"(instr('0123456789abcdef', substring($hx, 2, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substring($hx, 3, 1)) - 1)) % 1024"))
    val occ = vocab.groupBy($"bucket").agg(count(lit(1)).as("n_tokens"))
    occ.groupBy($"n_tokens".as("occupancy"))
      .agg(count(lit(1)).as("n_buckets"))
      .crossJoin(broadcast(occ.agg( // 1-row audit totals
        sum($"n_tokens").as("vocab_size"),
        count(lit(1)).as("buckets_used"),
        max($"n_tokens").as("max_bucket"))))
      .select($"occupancy", $"n_buckets", $"vocab_size", $"buckets_used",
        expr("((vocab_size - buckets_used) * 1000000) div vocab_size")
          .as("collision_ppm"), $"max_bucket")
      .orderBy($"occupancy")
  }

  /** BOTTOM-K SAMPLE per language: the k = 5 docs with the smallest
    * md5 rank — a bottom-k sketch IS a uniform sample that MERGES by
    * keeping the k smallest (union of shards/days/corpora = take k
    * smallest again), the property reservoir sampling lacks; the same
    * priority makes the sample replay/shard/growth-stable like every
    * hash decision in this module. One rank window per language
    * partition over the doc-key frame. */
  /** NEYMAN OPTIMAL ALLOCATION for stratified sampling (Neyman 1934 —
    * the classical survey-design result): a fixed labeling/eval budget
    * split across sources ∝ N_h·σ_h beats proportional allocation
    * whenever strata variances differ — high-variance sources deserve
    * more of the sample. Integral: N_h·σ_h = √(N_h·Σx² − S_h²) exactly
    * (the ×N² variance identity), computed by the 26-step integer-sqrt
    * fold (`Relational.isqrtFold` — D_h reaches ~10¹⁴ at corpus
    * scale); allocations are budget·w_h div Σw with the 1-row total
    * broadcast. Emitted next to the proportional split so the report
    * shows exactly where the two designs disagree. One source-keyed
    * combine; |sources| rows after. */
  def qSampleNeyman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 1000L
    val g = Tables.load(spark, dir, "documents")
      .select($"source",
        size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("x"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_h"), sum($"x").as("s_h"),
        sum($"x" * $"x").as("q_h"))
      .withColumn("w_h", expr(
        graft.queries.Relational.isqrtFold("n_h * q_h - s_h * s_h", steps = 26)))
    val tot = g.agg(sum($"w_h").as("w_tot"), sum($"n_h").as("n_tot"))
    g.crossJoin(broadcast(tot))
      .select($"source", $"n_h", $"w_h",
        expr(s"CASE WHEN w_tot > 0 THEN ($budget * w_h) div w_tot END")
          .as("neyman_alloc"),
        expr(s"($budget * n_h) div n_tot").as("proportional_alloc"))
      .withColumn("shift", $"neyman_alloc" - $"proportional_alloc")
      .orderBy($"source")
  }

  /** SOURCE-ABLATION REPORT — the "what does dropping this source do"
    * table a curation decision actually reads (exact leave-one-
    * source-out, the cheap member of the data-valuation family): for
    * each source, the corpus mean document length and the exact-dup
    * volume recomputed WITHOUT that source, next to the full-corpus
    * baselines. The dup math avoids any |sources| × |fingerprints|
    * grid: with contrib(x) = x·[x ≥ 2] (docs in a duplicate group of
    * size x), dup_without(s) = dup_all − Σ_{fp touched by s}
    * (contrib(cnt) − contrib(cnt − cnt_s)) — one fingerprint-keyed
    * shuffle, one (fp, source) combine, 1-row baseline broadcasts.
    * Fingerprints are `Dedup.headFingerprint` (shared definition). */
  def qSourceAblation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"source",
        graft.dedup.Dedup.headFingerprint($"text").as("fp"),
        size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("n_words"))
    val perSrc = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("w_sum"))
    val tot = perSrc.agg(sum($"n_docs").as("n_all"), sum($"w_sum").as("w_all"))
    val fpSrc = docs.groupBy($"fp", $"source").agg(count(lit(1)).as("c_s"))
    val fpCnt = fpSrc.groupBy($"fp").agg(sum($"c_s").as("cnt"))
    val dupAll = fpCnt.agg(
      sum(expr("if(cnt >= 2, cnt, 0L)")).as("dup_all"))
    val deltas = fpSrc.join(fpCnt, Seq("fp"))
      .groupBy($"source")
      .agg(sum(expr(
        "if(cnt >= 2, cnt, 0L) - if(cnt - c_s >= 2, cnt - c_s, 0L)"))
        .as("dup_delta"))
    perSrc.join(deltas, Seq("source"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(dupAll))
      .select($"source", $"n_docs",
        expr("(w_all * 1000) div n_all").as("mean_words_milli_all"),
        expr("""CASE WHEN n_all > n_docs
               |THEN ((w_all - w_sum) * 1000) div (n_all - n_docs) END"""
          .stripMargin).as("mean_words_milli_without"),
        expr("(dup_all * 1000) div n_all").as("dup_permille_all"),
        ($"dup_all" - $"dup_delta").as("dup_docs_without"),
        expr("""CASE WHEN n_all > n_docs
               |THEN ((dup_all - dup_delta) * 1000) div (n_all - n_docs) END"""
          .stripMargin).as("dup_permille_without"))
      .orderBy($"source")
  }

  /** The bottom-k sampling priority of [[sampleBottomK]]: a hash of
    * the doc id, so a sample drawn from any union of corpus parts is
    * the bottom-k of the parts' bottom-ks. */
  private[graft] def bottomKPri =
    expr("md5(cast(concat('bk|', cast(doc_id as string)) as binary))")

  def qSampleBottomK(spark: SparkSession, dir: String): DataFrame =
    sampleBottomK(Tables.load(spark, dir, "documents"))

  /** Core of [[qSampleBottomK]] over any (lang, doc_id) frame. */
  private[graft] def sampleBottomK(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"lang")
      .orderBy($"pri", $"doc_id")
    docs
      .select($"lang", $"doc_id", bottomKPri.as("pri"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"lang", $"rank", $"doc_id", $"pri")
      .orderBy($"lang", $"rank")
  }

  /** MIXTURE REBALANCE (water-filling to a target): the sampling rates
    * that move the corpus toward a UNIFORM per-language share subject
    * to availability — a language short of its target keeps everything
    * (rate capped at 100%, deficit reported) while over-represented
    * ones downsample; the capacity-constrained complement to the
    * weight/temperature samplers (which reweight but never confront
    * "there isn't enough Basque"). Pure arithmetic on the |langs|-row
    * availability frame + a 1-row total broadcast. */
  def qMixRebalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val avail = Tables.load(spark, dir, "documents")
      .groupBy($"lang").agg(count(lit(1)).as("available"))
    val tot = avail.agg(sum($"available").as("n_total"),
      count(lit(1)).as("n_langs"))
    avail.crossJoin(broadcast(tot)) // 1-row totals onto the langs frame
      .withColumn("target", expr("n_total div n_langs"))
      .withColumn("sample_rate_ppm",
        expr("least(1000000L, (target * 1000000) div available)"))
      .withColumn("expected_docs",
        expr("(available * sample_rate_ppm) div 1000000"))
      .select($"lang", $"available", $"target", $"sample_rate_ppm",
        $"expected_docs",
        expr("greatest(0L, target - expected_docs)").as("deficit"))
      .orderBy($"lang")
  }

  /** Multiplicative-weights iterations and learning rate (ppm) of the
    * DoReMi-shaped mixture optimizer — fixed, so the fit is a
    * deterministic function of the per-source losses in both
    * engines. */
  private[graft] val DoremiIters = 8
  private[graft] val DoremiEtaPpm = 500000L

  /** DOREMI-SHAPED MIXTURE REWEIGHTING — the iterative complement of
    * the static mix family (weights/temperature/rebalance): following
    * DoReMi's structure (Xie et al. 2023 — upweight domains with
    * excess loss) with the linearized multiplicative-weights update
    * (Arora–Hazan–Kale):
    * w_i ← w_i · (1 + η·(loss_i − Σw·loss/Σw)), normalized to
    * Σw = M·1e6 and clamped ≥ 1 each round. The per-source "excess
    * loss" proxy is the type–token ratio in ppm (more novel token
    * mass = the domain a compressed model underfits — the DSIR/rarity
    * machinery's convention). The corpus-sized work is ONE
    * (source, token) distinct rollup; the T = 8 iterations run
    * driver-side on the collected ≤ |sources|-row frame (the
    * bounded-metadata collect pattern of the Bradley–Terry fit) in
    * pure integer arithmetic, replayed by the oracle as unrolled
    * MATERIALIZED CTEs. */
  def qMixDoremi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val loss = graft.SessionCache.checkpointed(spark, s"quality.doremi|$dir") {
      Tables.load(spark, dir, "documents")
        .select($"source", $"doc_id", explode(split($"text", " ")).as("t"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct($"t").as("n_types"),
          count_distinct($"doc_id").as("n_docs"))
        .withColumn("loss_ppm", expr("(n_types * 1000000) div n_tokens"))
    }
    val rows = loss.select($"source", $"loss_ppm").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val m = rows.length
    var w = rows.map(_._1 -> 1000000L).toMap
    for (_ <- 0 until DoremiIters) {
      val sumW = rows.map(r => w(r._1)).sum
      val mean = rows.map(r => w(r._1) * r._2).sum / sumW
      val raw = rows.map { case (s, l) =>
        s -> math.max(1L,
          w(s) * (1000000L + DoremiEtaPpm * (l - mean) / 1000000L) / 1000000L)
      }.toMap
      val tot = raw.values.sum
      w = raw.map { case (s, v) => s -> math.max(1L, v * (m * 1000000L) / tot) }
    }
    val weights = rows.map { case (s, _) => (s, w(s)) }.toSeq
      .toDF("source", "weight_x1e6")
    loss.join(broadcast(weights), Seq("source"))
      .select($"source", $"n_docs", $"n_tokens", $"n_types", $"loss_ppm",
        $"weight_x1e6")
      .orderBy($"source")
  }

  /** KOLMOGOROV–SMIRNOV divergence between sources over the
    * document-length distribution — "is source X drawing from a
    * different regime than source Y" with an exact statistic, no
    * binning choice to argue about (the histogram-drift monitor needs
    * bins; KS is the bin-free complement). D = max_v |CDF_a(v) −
    * CDF_b(v)|, kept integral as max |cum_a·n_b − cum_b·n_a| with the
    * ·10⁶ div (n_a·n_b) applied once at the end.
    *
    * Shape: the corpus shrinks to the (source, value) count frame in
    * one combine; the densified grid, cumulative window and pair max
    * all run on that tiny frame (|sources| · |distinct lengths|). */
  def qKsSources(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val vc = docs.groupBy($"source", $"n_chars".as("v"))
      .agg(count(lit(1)).as("c"))
    val vals = vc.select($"v").distinct()
    val srcN = vc.groupBy($"source").agg(sum($"c").as("n"))
    val grid = vals.crossJoin(broadcast(srcN)) // tiny × tiny grid
      .join(vc, Seq("source", "v"), "left_outer")
      .withColumn("c", coalesce($"c", lit(0L)))
    val wCum = Window.partitionBy($"source").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum", sum($"c").over(wCum))
      .select($"source", $"n", $"v", $"cum")
    val a = cum.select($"source".as("source_a"), $"n".as("n_a"),
      $"v", $"cum".as("cum_a"))
    val b = cum.select($"source".as("source_b"), $"n".as("n_b"),
      $"v", $"cum".as("cum_b"))
    a.join(b, Seq("v")).filter($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b", $"n_a", $"n_b")
      .agg(max(abs($"cum_a" * $"n_b" - $"cum_b" * $"n_a")).as("d_num"))
      .select($"source_a", $"source_b", $"n_a", $"n_b",
        expr("(d_num * 1000000) div (n_a * n_b)").as("ks_ppm"))
      .orderBy($"source_a", $"source_b")
  }

  /** TEMPLATE DETECTION: instruction/boilerplate corpora explode into
    * thousands of docs sharing one opening template — invisible to
    * exact dedup (suffixes differ) and diluted in MinHash (shared
    * prefix is a small Jaccard fraction of a long doc). Cluster on the
    * first-5-token prefix, report clusters of ≥ 3 docs with corpus
    * share and source spread — the "one template is 4% of the corpus"
    * red flag. One map-side prefix expression + one combine; the 1-row
    * corpus total broadcasts onto the cluster frame. */
  def qTemplateDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("prefix",
        expr("array_join(slice(split(text, ' '), 1, 5), ' ')"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    docs.groupBy($"prefix")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        min($"doc_id").as("example_doc"))
      .filter($"n_docs" >= 3)
      .crossJoin(broadcast(tot)) // 1-row total onto the cluster frame
      .select($"prefix", $"n_docs", $"n_sources", $"example_doc",
        expr("(n_docs * 1000000) div n_total").as("share_ppm"))
      .orderBy($"n_docs".desc, $"prefix")
  }

  /** SHUFFLE-QUALITY AUDIT of the epoch shards: hash sharding balances
    * MASS ([[qEpochShard]]'s audit) but a dataloader also needs the
    * within-shard READ ORDER to mix sources — adjacent same-source
    * runs turn into correlated gradient batches. Per (epoch, shard),
    * order docs by the deterministic shuffle key (the epoch-shard md5
    * convention, 'sh' salt) and measure the adjacent-pair same-source
    * rate against the rate a perfect within-shard shuffle would give
    * from that shard's own composition (Σ nₛ(nₛ−1) / n(n−1), exact
    * ppm). One window per (epoch, shard) partition — no corpus-wide
    * sort — plus two combines on the shard-sized frames. */
  def qShardShuffleAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hx = "substring(md5(cast(concat('ep', cast(epoch as string), '|', " +
      "cast(doc_id as string)) as binary)), 1, 2)"
    val assigned = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", explode(array(lit(0L), lit(1L))).as("epoch"))
      .withColumn("hv", expr(
        s"(instr('0123456789abcdef', substring($hx, 1, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substring($hx, 2, 1)) - 1)"))
      .withColumn("shard", expr("hv % 32").cast("long"))
      .withColumn("okey", expr(
        "md5(cast(concat('sh', cast(epoch as string), '|', " +
          "cast(doc_id as string)) as binary))"))
    val w = Window.partitionBy($"epoch", $"shard").orderBy($"okey", $"doc_id")
    val adj = assigned
      .withColumn("prev_src", lag($"source", 1).over(w))
      .groupBy($"epoch", $"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"source" === $"prev_src", 1L).otherwise(0L)).as("adj_same"))
    val comp = assigned.groupBy($"epoch", $"shard", $"source")
      .agg(count(lit(1)).as("ns"))
      .groupBy($"epoch", $"shard")
      .agg(sum(expr("ns * (ns - 1)")).as("pair_same"))
    adj.join(comp, Seq("epoch", "shard"))
      .select($"epoch", $"shard", $"n_docs", $"adj_same",
        when($"n_docs" > 1,
          expr("(adj_same * 1000000) div (n_docs - 1)")).otherwise(0L)
          .as("same_ppm"),
        when($"n_docs" > 1,
          expr("(pair_same * 1000000) div (n_docs * (n_docs - 1))"))
          .otherwise(0L).as("expected_ppm"))
      .orderBy($"epoch", $"shard")
  }

  /** CURRICULUM SCHEDULE (Bengio et al. 2009 — public paper): the
    * dataloader-prep step that orders training so the cleanest
    * documents come first — every doc gets its exact global quality
    * rank (score desc, doc_id tiebreak; the SHARED scoreCol, so the
    * curriculum cannot disagree with the budget/binning operators), a
    * curriculum stage = its rank quartile (stage 1 trains first), and
    * a deterministic within-stage shuffle key (the epoch-shard md5
    * convention — consumers sort by it; different salt per stage so
    * stage boundaries don't correlate with the shuffle).
    *
    * The global rank is the DISTRIBUTED band prefix sum shared with
    * qTokenBudget: docs band on stop_hits (the score's dominant term,
    * so band order == score order), per-band counts broadcast back as
    * offsets, rank = offset + within-band row_number — no corpus-sized
    * single-partition window anywhere. */
  def qCurriculum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = withQualityGate(Tables.load(spark, dir, "documents"))
      .select($"doc_id", scoreCol.as("score"), $"stop_hits".as("band"))
    val bandCounts = scored.groupBy($"band").agg(count(lit(1)).as("bn"))
    val wBand = Window.orderBy($"band".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandCounts // one row per distinct stop_hits — tiny
      .withColumn("offset", coalesce(sum($"bn").over(wBand), lit(0L)))
      .select($"band", $"offset")
    val total = scored.agg(count(lit(1)).as("n_total"))
    val wDoc = Window.partitionBy($"band").orderBy($"score".desc, $"doc_id")
    scored.join(broadcast(offsets), Seq("band"))
      .crossJoin(broadcast(total))
      .withColumn("global_rank", $"offset" + row_number().over(wDoc))
      .withColumn("stage", expr("((global_rank - 1) * 4) div n_total + 1"))
      .select($"doc_id", $"score", $"global_rank", $"stage",
        expr("md5(cast(concat('cur', cast(stage as string), '|', " +
          "cast(doc_id as string)) as binary))").as("shuffle_key"))
      .orderBy($"doc_id")
  }

  private[graft] val KAnonThreshold = 10L

  /** k-anonymity release audit — the privacy gate run before any
    * derived dataset ships: group sizes over the quasi-identifier
    * tuples an attacker could join on, at TWO generalization levels of
    * the lattice ((nation, segment) and its coarsening (region,
    * segment)), with the k≥10 verdict per cell. Cells failing at the
    * finer level but passing at the coarser one are exactly the rows a
    * release generalizes rather than suppresses — the audit emits both
    * levels so that decision is mechanical. Complements the PII scrub
    * (row content) with membership-disclosure protection (row counts).
    * Shape: one broadcast dim join + two map-side-combined rollups of
    * dim-bounded width. */
  def qKanonAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .join(broadcast(Tables.load(spark, dir, "nation")
        .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
    val fine = c.groupBy($"n_name".as("key1"), $"c_mktsegment".as("key2"))
      .agg(count(lit(1)).as("n"))
      .select(lit("nation_segment").as("level"), $"key1", $"key2", $"n")
    val coarse = c.groupBy($"n_regionkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .select(lit("region_segment").as("level"),
        $"n_regionkey".cast("string").as("key1"),
        $"c_mktsegment".as("key2"), $"n")
    fine.unionByName(coarse)
      .withColumn("k_ok", $"n" >= KAnonThreshold)
      .orderBy($"level", $"key1", $"key2")
  }

  /** L-DIVERSITY AUDIT — k-anonymity's necessary companion (Machanavajjhala
    * 2007, public): a quasi-identifier group can be k-large yet leak
    * everything if all its members share one sensitive value. Same two
    * generalization levels as [[qKanonAudit]] (nation×segment,
    * region×segment — shared grouping definition), sensitive attribute
    * = the customer's order-priority profile: per group, group size,
    * number of DISTINCT sensitive values (l), the dominant value's
    * share in ppm, and the l ≥ 3 verdict. One join to attach the
    * sensitive value, one (level, group, sensitive) combine, one group
    * rollup — the k-anon plan plus one aggregation stage. */
  def qLdiversityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // sensitive value: the customer's modal order priority (their
    // behavioral profile — what a linker would learn)
    val sens = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"o_custkey")
      .agg(max_by($"o_orderpriority", struct($"cnt", $"o_orderpriority"))
        .as("sensitive"))
    val c = Tables.load(spark, dir, "customer")
      .join(broadcast(Tables.load(spark, dir, "nation")
        .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .join(sens, $"c_custkey" === $"o_custkey")
    def audit(level: String, k1: Column, k2: Column): DataFrame = {
      val cell = c.groupBy(k1.as("key1"), k2.as("key2"), $"sensitive")
        .agg(count(lit(1)).as("ns"))
      cell.groupBy($"key1", $"key2")
        .agg(sum($"ns").as("n"), count(lit(1)).as("l_distinct"),
          max($"ns").as("dom_n"))
        .select(lit(level).as("level"), $"key1", $"key2", $"n",
          $"l_distinct", expr("(dom_n * 1000000) div n").as("dom_share_ppm"),
          when($"l_distinct" >= 3, "Y").otherwise("N").as("l_ok"))
    }
    audit("nation_segment", $"n_name", $"c_mktsegment")
      .unionByName(audit("region_segment",
        $"n_regionkey".cast("string"), $"c_mktsegment"))
      .orderBy($"level", $"key1", $"key2")
  }

  /** Corpus datasheet — the "datasheets for datasets" summary every
    * released training corpus ships with, as ONE composed rollup per
    * (source, lang): document and token counts, quality-gate pass rate,
    * exact-duplicate rate (head-fingerprint multiplicity ≥ 2 anywhere
    * in the corpus — the [[graft.dedup.Dedup.qDedupIncremental]] key),
    * and mean integer quality score. Every metric reuses the SHARED
    * definition of its standalone operator ([[withQualityGate]],
    * [[scoreCol]], `Dedup.headFingerprint`), so the datasheet cannot
    * drift from the operators it summarizes.
    *
    * Shape: one scan computes gate metrics + fingerprint per row, one
    * fp-keyed shuffle counts fingerprint multiplicity (shuffled-hash
    * join back — at 100 TB the fp-count frame is the stored distinct-
    * digest table), one (source, lang) map-side-combined rollup. All
    * rates are exact integer ppm. */
  def qCorpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = withQualityGate(Tables.load(spark, dir, "documents"))
      .withColumn("fp", graft.dedup.Dedup.headFingerprint($"text"))
      .select($"doc_id", $"source", $"lang", $"n_words", $"quality_pass",
        scoreCol.as("score"), $"fp")
    val fpc = g.groupBy($"fp").agg(count(lit(1)).as("fpn"))
    g.join(fpc.hint("shuffle_hash"), Seq("fp"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("sum_words"),
        sum(when($"quality_pass", 1L).otherwise(0L)).as("n_pass"),
        sum(when($"fpn" > 1, 1L).otherwise(0L)).as("n_dup"),
        sum($"score").as("score_sum"))
      .select($"source", $"lang", $"n_docs", $"sum_words",
        expr("(n_pass * 1000000) div n_docs").as("gate_pass_ppm"),
        expr("(n_dup * 1000000) div n_docs").as("dup_ppm"),
        expr("score_sum div n_docs").as("mean_score"))
      .orderBy($"source", $"lang")
  }

  /** Position-based (U-shaped) MULTI-touch attribution — the sibling of
    * [[qAttribution]]'s last-touch rule: every purchase splits one full
    * credit (10⁶ ppm) across ALL its preceding touches since the prior
    * purchase — 40% to the first touch, 40% to the last, the remaining
    * 20% shared by the middles (k=1 → 100%, k=2 → 50/50). Credits are
    * exact integer ppm: the middle share is `200000 div (k−2)` with the
    * division remainder assigned to the EARLIEST middle, so every
    * purchase's credits sum to exactly 10⁶ (QualitySpec proves the
    * conservation; attributed value is credit·cents, exact microcents).
    *
    * Touch→purchase assignment avoids any ordered self-join: `pgrp` =
    * the running count of purchases from this event to the end of the
    * user's history (one reverse-frame window) — a touch and the
    * purchase it precedes share (user_id, pgrp). Shape: two user-keyed
    * window exchanges + one co-keyed join + a |event_types|-row
    * rollup; per-purchase touch groups are bounded by a user's
    * inter-purchase activity, never by corpus size. At 100 TB the
    * microcent sums outgrow BIGINT, so the value aggregate is carried
    * in DECIMAL(38,0). */
  /** The touch channels of the Markov attribution model — the event
    * types that can precede a first purchase. Shared literal with the
    * oracle generator. */
  private[graft] val MarkovChannels = Seq("click", "error", "signup", "view")

  /** Horizon of the K-touch absorption iteration — conversion
    * probability within K further touches. A bounded horizon (instead
    * of solving the absorbing chain to fixed point) keeps the
    * arithmetic exactly replayable and is itself a standard, honest
    * readout ("how likely to convert within 8 touches"). */
  private[graft] val MarkovSteps = 8

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014, public —
    * the data-driven alternative to position rules): model journeys as
    * a first-order chain over touch channels, estimate K-touch
    * conversion probability from 'start', then re-estimate with each
    * channel REMOVED (its incoming transitions redirected to the null
    * absorber, its outgoing dropped); a channel's credit is its share
    * of total removal effect. Complements [[qAttribution]] (last-touch)
    * and [[qAttrMultitouch]] (position rules) with the model-based
    * member of the family.
    *
    * Journey: each user's events strictly before their FIRST purchase
    * ((ts, event_id) struct order — engine-identical), ending in
    * `conv` if a purchase exists, else `null`. All probabilities in
    * exact integer ppm; the K iterations are broadcast joins over the
    * ≤ |channels|+3-state frames, so everything after the one
    * transition-count shuffle is constant-sized regardless of corpus.
    * The transition table is localCheckpoint-materialized (bounded
    * ephemeral, ≤ 36 rows — SCALE.md policy): the 5 variants × 8
    * iterations would otherwise re-derive the corpus aggregation ~40×
    * through the lazy plan. */
  def qAttrMarkov(spark: SparkSession, dir: String): DataFrame =
    attrMarkov(Tables.load(spark, dir, "events"))

  /** Core of [[qAttrMarkov]] over any (user_id, event_type, ts,
    * event_id) frame — separated so the planted-journey spec can
    * drive it. */
  private[graft] def attrMarkov(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("k", struct($"ts", $"event_id"))
    val firstP = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"k").as("pk"))
    val touches = ev.join(firstP, Seq("user_id"), "left_outer")
      .filter($"event_type" =!= "purchase")
      .filter($"pk".isNull || $"k" < $"pk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val steps = touches
      .withColumn("prev", lag($"event_type", 1).over(w))
      .select(coalesce($"prev", lit("start")).as("s"),
        $"event_type".as("t"))
    val lastTouch = touches.groupBy($"user_id")
      .agg(max_by($"event_type", $"k").as("last_t"))
    val userEnd = ev.select($"user_id").distinct()
      .join(firstP, Seq("user_id"), "left_outer")
      .join(lastTouch, Seq("user_id"), "left_outer")
      .select(coalesce($"last_t", lit("start")).as("s"),
        when($"pk".isNotNull, "conv").otherwise("null").as("t"))
    val trans = steps.unionByName(userEnd)
      .groupBy($"s", $"t").agg(count(lit(1)).as("n"))
    val tot = trans.groupBy($"s").agg(sum($"n").as("tn"))
    val bigT = trans.join(broadcast(tot), Seq("s"))
      .select($"s", $"t", expr("(n * 1000000) div tn").as("tp_ppm"))
    // The 5 variants × MarkovSteps rounds used to run as ~40 in-plan
    // broadcast joins over the ≤36-row transition frame — a 7,800-line
    // physical plan (618 Exchanges) whose cost was pure Catalyst
    // planning + per-round job scheduling, not data (guide §1.2: fix
    // the distributed algorithm; the tail after the one transition
    // shuffle is constant-sized). The rounds now run as higher-order-
    // function folds over the COLLECTED transition array inside one
    // projection on a 1-row frame: `aggregate(sequence(1, K), p0,
    // step)` iterates the probability map at runtime, so the plan
    // holds the step expression once instead of K·variants join trees.
    //
    // Exact-arithmetic equivalence with the join formulation (the
    // DuckDB oracle replays that one):
    //  - step: p'(s) = Σ_{r: r.s = s} tp_ppm·p(r.t) div 10⁶ — the fold
    //    sums the SAME integer products before the one division;
    //    integer addition is order-independent, so collect_list's
    //    nondeterministic order cannot move the result.
    //  - removed-channel variant c: the old code filtered s = c rows
    //    out, remapped t = c to the 'null' absorber, and re-grouped.
    //    Here: p'(c) is pinned to 0 (the filtered rows fed ONLY p'(c),
    //    which the old left-join coalesced to 0), a t = c read scores
    //    0 (= p('null')), and skipping the re-group is distributivity:
    //    (tp₁+tp₂)·p = tp₁·p + tp₂·p exactly in integers, the div
    //    runs after the total sum in both forms.
    //  - 'start' ∈ states whenever trans is non-empty (every user's
    //    first step or end row has s = 'start'), so element_at(p,
    //    'start') is never null on a non-empty corpus; the
    //    size(trans) > 0 filter reproduces the empty-corpus empty
    //    result of the old frame pipeline.
    val bigLong = "CAST(1000000 AS BIGINT)"
    // kstep(rem): p after MarkovSteps rounds with channel `rem`
    // removed (SQL fragment; "CAST(NULL AS STRING)" = full chain —
    // the null-safe <=> comparisons then never match).
    def kstep(rem: String): String =
      s"""element_at(
         |  aggregate(sequence(1, $MarkovSteps),
         |    map_from_entries(transform(states, st0 -> struct(st0,
         |      IF(st0 = 'conv', $bigLong, CAST(0 AS BIGINT))))),
         |    (p, it) -> map_from_entries(transform(states, st -> struct(st,
         |      CASE WHEN st = 'conv' THEN $bigLong
         |           WHEN st = 'null' THEN CAST(0 AS BIGINT)
         |           WHEN st <=> $rem THEN CAST(0 AS BIGINT)
         |           ELSE aggregate(trans, CAST(0 AS BIGINT), (acc, r) ->
         |             acc + IF(r.s = st,
         |               r.tp_ppm * (CASE WHEN r.t <=> $rem
         |                 THEN CAST(0 AS BIGINT)
         |                 ELSE coalesce(element_at(p, r.t), CAST(0 AS BIGINT)) END),
         |               CAST(0 AS BIGINT))) div 1000000
         |      END)))),
         |  'start')""".stripMargin
    val channelsArr =
      MarkovChannels.map(c => s"'$c'").mkString("array(", ", ", ")")
    val one = bigT
      .agg(collect_list(struct($"s", $"t", $"tp_ppm")).as("trans"))
      .where(size($"trans") > 0)
      .withColumn("states", expr(
        "array_distinct(concat(transform(trans, r -> r.s), transform(trans, r -> r.t)))"))
      .select(
        expr(kstep("CAST(NULL AS STRING)")).as("p_full_ppm"),
        expr(s"""transform($channelsArr, ch ->
           |  struct(ch AS channel, ${kstep("ch")} AS p_removed_ppm))"""
          .stripMargin).as("removed"))
    // clamp BEFORE the division: removal can only lower conversion in
    // exact math, but ppm rounding can leave a tiny negative whose
    // truncate-vs-floor division would split the engines. The zero
    // guard keeps a purchase-free corpus (p_full = 0) a valid
    // all-zeros readout instead of an ANSI divide-by-zero.
    one
      .withColumn("re", expr(
        """transform(removed, x -> struct(x.channel AS channel,
          |  x.p_removed_ppm AS p_removed_ppm,
          |  CASE WHEN p_full_ppm > 0 THEN
          |    (greatest(CAST(0 AS BIGINT), p_full_ppm - x.p_removed_ppm) * 1000000)
          |      div p_full_ppm
          |  ELSE CAST(0 AS BIGINT) END AS removal_effect_ppm))""".stripMargin))
      .withColumn("re_total", expr(
        "aggregate(re, CAST(0 AS BIGINT), (a, x) -> a + x.removal_effect_ppm)"))
      .select(explode($"re").as("r"), $"p_full_ppm", $"re_total")
      .select($"r.channel".as("channel"), $"p_full_ppm",
        $"r.p_removed_ppm".as("p_removed_ppm"),
        $"r.removal_effect_ppm".as("removal_effect_ppm"),
        expr("CASE WHEN re_total > 0 THEN (removal_effect_ppm * 1000) div re_total ELSE CAST(0 AS BIGINT) END")
          .as("credit_permille"))
      .orderBy($"channel")
  }

  /** EXACT SHAPLEY-VALUE ATTRIBUTION (Shapley 1953; Zhao et al. 2018,
    * "Shapley Value Methods for Attribution Modeling in Online
    * Advertising" — public recipe): the fourth member of the
    * attribution family, next to [[qAttribution]] (last-touch),
    * [[qAttrMultitouch]] (position rules) and [[qAttrMarkov]]
    * (removal effect). The characteristic function v(S) is the
    * OBSERVED conversion rate (ppm) of journeys whose touched-channel
    * set is exactly S; coalitions never observed read v = 0 (the
    * standard simplification when the coalition data IS the journey
    * log). A channel's Shapley value is the factorial-weighted sum of
    * its marginal contributions v(S∪{c}) − v(S) over the 2^(|C|−1)
    * coalitions excluding it, divided by |C|! — with |C| = 4 the
    * weights |S|!·(3−|S|)! are 6/2/2/6 and sum to 4! = 24 per channel.
    *
    * Journeys share [[qAttrMarkov]]'s definition EXACTLY (shared-
    * definition rule): touches are a user's non-purchase events
    * strictly before the FIRST purchase in (ts, event_id) struct
    * order; conversion = that purchase existing. Shape: ONE user-keyed
    * shuffle builds the per-user (channel-bitmask, converted) frame;
    * the 16-mask v(S) table, the 32-row (channel, coalition) marginal
    * lattice (a literal LocalRelation) and the 1-row credit total are
    * all constant-sized broadcasts, so the tail is corpus-independent.
    * Shapley values can be legitimately negative (a channel that
    * correlates with non-conversion), so the div-24 is sign-split
    * (Spark div truncates, DuckDB // floors — they only agree on
    * non-negatives) and credit shares floor negatives at zero. */
  def qAttrShapley(spark: SparkSession, dir: String): DataFrame =
    attrShapley(Tables.load(spark, dir, "events"))

  /** Core of [[qAttrShapley]] over any (user_id, event_type, ts,
    * event_id) frame — separated so the brute-force reference spec
    * can drive it on planted journeys. */
  private[graft] def attrShapley(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val nCh = MarkovChannels.length
    val bitCase = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1L << i}L" }
      .mkString("CASE event_type ", " ", " ELSE 0L END")
    val ev = events
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("k", struct($"ts", $"event_id"))
    val firstP = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"k").as("pk"))
    val touches = ev.join(firstP, Seq("user_id"), "left_outer")
      .filter($"event_type" =!= "purchase")
      .filter($"pk".isNull || $"k" < $"pk")
    // distinct channel bits per user, then OR-fold as a sum (bits are
    // distinct powers of two, so sum == bitwise or)
    val userMask = touches
      .select($"user_id", expr(bitCase).as("bit"))
      .filter($"bit" > 0L)
      .distinct()
      .groupBy($"user_id").agg(sum($"bit").as("mask"))
    val users = ev.select($"user_id").distinct()
      .join(firstP, Seq("user_id"), "left_outer")
      .join(userMask, Seq("user_id"), "left_outer")
      .select(coalesce($"mask", lit(0L)).as("mask"),
        when($"pk".isNotNull, 1L).otherwise(0L).as("conv"))
    val vObs = users.groupBy($"mask")
      .agg(count(lit(1)).as("n_users"), sum($"conv").as("n_conv"))
    val vAll = spark.range(1L << nCh).select($"id".as("mask"))
      .join(broadcast(vObs), Seq("mask"), "left_outer")
      .select($"mask", coalesce($"n_users", lit(0L)).as("n_users"),
        expr("CASE WHEN n_users > 0 THEN (n_conv * 1000000) div n_users ELSE 0L END")
          .as("v_ppm"))
      // joined twice below (coalition and coalition∪{c} sides) — the
      // bounded-ephemeral materialization (≤ 2^|C| = 16 rows, SCALE.md
      // policy) keeps the user aggregation a single derivation
      .localCheckpoint()
    // the marginal lattice: channel c x coalition m with c not in m;
    // coef = |m|! * (nCh - 1 - |m|)!  (a pure literal — no Spark job)
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val lattice = MarkovChannels.zipWithIndex.flatMap { case (c, i) =>
      (0 until (1 << nCh)).filter(m => (m & (1 << i)) == 0).map { m =>
        val sz = Integer.bitCount(m)
        (c, m.toLong, m.toLong + (1L << i), fact(sz) * fact(nCh - 1 - sz))
      }
    }.toDF("channel", "m0", "m1", "coef")
    val joined = lattice
      .join(broadcast(vAll.select($"mask".as("m0"), $"v_ppm".as("v0"))), Seq("m0"))
      .join(broadcast(vAll.select($"mask".as("m1"), $"v_ppm".as("v1"),
        $"n_users".as("n_with"))), Seq("m1"))
    val phi = joined.groupBy($"channel")
      .agg(sum($"n_with").as("touched_users"),
        sum($"coef" * ($"v1" - $"v0")).as("phi_scaled"))
      .withColumn("shapley_ppm", expr(
        s"CASE WHEN phi_scaled < 0 THEN -((-phi_scaled) div ${fact(nCh)}L) " +
          s"ELSE phi_scaled div ${fact(nCh)}L END"))
    val tot = phi.agg(sum(greatest($"phi_scaled", lit(0L))).as("pos_total"))
    phi.crossJoin(broadcast(tot))
      .select($"channel", $"touched_users", $"shapley_ppm",
        expr("CASE WHEN pos_total > 0 THEN " +
          "(greatest(0L, phi_scaled) * 1000) div pos_total ELSE 0L END")
          .as("credit_permille"))
      .orderBy($"channel")
  }

  def qAttrMultitouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("us"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
    val wNext = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = ev.withColumn("pgrp",
      count(when($"event_type" === "purchase", lit(1))).over(wNext))
    val wPos = Window.partitionBy($"user_id", $"pgrp").orderBy($"us", $"event_id")
    val sized = tagged
      .filter($"event_type" =!= "purchase" && $"pgrp" > 0)
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("k",
        count(lit(1)).over(Window.partitionBy($"user_id", $"pgrp")).cast("long"))
    val credited = sized.withColumn("credit_ppm", expr(
      """CASE WHEN k = 1L THEN 1000000L
        |     WHEN k = 2L THEN 500000L
        |     WHEN pos = 1L OR pos = k THEN 400000L
        |     ELSE (200000L div (k - 2L)) +
        |          if(pos = 2L, 200000L - (k - 2L) * (200000L div (k - 2L)), 0L)
        |END""".stripMargin))
    val purchases = tagged.filter($"event_type" === "purchase")
      .select($"user_id", $"pgrp", $"cents".as("p_cents"))
    credited.drop("cents").join(purchases, Seq("user_id", "pgrp"))
      .groupBy($"event_type".as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum($"credit_ppm").as("credit_ppm_sum"),
        // guard the narrowing cast: with ANSI off an over-Long.Max
        // decimal sum would silently become NULL where the DuckDB
        // oracle's CAST raises — fail loudly like the oracle instead
        expr("""CAST(assert_true(
               |  SUM(CAST(credit_ppm * p_cents AS DECIMAL(38,0)))
               |    BETWEEN -9223372036854775808BD AND 9223372036854775807BD,
               |  'qAttrMultitouch value_microcents overflows BIGINT')
               |IS NULL AS LONG)""".stripMargin).as("overflow_guard"),
        sum(($"credit_ppm" * $"p_cents").cast("decimal(38,0)"))
          .cast("long").as("value_microcents"))
      .drop("overflow_guard")
      .orderBy($"touch_type")
  }

  /** Cross-source quantile normalization — the calibration step for
    * mixing heterogeneously-scored sources: each document's quality
    * score is replaced by the POOLED-distribution score at the same
    * within-source quantile, so "top decile of src3" and "top decile
    * of src7" become comparable numbers (classifier scores from
    * different domains are never directly comparable; ranks are).
    *
    * Everything stays integer-exact: within-source quantile
    * `((s_rank−1)·1000) div (n_src−1)` (permille, single-doc sources
    * coalesce to 0), and the pooled side is quantized to a 1001-point
    * grid — permille p maps to the pooled score at rank
    * `1 + ((n_all−1)·p) div 1000`, the standard lower-interpolation
    * empirical quantile.
    *
    * Scale shape: BOTH global ranks are distributed prefix ranks, not
    * single-partition windows — the qTokenBudget band trick: stop_hits
    * is the score's dominant term, so ranking within (band) [pooled]
    * or (source, band) [per source] plus a broadcast running band
    * offset reconstructs the exact global rank. The grid is built by
    * one 1001-row equi-join against the ranked corpus and broadcasts
    * back; no stage ever sorts the whole corpus on one task. */
  def qQuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = withQualityGate(Tables.load(spark, dir, "documents"))
      .select($"doc_id", $"source", $"stop_hits".as("band"), scoreCol.as("score"))
    // pooled global rank: ascending band offsets + within-band rank
    val bandCounts = scored.groupBy($"band").agg(count(lit(1)).as("bn"))
    val wb = Window.orderBy($"band".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bandCounts.withColumn("off", coalesce(sum($"bn").over(wb), lit(0L)))
    val wPool = Window.partitionBy($"band").orderBy($"score".asc, $"doc_id")
    val pooled = scored.join(broadcast(offs.select($"band", $"off")), Seq("band"))
      .withColumn("g_rank", $"off" + row_number().over(wPool))
    val nAll = scored.agg(count(lit(1)).as("n_all"))
    val grid = nAll
      .select(explode(expr("sequence(0, 1000)")).as("p"), $"n_all")
      .select($"p".cast("long").as("p"),
        expr("1 + ((n_all - 1) * p) div 1000").as("target_rank"))
    val gridScores = pooled.join(broadcast(grid), $"g_rank" === $"target_rank")
      .select($"p", $"score".as("norm_score"))
    // within-source rank: same banded pattern keyed by (source, band)
    val srcBandCounts = scored.groupBy($"source", $"band").agg(count(lit(1)).as("sn"))
    val wsb = Window.partitionBy($"source").orderBy($"band".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val soffs = srcBandCounts
      .withColumn("soff", coalesce(sum($"sn").over(wsb), lit(0L)))
    val wSrc = Window.partitionBy($"source", $"band").orderBy($"score".asc, $"doc_id")
    val srcN = scored.groupBy($"source").agg(count(lit(1)).as("n_src"))
    scored
      .join(broadcast(soffs.select($"source", $"band", $"soff")), Seq("source", "band"))
      .withColumn("s_rank", $"soff" + row_number().over(wSrc))
      .join(broadcast(srcN), Seq("source"))
      .withColumn("q_permille",
        expr("coalesce(((s_rank - 1) * 1000) div nullif(n_src - 1, 0), 0)"))
      .join(broadcast(gridScores), $"q_permille" === $"p")
      .select($"doc_id", $"source", $"score", $"s_rank", $"q_permille", $"norm_score")
      .orderBy($"doc_id")
  }

  private val PpsTarget = 50L

  /** Systematic PPS (probability-proportional-to-size) sampling — the
    * deterministic weighted sampler: a fixed grid of ~50 selection
    * points at `step = W div 50` over the cumulative token-count line
    * picks each document with probability ∝ its token count; zero
    * randomness, so the draw is replay/shard-stable like qSampleHash
    * but weighted like a token-budget draw. A document wider than one
    * step covers several points — `n_hits` reports the multiplicity
    * (the standard PPS-systematic caveat, surfaced rather than
    * hidden).
    *
    * All integer: the hit count is `cum div step − (cum−w) div step`,
    * identical in DuckDB. The cumulative line is the distributed
    * band prefix sum again — doc_id-range bands (ids div 1000), tiny
    * broadcast running offsets, within-band windows; no global-order
    * window ever sees the corpus in one partition. */
  def qSamplePps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as long)")
          .as("w"))
    val banded = docs.withColumn("band", expr("doc_id div 1000"))
    val bandTotals = banded.groupBy($"band").agg(sum($"w").as("bw"))
    val wb = Window.orderBy($"band".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bandTotals.withColumn("off", coalesce(sum($"bw").over(wb), lit(0L)))
    val wDoc = Window.partitionBy($"band").orderBy($"doc_id")
    val tot = docs.agg(sum($"w").as("wtot"))
    banded.join(broadcast(offs.select($"band", $"off")), Seq("band"))
      .withColumn("cum", $"off" + sum($"w").over(wDoc))
      .crossJoin(broadcast(tot))
      .withColumn("n_hits",
        expr(s"cum div (wtot div $PpsTarget) - (cum - w) div (wtot div $PpsTarget)"))
      .select($"doc_id", $"w", $"cum", $"n_hits", ($"n_hits" >= 1L).as("selected"))
      .orderBy($"doc_id")
  }

  /** A user-arm "converts" on a metric when their mean event value for
    * that type exceeds 45.00 — compared as exact DECIMAL `sum·100 >
    * 4500·count` so no float summation order can flip a near-threshold
    * user (the corpus's per-user MAX is ~always high, so a max-based
    * conversion would saturate at 100%; the mean splits mid-range). */
  private val AbMeanCutoffCents = 4500L

  /** Two-proportion z-test experiment readout — the A/B analysis
    * primitive: users are deterministically assigned to arms by id
    * parity, each event type is a metric, and the per-metric output is
    * arm sizes, conversions, rates (ppm) and the pooled two-proportion
    * z statistic with a |z| > 1.96 significance flag.
    *
    * The statistic stays engine-exact: z² = (x₁n₂−x₂n₁)²·N /
    * (n₁n₂·x·(N−x)) (x = pooled conversions, N = n₁+n₂) is computed as
    * one DECIMAL(38,0) integral `div` ×10⁶ — Spark's decimal `div` and
    * DuckDB's HUGEINT `//` produce the same BIGINT — then
    * `z_x1000 = sign(x₁n₂−x₂n₁) · floor(sqrt(z²·10⁶))`, exact because
    * IEEE sqrt is correctly rounded and z²·10⁶ ≪ 2^52. Degenerate
    * pools (x = 0 or x = N, variance 0) emit z = 0 rather than divide
    * by zero.
    *
    * Scale shape: ONE map-side-combined shuffle to the (metric, user)
    * grid — conversion is an aggregate of that combine — then the
    * arm rollup collapses to one row per metric. Linear in events;
    * no window, no join. */
  /** Sample-ratio-mismatch (SRM) gate — the sanity check every
    * experiment readout must pass BEFORE its deltas mean anything: if
    * the 50/50 user split didn't land 50/50, the assignment is broken
    * and [[qAbZtest]]/[[qAbCuped]] read garbage. χ² against the
    * expected even split is rational —
    * `χ² = (n_a − n_b)² / (n_a + n_b)` — carried ×10⁶ in exact BIGINT
    * with the standard p<0.05 cutoff (3.84). Also audits per-arm EVENT
    * volume (an engagement-skew tell the user-count χ² can't see).
    * Shape: one map-side-combined user aggregate + a 1-row readout —
    * strictly cheaper than the readouts it gates. */
  def qAbSrm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(($"user_id" % 2).as("variant"))
      .agg(count_distinct($"user_id").as("users"), count(lit(1)).as("events"))
      .agg(
        sum(when($"variant" === 0, $"users")).as("n_a"),
        sum(when($"variant" === 1, $"users")).as("n_b"),
        sum(when($"variant" === 0, $"events")).as("events_a"),
        sum(when($"variant" === 1, $"events")).as("events_b"))
      .withColumn("chi2_x1e6", expr(
        "((n_a - n_b) * (n_a - n_b) * 1000000) div (n_a + n_b)"))
      .withColumn("srm_flag", $"chi2_x1e6" > 3840000L)
      .select($"n_a", $"n_b", $"events_a", $"events_b",
        $"chi2_x1e6", $"srm_flag")
  }

  def qAbZtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conv = Tables.load(spark, dir, "events")
      .groupBy($"event_type", $"user_id")
      .agg((sum($"value".cast("decimal(18,2)")) * 100 >
        lit(AbMeanCutoffCents) * count(lit(1))).as("converted"))
      .withColumn("variant", $"user_id" % 2)
    conv.groupBy($"event_type")
      .agg(
        count(when($"variant" === 0, 1)).as("n_a"),
        count(when($"variant" === 1, 1)).as("n_b"),
        count(when($"variant" === 0 && $"converted", 1)).as("conv_a"),
        count(when($"variant" === 1 && $"converted", 1)).as("conv_b"))
      .withColumn("p_a_ppm", expr("(conv_a * 1000000) div n_a"))
      .withColumn("p_b_ppm", expr("(conv_b * 1000000) div n_b"))
      .withColumn("delta_ppm", $"p_a_ppm" - $"p_b_ppm")
      .withColumn("z2_x1e6", expr(
        """CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
          |     THEN cast(0 as bigint)
          |     ELSE cast((cast(conv_a * n_b - conv_b * n_a as decimal(38,0))
          |                * cast(conv_a * n_b - conv_b * n_a as decimal(38,0))
          |                * cast(n_a + n_b as decimal(38,0)) * 1000000)
          |          div (cast(n_a as decimal(38,0))
          |               * cast(n_b as decimal(38,0))
          |               * cast(conv_a + conv_b as decimal(38,0))
          |               * cast(n_a + n_b - conv_a - conv_b as decimal(38,0)))
          |          as bigint) END""".stripMargin))
      .withColumn("z_x1000", expr(
        "cast(sign(conv_a * n_b - conv_b * n_a) as bigint)" +
          " * cast(floor(sqrt(cast(z2_x1e6 as double))) as bigint)"))
      .withColumn("significant", abs($"z_x1000") > 1960)
      .orderBy($"event_type")
  }

  /** The 5 interim-analysis cutoffs of the sequential test — weekly
    * looks over the corpus's January span, shared with the oracle. */
  private[graft] val ObfLooks =
    Seq("2024-01-07", "2024-01-13", "2024-01-19", "2024-01-25", "2024-01-31")

  /** GROUP-SEQUENTIAL A/B TEST with O'Brien–Fleming boundaries
    * (O'Brien & Fleming 1979; Pocock 1977 frames the family — both
    * public): the "when could we have stopped" readout modern
    * experimentation runs instead of a single end-of-test z-test
    * (peeking at a fixed 1.96 inflates false positives; OBF spends
    * almost no α early). Five weekly looks; at look k the SAME
    * two-proportion z² as [[qAbZtest]] (same conversion rule, same
    * DECIMAL(38,0) identity) computed on events BEFORE that cutoff is
    * compared against the OBF boundary z²_k = C²·K/k with C = 2.040
    * for K = 5 at two-sided α = 0.05 — ×10⁶ that is EXACTLY
    * 20808000 div k (integer for every k ≤ 5, no table needed).
    * Shape: one 5-look fan-out over the scan (map-side combined into
    * per-(look, type, user) partials), then |types|·5 readout rows. */
  def qAbSequential(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val looks = ObfLooks.zipWithIndex.map { case (d, i) =>
      struct(lit(i + 1L).as("look"), lit(d).cast("timestamp").as("cut"))
    }
    val conv = Tables.load(spark, dir, "events")
      .select($"event_type", $"user_id", $"ts", $"value",
        explode(array(looks: _*)).as("lk"))
      .filter($"ts" < $"lk.cut")
      .groupBy($"lk.look".as("look"), $"event_type", $"user_id")
      .agg((sum($"value".cast("decimal(18,2)")) * 100 >
        lit(AbMeanCutoffCents) * count(lit(1))).as("converted"))
      .withColumn("variant", $"user_id" % 2)
    conv.groupBy($"event_type", $"look")
      .agg(
        count(when($"variant" === 0, 1)).as("n_a"),
        count(when($"variant" === 1, 1)).as("n_b"),
        count(when($"variant" === 0 && $"converted", 1)).as("conv_a"),
        count(when($"variant" === 1 && $"converted", 1)).as("conv_b"))
      .withColumn("z2_x1e6", expr(
        """CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
          |     THEN cast(0 as bigint)
          |     ELSE cast((cast(conv_a * n_b - conv_b * n_a as decimal(38,0))
          |                * cast(conv_a * n_b - conv_b * n_a as decimal(38,0))
          |                * cast(n_a + n_b as decimal(38,0)) * 1000000)
          |          div (cast(n_a as decimal(38,0))
          |               * cast(n_b as decimal(38,0))
          |               * cast(conv_a + conv_b as decimal(38,0))
          |               * cast(n_a + n_b - conv_a - conv_b as decimal(38,0)))
          |          as bigint) END""".stripMargin))
      .withColumn("bound_z2_x1e6", expr("20808000 div look"))
      .withColumn("crossed",
        when($"z2_x1e6" >= $"bound_z2_x1e6", "Y").otherwise("N"))
      .orderBy($"event_type", $"look")
  }

  /** CUPED variance-reduced A/B readout (Deng–Xu–Kohavi–Walker 2013)
    * — the production companion to [[qAbZtest]]: each user's
    * post-period metric is adjusted by their PRE-period behavior
    * (`Y' = Y − θ·X`, θ = cov(X,Y)/var(X) pooled across arms), which
    * cancels the between-user variance that pre-dates the experiment
    * and typically halves the sample size a test needs. Pre period:
    * events before 2024-01-16 (the corpus midpoint); metric and
    * covariate are the per-user value sums in exact cents per event
    * type.
    *
    * Everything is rational, so it stays exact end to end: sums are
    * BIGINT cents (via DECIMAL(18,2)·100, no float truncation),
    * moment terms (n·Σxy − ΣxΣy etc.) and the final estimates are
    * DECIMAL(38,0) products with ONE integral division each —
    * `theta_x1e6 = cov_n·10⁶ div var_n` and `delta_cuped_x1e6 =
    * (Δy·var_n − Δx·cov_n)·10⁶ div (n_a·n_b·var_n)` — Spark `div` and
    * DuckDB `//` both truncate toward zero, so even negative deltas
    * match bit-for-bit. Degenerate var_n = 0 falls back to the raw
    * delta.
    *
    * Scale shape: identical to the z-test — one map-side-combined
    * (metric, user) shuffle with the period split folded into
    * conditional sums, then a 5-row rollup; no join, no window. */
  def qAbCuped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = "cast(cast(value as decimal(18,2)) * 100 as bigint)"
    val split = "timestamp'2024-01-16 00:00:00'"
    val per = Tables.load(spark, dir, "events")
      .groupBy($"event_type", $"user_id")
      .agg(
        sum(expr(s"CASE WHEN ts < $split THEN $cents ELSE 0L END")).as("x"),
        sum(expr(s"CASE WHEN ts >= $split THEN $cents ELSE 0L END")).as("y"))
      .withColumn("variant", $"user_id" % 2)
    per.groupBy($"event_type")
      .agg(
        count(when($"variant" === 0, 1)).as("n_a"),
        count(when($"variant" === 1, 1)).as("n_b"),
        sum(when($"variant" === 0, $"x").otherwise(0L)).as("sx_a"),
        sum(when($"variant" === 1, $"x").otherwise(0L)).as("sx_b"),
        sum(when($"variant" === 0, $"y").otherwise(0L)).as("sy_a"),
        sum(when($"variant" === 1, $"y").otherwise(0L)).as("sy_b"),
        sum($"x".cast("decimal(38,0)") * $"x").as("sxx"),
        sum($"x".cast("decimal(38,0)") * $"y").as("sxy"))
      .withColumn("cov_n", expr(
        """cast(n_a + n_b as decimal(38,0)) * sxy
          | - (cast(sx_a as decimal(38,0)) + sx_b)
          |   * (cast(sy_a as decimal(38,0)) + sy_b)""".stripMargin))
      .withColumn("var_n", expr(
        """cast(n_a + n_b as decimal(38,0)) * sxx
          | - (cast(sx_a as decimal(38,0)) + sx_b)
          |   * (cast(sx_a as decimal(38,0)) + sx_b)""".stripMargin))
      .withColumn("dyn", expr(
        "cast(sy_a as decimal(38,0)) * n_b - cast(sy_b as decimal(38,0)) * n_a"))
      .withColumn("dxn", expr(
        "cast(sx_a as decimal(38,0)) * n_b - cast(sx_b as decimal(38,0)) * n_a"))
      .withColumn("theta_x1e6", expr(
        """CASE WHEN var_n = 0 THEN cast(0 as bigint)
          |     ELSE cast((cov_n * 1000000) div var_n as bigint) END""".stripMargin))
      .withColumn("delta_raw_x1e6", expr(
        "cast((dyn * 1000000) div (cast(n_a as decimal(38,0)) * n_b) as bigint)"))
      .withColumn("delta_cuped_x1e6", expr(
        """CASE WHEN var_n = 0 THEN delta_raw_x1e6
          |     ELSE cast(((dyn * var_n - dxn * cov_n) * 1000000)
          |          div (cast(n_a as decimal(38,0)) * n_b * var_n) as bigint) END""".stripMargin))
      .select($"event_type", $"n_a", $"n_b",
        $"sx_a", $"sx_b", $"sy_a", $"sy_b",
        $"theta_x1e6", $"delta_raw_x1e6", $"delta_cuped_x1e6")
      .orderBy($"event_type")
  }

  /** The mix rule's per-source keep rate (permille) and the salted hash
    * value (0..255) it is tested against — ONE definition shared by the
    * audit rollup ([[qMixWeighted]]) and the composed curation pipeline
    * ([[qPipelineCuration]]) so the two cannot disagree on what the mix
    * keeps. A doc is kept iff `(hv * 1000) div 256 < rate_permille`. */
  private def mixRateCol: Column = expr(
    """CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
      |     WHEN source IN ('src3', 'src4') THEN 500
      |     ELSE 200 END""".stripMargin).cast("long")

  private def mixHvCol: Column = {
    val hx = "substring(md5(cast(concat('mix|', cast(doc_id as string)) as binary)), 1, 2)"
    expr(
      s"(instr('0123456789abcdef', substring($hx, 1, 1)) - 1) * 16 + " +
        s"(instr('0123456789abcdef', substring($hx, 2, 1)) - 1)")
  }

  /** KISH EFFECTIVE SAMPLE SIZE of the weighted mix (Kish 1965 —
    * the survey-statistics classic): training on source-weighted data
    * buys LESS than its row count — n_eff = (Σw)²/Σw², and the design
    * effect deff = n·Σw²/(Σw)² says how much variance the weighting
    * costs (1.0 = free, 1.3 = a 30% tax). Uses the SAME per-source
    * rate_permille map as the mixing family ([[qMixWeighted]] /
    * the curation pipeline — shared `mixRateCol`), so the report
    * grades exactly the weights the pipeline applies. Both readouts
    * as ×1000 integers via one division each; per-source Σw/Σw² roll
    * up from ONE source combine (weights are constant within a
    * source, so the corpus scan aggregates counts, never rows²). */
  def qMixNeff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.load(spark, dir, "documents")
      .withColumn("w", mixRateCol)
      .groupBy($"source", $"w").agg(count(lit(1)).as("n_docs"))
    per.agg(sum($"n_docs").as("n"),
        sum($"n_docs" * $"w").as("sw"),
        sum($"n_docs" * $"w" * $"w").as("sw2"))
      .select($"n", $"sw", $"sw2",
        // DECIMAL products: (Σw)²·1000 passes BIGINT past ~sf1
        expr("""cast((cast(sw as decimal(38,0)) * sw * 1000)
               |div (cast(n as decimal(38,0)) * sw2) as bigint)""".stripMargin)
          .as("neff_share_x1000"),
        expr("cast((cast(sw as decimal(38,0)) * sw) div sw2 as bigint)")
          .as("n_eff"),
        expr("""cast((cast(n as decimal(38,0)) * sw2 * 1000)
               |div (cast(sw as decimal(38,0)) * sw) as bigint)""".stripMargin)
          .as("deff_x1000"))
  }

  def qMixWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .withColumn("rate_permille", mixRateCol)
      .withColumn("hv", mixHvCol)
      .withColumn("kept", expr("(hv * 1000) div 256") < col("rate_permille"))
      .groupBy($"source", $"rate_permille")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"kept", 1)).as("n_kept"))
      .orderBy($"source")
  }

  // --- URL/domain-level curation (r12) -----------------------------

  /** Deterministic per-document crawl URL with planted drift. The
    * corpus ships no URL column, so (doc_id) synthesizes one the same
    * way the multimodal corpus synthesizes media payloads: each
    * 7-document block belongs to one of 5 sites, the first `site+1`
    * docs of a block are re-crawls of ONE canonical page (so the
    * per-domain duplicate rate varies site-by-site, 0‰ to ~571‰), and
    * the raw form varies by doc_id % 4 — scheme case, `www.` prefix,
    * trailing slash, tracking query, fragment — exactly the drift URL
    * normalization must collapse. Normalization (the operator under
    * test): lowercase, strip scheme, strip leading `www.`, drop query
    * and fragment, drop the trailing slash. All of it is scan-speed
    * string expressions, replayed verbatim by the DuckDB oracles. */
  private[graft] def urlFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("site", expr("(doc_id div 7) % 5"))
      .withColumn("canon", expr(
        "CASE WHEN doc_id % 7 <= (doc_id div 7) % 5 " +
          "THEN (doc_id div 7) * 7 ELSE doc_id END"))
      .withColumn("host", expr(
        "concat('site', cast(site as string), '.example.', " +
          "CASE WHEN site % 2 = 0 THEN 'com' ELSE 'org' END)"))
      .withColumn("raw_url", expr(
        """CASE cast(doc_id % 4 as int)
          |  WHEN 0 THEN concat('https://', host, '/page/', cast(canon as string))
          |  WHEN 1 THEN concat('http://www.', host, '/page/', cast(canon as string), '/')
          |  WHEN 2 THEN concat('HTTPS://', upper(host), '/page/', cast(canon as string),
          |    '?utm_source=feed&utm_campaign=x')
          |  ELSE concat('https://', host, '/page/', cast(canon as string), '#section-2')
          |END""".stripMargin))
      .withColumn("url", normalizeUrl($"raw_url"))
      .withColumn("domain", domainOf($"url"))
      .select($"doc_id", $"n_chars", $"raw_url", $"url", $"domain")
  }

  /** URL canonicalization — THE shared definition of "the same page":
    * lowercase, strip scheme, strip leading `www.`, drop query and
    * fragment, drop the trailing slash. [[urlFrame]] applies it for
    * both URL queries, so they cannot disagree on which fetches are
    * re-crawls. */
  private[graft] def normalizeUrl(raw: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(raw), "^[a-z]+://", ""), "^www\\.", ""),
      "[?#].*$", ""), "/$", "")

  /** The registered domain of a normalized URL ([[urlFrame]] →
    * [[qDomainMix]]), same rule as [[normalizeUrl]]: one definition of
    * "a domain". */
  private[graft] def domainOf(url: Column): Column =
    substring_index(url, "/", 1)

  /** URL-LEVEL DEDUP — the first curation pass of a crawl-based
    * corpus build (before any content hashing): normalize each
    * document's URL and keep one document per canonical URL (min
    * doc_id). Emits the per-doc audit a removal pass consumes: the
    * raw and normalized URL, the registered domain, the group size
    * and the keeper verdict.
    *
    * Scale shape: synthesis + normalization are scan-speed string
    * expressions; the group accounting is ONE window over the url
    * hash partition (groups are re-crawl-sized, never corpus-sized) —
    * a single exchange at any corpus size. */
  def qUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"url")
    urlFrame(Tables.load(spark, dir, "documents"))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("keeper", $"doc_id" === min($"doc_id").over(w))
      .select($"doc_id", $"raw_url", $"url", $"domain", $"n_dups", $"keeper")
      .orderBy($"doc_id")
  }

  /** DOMAIN-REPUTATION MIX — the source-domain filter step of a
    * pretraining pipeline: per registered domain, documents, distinct
    * pages (normalized URLs), exact bytes, the duplicate share, a
    * reputation score (1000 minus the dup share — domains that
    * re-serve the same page are boilerplate farms), and the mix
    * keep-rate in the SAME 900/500/200‰ tiers as the per-source mix
    * rule ([[qMixWeighted]]'s rate map), so domain- and source-level
    * curation speak one weight language. One rollup over the
    * [[urlFrame]] definition shared with [[qUrlDedup]] — the two
    * views cannot disagree on what a page or a domain is. */
  def qDomainMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    urlFrame(Tables.load(spark, dir, "documents"))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct($"url").as("n_pages"),
        sum($"n_chars").as("sum_chars"))
      .withColumn("dup_permille", expr("((n_docs - n_pages) * 1000) div n_docs"))
      .withColumn("rep_permille", expr("1000 - dup_permille"))
      .withColumn("keep_permille", expr(
        "CASE WHEN rep_permille >= 900 THEN 900L " +
          "WHEN rep_permille >= 700 THEN 500L ELSE 200L END"))
      .withColumn("kept_docs_budget", expr("(n_docs * keep_permille) div 1000"))
      .orderBy($"domain")
  }

  /** A doc whose shingle set overlaps the benchmark by at least this
    * many permille is dropped by the pipeline's decontamination stage. */
  private[graft] val PipelineContamThreshold = 100L

  /** The composed end-to-end curation run — every stage above chained
    * in the order a production corpus build executes them, with ONE
    * per-doc verdict naming the first stage that rejects the doc:
    *
    *   1. `gate_fail`   — Gopher quality gate ([[withQualityGate]]);
    *   2. `dup`         — head-fingerprint dedup among gate survivors
    *                      (`dedup.Dedup.headFingerprint`, the SAME key
    *                      both incremental-dedup halves use — min
    *                      passing doc_id is canonical);
    *   3. `contaminated`— benchmark n-gram overlap ≥
    *                      [[PipelineContamThreshold]]‰ (src0 is the
    *                      held-out benchmark, as in `qContamination`);
    *   4. `sampled_out` — the deterministic mix rule ([[mixRateCol]] /
    *                      [[mixHvCol]], shared with [[qMixWeighted]]);
    *   5. `kept`        — survives into the training corpus.
    *
    * Gate, contamination score and mix decision are pure per-doc
    * functions, so composing them adds NO set-dependence; only the
    * dedup stage depends on the survivor set, and it is defined on
    * gate-passers via a conditional window min — the whole pipeline is
    * one deterministic pass, replayed exactly by the DuckDB oracle.
    *
    * Scale shape (100 TB): gate + mix are scan-speed expressions; dedup
    * is ONE window over the head-fingerprint (hash-partitioned, groups
    * are tiny); contamination is the broadcast shingle-hash join of
    * `qContamination` plus a doc-keyed rollup; the final joins are
    * doc_id-equi. Linear end to end — no stage is quadratic and no
    * stage re-reads text. */
  private[graft] def curationVerdicts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = Tables.load(spark, dir, "documents").filter($"source" =!= "src0")
    val wfp = Window.partitionBy($"fp")
    val gated = withQualityGate(corpus)
      .withColumn("fp", graft.dedup.Dedup.headFingerprint($"text"))
      .withColumn("canon", min(when($"quality_pass", $"doc_id")).over(wfp))
    val sh = graft.dedup.Dedup.withShingles(spark, dir)
    val bench = sh.filter($"source" === "src0")
      .select(explode($"shs").as("h")).distinct()
    val shDocs = sh.filter($"source" =!= "src0" && size($"shs") > 0)
      .select($"doc_id", size($"shs").cast("long").as("n_sh"), $"shs")
    val hits = shDocs.select($"doc_id", explode($"shs").as("h"))
      .join(broadcast(bench), Seq("h"))
      .groupBy($"doc_id").agg(count(lit(1)).as("hits"))
    val contam = shDocs.select($"doc_id", $"n_sh")
      .join(hits, Seq("doc_id"), "left_outer")
      .select($"doc_id", expr("(coalesce(hits, 0) * 1000) div n_sh").as("cp"))
    gated.join(contam, Seq("doc_id"), "left_outer")
      .withColumn("contam_permille", coalesce($"cp", lit(0L)))
      .withColumn("rate_permille", mixRateCol)
      .withColumn("hv", mixHvCol)
      .withColumn("verdict",
        when(not($"quality_pass"), "gate_fail")
          .when($"doc_id" =!= $"canon", "dup")
          .when($"contam_permille" >= PipelineContamThreshold, "contaminated")
          .when(expr("(hv * 1000) div 256") >= $"rate_permille", "sampled_out")
          .otherwise("kept"))
  }

  /** Per-doc audit frame of the composed curation pipeline — every
    * non-benchmark doc exactly once with the first-failing-stage
    * verdict (see [[curationVerdicts]]). */
  def qPipelineCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    curationVerdicts(spark, dir)
      .select($"doc_id", $"source", $"n_words", $"contam_permille", $"verdict")
      .orderBy($"doc_id")
  }

  /** MIX DIVERGENCE — did curation deliver the mix it was asked for?
    * The achieved per-source share of KEPT docs (the composed
    * pipeline's own verdicts, shared-definition rule) is compared to
    * the TARGET mix implied by the sampling rates
    * (`n_docs_s · rate_s`, normalized), and the gap is summarized as
    * TOTAL-VARIATION distance — `½·Σ|achieved − target|` — which
    * unlike KL needs no logarithm, so the whole readout is exact
    * integer ppm. Gate/dedup/decontamination losses are exactly what
    * push achieved off target; a TV beyond tolerance means the
    * sampling rates need re-planning against the post-filter corpus.
    * Per-source rows + the half-sum repeated for the release note. */
  def qMixDivergence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = qPipelineCuration(spark, dir)
    val kept = v.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"verdict" === "kept", 1L).otherwise(0L)).as("n_kept"))
      .withColumn("rate_permille", mixRateCol)
    val tot = kept.agg(sum($"n_kept").as("tot_kept"),
      sum($"n_docs" * $"rate_permille").as("tot_target"))
    val shares = kept.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_kept",
        // a pipeline that rejects EVERYTHING is a legitimate (alarming)
        // state the report must survive, not crash on: at sf0.1 the
        // synthetic benchmark source saturates the 31-token shingle
        // space and contaminates every gate-passer, so tot_kept = 0
        expr("CASE WHEN tot_kept = 0 THEN 0L " +
          "ELSE (n_kept * 1000000) div tot_kept END").as("achieved_ppm"),
        expr("cast((cast(n_docs as decimal(38,0)) * rate_permille * 1000000) div tot_target as bigint)")
          .as("target_ppm"))
      .withColumn("abs_gap_ppm",
        expr("abs(achieved_ppm - target_ppm)"))
    val tv = shares.agg(expr("cast(sum(abs_gap_ppm) div 2 as bigint)").as("tv_ppm"))
    shares.crossJoin(broadcast(tv))
      .select($"source", $"n_docs", $"n_kept", $"achieved_ppm",
        $"target_ppm", $"abs_gap_ppm", $"tv_ppm")
      .orderBy($"source")
  }

  /** The pipeline's loss funnel: docs and token mass per (source,
    * verdict) — the one-page artifact a corpus build reports ("where
    * did the data go"). Same frame as [[qPipelineCuration]], one
    * map-side-combined rollup on top. */
  def qPipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    curationVerdicts(spark, dir)
      .groupBy($"source", $"verdict")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("sum_words"))
      .orderBy($"source", $"verdict")
  }

  /** Per-column dataset profiling — the health check every ingestion
    * runs before training: null count, distinct count, min/max (as
    * text) per column. One pass over the table producing one
    * aggregation row per column via a literal column-name explosion —
    * no per-column jobs, no collect loops; at 100 TB this is a single
    * map-side-combined aggregate. */
  def qProfileColumns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val df = Tables.load(spark, dir, "documents")
    val profiled = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = profiled.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c).cast("string")).as(s"${c}__min"),
        max(col(c).cast("string")).as(s"${c}__max"))
    }
    val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    row.select($"n_rows", explode(array(profiled.map(c => struct(
        lit(c).as("col_name"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_text"),
        col(s"${c}__max").as("max_text"))): _*)).as("p"))
      .select($"p.col_name".as("col_name"), $"n_rows", $"p.n_nulls".as("n_nulls"),
        $"p.n_distinct".as("n_distinct"), $"p.min_text".as("min_text"),
        $"p.max_text".as("max_text"))
      .orderBy($"col_name")
  }

  /** PII patterns shared by the batch query and specs. Written in the
    * common subset of Java regex and RE2 (no lookaround, no backrefs,
    * `\b` word boundaries, non-capturing groups) so the Spark plan and
    * the DuckDB oracle match occurrence-for-occurrence. */
  private[graft] final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] final val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private[graft] final val PhoneRe = "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"

  /** Adds detection counts + the redacted text to any frame with a text
    * column `t`: emails → `[EMAIL]`, IPv4 → `[IP]`, phone → `[PHONE]`,
    * replacements applied in that fixed order; counts are taken on the
    * un-redacted text. Pure per-row regex expressions — scan speed,
    * zero shuffle, fully codegen'd. */
  private[graft] def withPiiScrub(df: DataFrame): DataFrame = df
    .withColumn("n_email",
      size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).cast("long"))
    .withColumn("n_ip",
      size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0))).cast("long"))
    .withColumn("n_phone",
      size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).cast("long"))
    .withColumn("clean_text",
      regexp_replace(regexp_replace(regexp_replace(
        col("t"), EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]"))

  /** PII detection + redaction over the corpus (reference analog: the
    * event payloads the reference stores verbatim — addresses/contact
    * attributes in `routes/events.js` worker attributes — would need
    * exactly this scrub before training on them).
    *
    * The synthetic corpus carries no PII, so the query scrubs a
    * deterministically augmented view: each doc gets a doc_id-derived
    * contact header (email + IPv4 + phone) appended, giving every row
    * known positives while the raw text is still scanned end-to-end
    * (its zero matches are part of the checked contract). Counts are
    * exact integers; redaction is string-deterministic — the DuckDB
    * oracle replays both bit-for-bit. */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.org from 10."),
        (col("doc_id") % 200).cast("string"), lit("."),
        ((col("doc_id") * 7) % 250).cast("string"), lit("."),
        (col("doc_id") % 250).cast("string"),
        lit(" tel 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0")).as("t"))
    withPiiScrub(aug)
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Secret-pattern regexes — simple RE2/Java-common syntax (character
    * classes and bounded repeats only) so Spark `rlike` and DuckDB
    * `regexp_matches` agree symbol-for-symbol. */
  private[graft] val AwsKeyRe = "AKIA[0-9A-Z]{16}"
  /** DELIBERATELY over-broad: matches any run of ≥32 lowercase hex, so
    * legitimate hex (sha256 sums, git commit ids, fingerprints) counts
    * too. Acceptable for a CENSUS metric (an upper bound on exposure);
    * do NOT reuse as a scrub/drop gate without boundary anchors (e.g.
    * `(^|[^0-9a-f])[0-9a-f]{32}([^0-9a-f]|$)`) and an exact-length
    * check — unanchored it would drop every doc mentioning a digest. */
  private[graft] val Hex32Re = "[0-9a-f]{32}"
  private[graft] val KeyHeaderRe = "BEGIN [A-Z]+ PRIVATE KEY"

  /** SECRET-LEAK CENSUS — the pretraining hygiene audit PII scrub does
    * not cover: credentials in crawled text (cloud access keys, raw
    * 32-hex digests/tokens, private-key headers) both leak real
    * secrets and teach models to emit secret-shaped strings. The
    * synthetic corpus carries none, so the census scans a
    * deterministically augmented view (the qPiiScrub/plantedCodeView
    * convention): doc_id % 7 == 0 gets an AKIA-prefixed upper-hex key
    * (matching the real [0-9A-Z] pattern), % 11 == 3 a 32-hex token,
    * % 13 == 5 a private-key header — known positives, while the raw
    * text is still scanned end to end. Per source: docs flagged per
    * class, any-secret docs, and the rate in permille. Pure scan
    * expressions + one rollup. */
  def qSecretCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val aug = Tables.load(spark, dir, "documents")
      .withColumn("t", expr(
        """concat(text,
          |  CASE WHEN doc_id % 7 = 0 THEN concat(' AKIA',
          |    upper(substring(md5(cast(concat('ak|', cast(doc_id as string)) as binary)), 1, 16)))
          |  ELSE '' END,
          |  CASE WHEN doc_id % 11 = 3 THEN concat(' ',
          |    md5(cast(concat('hx|', cast(doc_id as string)) as binary)))
          |  ELSE '' END,
          |  CASE WHEN doc_id % 13 = 5 THEN ' BEGIN RSA PRIVATE KEY'
          |  ELSE '' END)""".stripMargin))
    aug
      .withColumn("has_aws", $"t".rlike(AwsKeyRe))
      .withColumn("has_hex", $"t".rlike(Hex32Re))
      .withColumn("has_keyhdr", $"t".rlike(KeyHeaderRe))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"has_aws", 1L).otherwise(0L)).as("n_aws_docs"),
        sum(when($"has_hex", 1L).otherwise(0L)).as("n_hex_docs"),
        sum(when($"has_keyhdr", 1L).otherwise(0L)).as("n_keyhdr_docs"),
        sum(when($"has_aws" || $"has_hex" || $"has_keyhdr", 1L).otherwise(0L))
          .as("n_secret_docs"))
      .withColumn("secret_permille", expr("(n_secret_docs * 1000) div n_docs"))
      .orderBy($"source")
  }

  /** Code-vs-prose heuristic per document: symbol-character density and
    * programming-keyword density, combined into a fixed-point ppm score
    * with a hard threshold — the cheap first-pass classifier a training
    * mix needs before routing docs to code/prose pipelines. Pure
    * per-row expressions (scan speed, zero shuffle).
    *
    * The synthetic corpus is pure prose, so the query scores a
    * deterministically augmented view: each doc gets `doc_id % 20`
    * repetitions of a statement snippet appended — a genuine two-class
    * distribution (scores 0..~200k ppm; the %20==0 docs plus long
    * low-repeat docs fall below the threshold). */
  /** Adds the code-score columns to any frame with a text column `t` —
    * shared by the batch query and fixture specs. */
  /** The planted-code augmented view — docs with doc_id % 20 == 0
    * stay pure prose (the negatives), everyone else gets injected
    * code. ONE expression shared by the detector, AUC, calibration
    * and conformal audits, so every classifier evaluation grades the
    * same ground truth. */
  private val plantedCodeView =
    "concat(text, ' ', repeat('if (x) { y = x + 1; return y; } ', cast(doc_id % 20 as int)))"

  private[graft] def withCodeScore(df: DataFrame): DataFrame = df
    .withColumn("n_chars", length(col("t")).cast("long"))
    .withColumn("n_sym",
      (length(col("t")) -
        length(regexp_replace(col("t"), "[{}();=+<>\\[\\]]", ""))).cast("long"))
    .withColumn("ws", expr("filter(split(t, '\\\\s+'), w -> w <> '')"))
    .withColumn("n_words", size(col("ws")).cast("long"))
    .withColumn("kw_hits", expr(
      "size(filter(ws, w -> w IN ('if','return','def','class','for','while','import','var','val')))")
      .cast("long"))
    .withColumn("sym_ppm", expr("(n_sym * 1000000) div n_chars"))
    .withColumn("kw_ppm", expr("(kw_hits * 1000000) div n_words"))
    .withColumn("code_score_ppm", expr("(sym_ppm + kw_ppm) div 2"))
    .withColumn("is_code", col("code_score_ppm") >= 15000)

  def qCodeDetect(spark: SparkSession, dir: String): DataFrame =
    withCodeScore(Tables.load(spark, dir, "documents")
      .withColumn("t", expr(plantedCodeView)))
      .select(col("doc_id"), col("n_sym"), col("kw_hits"), col("sym_ppm"),
        col("kw_ppm"), col("code_score_ppm"), col("is_code"))
      .orderBy(col("doc_id"))

  /** EXACT AUC for the code classifier (Mann–Whitney U with midrank
    * ties) — the threshold-free evaluation the confusion-matrix family
    * (q_langid_eval) can't provide: AUC = P(score of a random code doc
    * > score of a random prose doc), computed without floats via the
    * doubled-midrank identity — a tie group of size g after c smaller
    * rows has 2·midrank = 2c + g + 1 (always integer), so
    * `AUC·10⁶ = ((Σ2R⁺ − nP(nP+1))·10⁶) div (2·nP·nN)` exactly.
    * Ground truth is the augmented view's construction (docs with
    * `doc_id % 20 == 0` get no injected code — the prose negatives),
    * scored by the SAME [[withCodeScore]] the detector uses.
    * Shape: one score-keyed combine to the distinct-score frame, one
    * window over that shrunken frame (the value-count ranking
    * machinery), a 1-row readout. */
  def qClassifierAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    aucOf(withCodeScore(Tables.load(spark, dir, "documents")
      .withColumn("t", expr(plantedCodeView)))
      .select($"code_score_ppm".as("score"),
        ($"doc_id" % 20 =!= 0).as("label")))
  }

  /** CALIBRATION readout for the code classifier — AUC says the
    * RANKING is right; calibration says whether the score VALUES mean
    * anything (a score bin's mean should track its empirical positive
    * rate before anyone treats the score as a probability-like
    * weight). Fixed 5000-ppm-wide score bins (capped at 9 — fixed
    * bins, not quantiles, so bins are comparable across corpus
    * versions), per bin: docs, mean score, positive rate in exact ppm.
    * One combine rollup onto ≤10 rows. Same augmented view + shared
    * [[withCodeScore]] as the AUC/detector. */
  /** MANN–WHITNEY U TEST for the A/B split (Mann & Whitney 1947 —
    * public): the nonparametric significance test the z-test family
    * can't give when per-user revenue is heavy-tailed (rank-based, so
    * one whale can't swing it). Variant A = even user_id (the repo's
    * A/B convention). U comes from doubled midranks — the [[aucOf]]
    * identity 2·midrank = 2c + g + 1, always integer — with the
    * tie-corrected variance, and the 5% two-sided verdict by squaring
    * both sides: (2U − n_An_B)²·3·N(N−1)·10⁴ ≥
    * 38416·n_A·n_B·(N³−N−Σ(t³−t)) — the qTrendMk squaring convention,
    * no square root, no floats; the cross terms ride DECIMAL(38,0)
    * (≈10²⁴ at corpus scale — past BIGINT, far under 10³⁸). Effect
    * size = U/(n_An_B) in ppm — numerically the AUC of variant A over
    * B, P(a random A user out-spends a random B user). ONE user
    * combine, then the value-count frame ranked by the banded
    * distributed prefix count (no global-order window — the distinct
    * totals frame grows with users); 1-row readout. */
  def qAbMannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitney(Tables.load(spark, dir, "events"))

  /** Core of [[qAbMannWhitney]] over any (user_id, value) frame —
    * separated so the brute-force reference spec can drive it. */
  private[graft] def mannWhitney(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val per = events
      .select($"user_id",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy($"user_id").agg(sum($"cents").as("x"))
      .withColumn("isa", $"user_id" % 2 === 0)
    val groups = per.groupBy($"x")
      .agg(count(lit(1)).as("g"),
        sum(when($"isa", 1L).otherwise(0L)).as("ga"))
    // c = users with a strictly smaller total = inclusive banded cum
    // minus own count ([[graft.operators.BandedRank]], $1000 bands).
    // Distinct money totals grow ~linearly with users, so no stage may
    // ever sort that frame on one task.
    graft.operators.BandedRank
      .inclusiveCum(groups, "x", "g", 100000L, "cumg")
      .withColumn("c", $"cumg" - $"g")
      .agg(sum($"ga").as("n_a"), sum($"g" - $"ga").as("n_b"),
        sum($"ga" * (lit(2L) * $"c" + $"g" + 1L)).as("sum2r_a"),
        sum($"g" * $"g" * $"g" - $"g").as("tie_sum"))
      .select($"n_a", $"n_b", $"tie_sum",
        expr("sum2r_a - n_a * (n_a + 1)").as("u_x2"),
        expr("n_a + n_b").as("n"))
      .select($"n_a", $"n_b", $"u_x2", $"tie_sum",
        expr("(u_x2 * 500000) div (n_a * n_b)").as("auc_ppm"),
        expr(
          """CASE WHEN cast(abs(u_x2 - n_a * n_b) as decimal(38,0))
            |       * abs(u_x2 - n_a * n_b) * 30000 * n * (n - 1)
            |     >= cast(38416 as decimal(38,0))
            |       * n_a * n_b * (n * n * n - n - tie_sum)
            |THEN 'Y' ELSE 'N' END""".stripMargin).as("significant"))
  }

  /** ONE-WAY ANOVA F ACROSS SOURCES (Fisher 1925) — the k-group
    * extension of the A/B z-test: does document length differ across
    * sources more than within them? Sums of squares via the
    * computational identity in ×1000 fixed point — per group
    * q_g = (S_g²·1000) div n_g (one truncation each), SSB = Σq_g −
    * (S²·1000) div N, SSW = Q·1000 − Σq_g, both clamped at 0 (exact
    * math keeps them non-negative; the per-group truncations can
    * leave −(k−1) dust). F in millis plus the η² effect size in ppm
    * (the number a mix report actually acts on — F says "significant",
    * η² says "how much"). Loud √-scale assert on the global square;
    * a corpus where Σwords exceeds 3·10⁷ lifts the squares to
    * DECIMAL(38,0) like the multitouch rollup. ONE source-keyed
    * combine, then a 1-row readout — no second scan, no cross join. */
  def qAnovaF(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = Tables.load(spark, dir, "documents")
      .select($"source",
        size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("x"))
    val g = x.groupBy($"source")
      .agg(count(lit(1)).as("n_g"), sum($"x").as("s_g"),
        sum($"x" * $"x").as("q_g"))
    g.agg(count(lit(1)).as("k_groups"), sum($"n_g").as("n_total"),
        sum($"s_g").as("s_all"), sum($"q_g").as("q_all"),
        sum(expr("(s_g * s_g * 1000) div n_g")).as("qq"))
      .select($"k_groups", $"n_total",
        expr("""CASE WHEN assert_true(s_all <= 30000000L,
               |  'qAnovaF squares overflow BIGINT — lift to DECIMAL') IS NULL
               |THEN greatest(0L, qq - (s_all * s_all * 1000) div n_total) END"""
          .stripMargin).as("ssb_x1000"),
        expr("greatest(0L, q_all * 1000 - qq)").as("ssw_x1000"))
      .select($"k_groups", $"n_total", $"ssb_x1000", $"ssw_x1000",
        expr("""CASE WHEN ssw_x1000 > 0 AND k_groups > 1 THEN
               |  (ssb_x1000 * (n_total - k_groups) * 1000)
               |    div (ssw_x1000 * (k_groups - 1)) END""".stripMargin)
          .as("f_milli"),
        expr("""CASE WHEN ssb_x1000 + ssw_x1000 > 0 THEN
               |  (ssb_x1000 * 1000000) div (ssb_x1000 + ssw_x1000) END"""
          .stripMargin).as("eta2_ppm"))
  }

  /** SPLIT-CONFORMAL COVERAGE AUDIT (Vovk et al. 2005; Angelopoulos &
    * Bates 2021 tutorial — both public): the distribution-free
    * guarantee a production classifier threshold should ship with.
    * Calibration = the EVEN doc_ids' positive (code) examples; the
    * threshold τ is the k-th smallest calibration score with
    * k = ⌈α·(n_cal+1)⌉ at α = 0.1 — conformal theory then guarantees
    * P(a fresh positive scores ≥ τ) ≥ 90% under exchangeability. The
    * audit MEASURES it on the held-out odd half: empirical coverage
    * of the positives and the operating false-positive rate of the
    * negatives at the same τ — the two numbers a deployment reads.
    * Scores/labels come from the SAME planted-code view as
    * [[qClassifierAuc]] (shared definition); the quantile uses
    * value-count ranking, and everything after the calibration
    * combine is a 1-row broadcast. */
  def qConformalCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = withCodeScore(Tables.load(spark, dir, "documents")
      .withColumn("t", expr(plantedCodeView)))
      .select($"doc_id", $"code_score_ppm".as("score"),
        ($"doc_id" % 20 =!= 0).as("label"))
    val cal = scored.filter($"label" && $"doc_id" % 2 === 0)
    val nc = cal.agg(count(lit(1)).as("n_cal"))
    val vc = cal.groupBy($"score").agg(count(lit(1)).as("c"))
    val wC = Window.orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ta = vc.withColumn("cum", sum($"c").over(wC))
      .crossJoin(broadcast(nc))
      .agg(min(when($"cum" >= expr("(n_cal + 10) div 10"), $"score")).as("tau"),
        max($"n_cal").as("n_cal"))
    scored.filter($"doc_id" % 2 === 1)
      .crossJoin(broadcast(ta))
      .agg(max($"n_cal").as("n_cal"), max($"tau").as("tau"),
        sum(when($"label", 1L).otherwise(0L)).as("n_test_pos"),
        sum(when($"label" && $"score" >= $"tau", 1L).otherwise(0L)).as("covered"),
        sum(when(!$"label", 1L).otherwise(0L)).as("n_test_neg"),
        sum(when(!$"label" && $"score" >= $"tau", 1L).otherwise(0L)).as("false_pos"))
      .select($"n_cal", $"tau", $"n_test_pos", $"covered",
        expr("CASE WHEN n_test_pos > 0 THEN (covered * 1000000) div n_test_pos END")
          .as("coverage_ppm"),
        $"n_test_neg", $"false_pos",
        expr("CASE WHEN n_test_neg > 0 THEN (false_pos * 1000000) div n_test_neg END")
          .as("fp_ppm"))
  }

  def qCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withCodeScore(Tables.load(spark, dir, "documents")
      .withColumn("t", expr(plantedCodeView)))
      .select($"code_score_ppm".as("score"),
        ($"doc_id" % 20 =!= 0).as("label"))
      .withColumn("bin", least(lit(9L), expr("score div 5000")))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"score").as("score_sum"),
        sum(when($"label", 1L).otherwise(0L)).as("n_pos"))
      .select($"bin", $"n_docs",
        expr("score_sum div n_docs").as("mean_score_ppm"),
        expr("(n_pos * 1000000) div n_docs").as("pos_rate_ppm"))
      .orderBy($"bin")
  }

  /** Core exact-AUC over an explicit (score: long, label: boolean)
    * frame — factored out so specs can drive it on non-degenerate
    * fixtures (the corpus separates perfectly; ties and interleaving
    * need constructed inputs). */
  private[graft] def aucOf(scored: DataFrame): DataFrame = {
    val groups = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("g"),
        sum(when(col("label"), 1L).otherwise(0L)).as("gpos"))
    val w = Window.orderBy(col("score")).rowsBetween(Window.unboundedPreceding, -1)
    groups
      .withColumn("c", coalesce(sum(col("g")).over(w), lit(0L)))
      .agg(
        sum(col("gpos")).as("n_pos"),
        sum(col("g") - col("gpos")).as("n_neg"),
        sum(col("gpos") * (lit(2L) * col("c") + col("g") + 1L)).as("sum2r_pos"))
      .select(col("n_pos"), col("n_neg"), col("sum2r_pos"),
        expr("""cast(((sum2r_pos - n_pos * (n_pos + 1)) * 1000000)
               |div (2 * n_pos * n_neg) as bigint)""".stripMargin).as("auc_ppm"))
  }

  /** Distribution drift between two time periods of the event stream:
    * value-histogram shares per event type (10 fixed-width bins),
    * reference period vs current period, with the per-bin share delta
    * in ppm — the monitor that catches a drifting metric before it
    * poisons a training mix.
    *
    * All fixed-point integer arithmetic (shares in ppm via integral
    * div) — no `ln`, so no last-ulp divergence vs the oracle. One
    * map-side-combined shuffle on (event_type, bin) — the period split
    * is folded into conditional sums, NOT a grouping key, so ref and
    * cur land in the same row with no pivot; the per-type totals frame
    * (5 rows) broadcasts back. */
  /** The drift histogram's bin assignment — ONE definition shared by
    * the drift monitor and [[psiDrift]], so the two cannot disagree on
    * binning. */
  private[graft] def valueBin: Column =
    least(lit(9L), floor(col("value") / 50).cast("long"))

  def qQualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("bin", valueBin)
      .withColumn("is_ref", col("ts") < lit("2024-01-16").cast("timestamp"))
    val counts = ev.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("cur_n"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("ref_n")).as("ref_total"), sum(col("cur_n")).as("cur_total"))
    counts.join(broadcast(totals), Seq("event_type"))
      .withColumn("ref_ppm", expr("(ref_n * 1000000) div ref_total"))
      .withColumn("cur_ppm", expr("(cur_n * 1000000) div cur_total"))
      .withColumn("drift_ppm", abs(col("ref_ppm") - col("cur_ppm")))
      .select(col("event_type"), col("bin"), col("ref_n"), col("cur_n"),
        col("ref_ppm"), col("cur_ppm"), col("drift_ppm"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** POPULATION STABILITY INDEX — the model-monitoring drift metric
    * that completes the trio with the per-bin histogram deltas
    * ([[qQualityDrift]]) and the bin-free KS statistic
    * ([[graft.quality.Quality.qKsSources]]-style): PSI = Σ (p−q)·log(p/q)
    * over the 10 value bins, same ref/current period split as the
    * drift monitor and the SAME [[valueBin]] expression (shared-
    * definition rule). Exact integers end to end: shares in add-one-
    * smoothed ppm over the full 10-bin grid (zero bins participate —
    * that is where PSI blows up, by design), and the log ratio runs
    * through the bit-by-bit integer log2
    * ([[graft.text.TextAnalysis.ilog2x4096]] — the langid machinery,
    * no float ln anywhere), so the statistic is in micro-log2 units.
    * Monotonicity of the integer log makes every per-bin contribution
    * (p−q)·(log p − log q) ≥ 0, like the real PSI. Verdict thresholds
    * are the conventional 0.1 / 0.25 (ln units) converted to
    * micro-log2 literals (×1/ln2): 144269 / 360673.
    *
    * Scale shape: identical to the drift monitor — one map-side-
    * combined (type, bin) shuffle with the period split folded into
    * conditional sums, a |types|-row totals broadcast, a 10-row-per-
    * type grid; the log arithmetic is a per-row fold expression. */
  def qPsiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDrift(Tables.load(spark, dir, "events"))

  /** Core of [[qPsiDrift]] over any frame with (event_type, value,
    * ts) — separated so the planted-shift spec can drive it. */
  private[graft] def psiDrift(events: DataFrame): DataFrame = {
    val ev = events
      .withColumn("vbin", valueBin)
      .withColumn("is_ref", col("ts") < lit("2024-01-16").cast("timestamp"))
    val counts = ev.groupBy(col("event_type"), col("vbin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("cur_n"))
    psiFromCounts(counts)
  }

  /** PSI from a pre-aggregated (event_type, vbin, ref_n, cur_n) count
    * frame — the second half of [[psiDrift]]. */
  private[graft] def psiFromCounts(counts: DataFrame): DataFrame = {
    // ONE aggregation builds totals AND the full 10-bin grid (bins as
    // 10-entry maps exploded back out — a bin empty in one period is
    // exactly where PSI must register, so it cannot silently drop);
    // no totals-vs-counts self-join, one pass over the count frame
    val grid = counts.groupBy(col("event_type"))
      .agg(sum(col("ref_n")).as("ref_total"), sum(col("cur_n")).as("cur_total"),
        map_from_arrays(collect_list(col("vbin")), collect_list(col("ref_n"))).as("rm"),
        map_from_arrays(collect_list(col("vbin")), collect_list(col("cur_n"))).as("cm"))
      .select(col("event_type"), col("ref_total"), col("cur_total"),
        explode(expr("sequence(0L, 9L)")).as("vbin"), col("rm"), col("cm"))
      .withColumn("ref_n", coalesce(expr("rm[vbin]"), lit(0L)))
      .withColumn("cur_n", coalesce(expr("cm[vbin]"), lit(0L)))
      .drop("rm", "cm")
      .withColumn("ref_ppm", expr("((ref_n + 1) * 1000000) div (ref_total + 10)"))
      .withColumn("cur_ppm", expr("((cur_n + 1) * 1000000) div (cur_total + 10)"))
    val contrib = grid
      .withColumn("lr", expr(graft.text.TextAnalysis.ilog2x4096("ref_ppm"))
        - expr(graft.text.TextAnalysis.ilog2x4096("cur_ppm")))
      .withColumn("c_micro", expr("((ref_ppm - cur_ppm) * lr) div 4096"))
    contrib.groupBy(col("event_type"))
      .agg(max(col("ref_total")).as("ref_total"),
        max(col("cur_total")).as("cur_total"),
        sum(col("c_micro")).as("psi_micro_log2"),
        max_by(col("vbin"), struct(col("c_micro"), -col("vbin"))).as("top_bin"),
        max(col("c_micro")).as("top_contrib_micro"))
      .withColumn("verdict",
        when(col("psi_micro_log2") < 144269L, "stable")
          .when(col("psi_micro_log2") < 360673L, "moderate")
          .otherwise("shifted"))
      .select(col("event_type"), col("ref_total"), col("cur_total"),
        col("psi_micro_log2"), col("top_bin"), col("top_contrib_micro"),
        col("verdict"))
      .orderBy(col("event_type"))
  }

  /** The Markov-attribution oracle: journey truncation, transition
    * counts, then 1 + |channels| chain variants × [[MarkovSteps]]
    * absorption iterations as generated CTEs over the tiny state
    * frames. */
  /** Shared DuckDB prologue for the journey-based attribution oracles
    * ([[qAttrMarkov]], [[qAttrShapley]]): `fp` = each user's FIRST
    * purchase in (ts, event_id) order, `tch` = the non-purchase events
    * strictly before it — the engine's struct-ordered journey
    * definition, replayed once. */
  private def journeyCtes: String =
    """fp AS MATERIALIZED (
      |  SELECT user_id, ts AS pts, event_id AS pid FROM (
      |    SELECT user_id, ts, event_id,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM events WHERE event_type = 'purchase') q WHERE rn = 1),
      |tch AS MATERIALIZED (
      |  SELECT e.user_id, e.event_type, e.ts, e.event_id
      |  FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
      |  WHERE e.event_type <> 'purchase'
      |    AND (fp.user_id IS NULL OR (e.ts, e.event_id) < (fp.pts, fp.pid)))""".stripMargin

  /** The Shapley oracle: journey prologue → per-user channel bitmask →
    * observed v(S) over the full 2^|C| mask grid → the 32-row marginal
    * lattice with factorial weights → sign-split div-|C|! values and
    * positive-part credit shares. Pure integer arithmetic end to end. */
  private def attrShapleyOracle: String = {
    val n = MarkovChannels.length
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val bitCase = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1L << i}" }
      .mkString("CASE event_type ", " ", " ELSE 0 END")
    val chCase = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"WHEN $i THEN '$c'" }
      .mkString("CASE ch.i ", " ", " END")
    val pop = (0 until n).map(b => s"((m.m >> $b) & 1)").mkString(" + ")
    val coefCase = (0 until n)
      .map(sz => s"WHEN $sz THEN ${fact(sz) * fact(n - 1 - sz)}")
      .mkString(s"CASE ($pop) ", " ", " END")
    s"""WITH $journeyCtes,
       |um AS (
       |  SELECT user_id, CAST(sum(bit) AS BIGINT) AS mask FROM (
       |    SELECT DISTINCT user_id, $bitCase AS bit FROM tch) q
       |  WHERE bit > 0 GROUP BY user_id),
       |usr AS (
       |  SELECT coalesce(um.mask, 0) AS mask,
       |    CASE WHEN fp.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
       |  FROM (SELECT DISTINCT user_id FROM events) u
       |  LEFT JOIN fp ON fp.user_id = u.user_id
       |  LEFT JOIN um ON um.user_id = u.user_id),
       |vobs AS (
       |  SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
       |         CAST(sum(conv) AS BIGINT) AS n_conv
       |  FROM usr GROUP BY mask),
       |vall AS MATERIALIZED (
       |  SELECT g.mask, coalesce(vobs.n_users, 0) AS n_users,
       |    CASE WHEN coalesce(vobs.n_users, 0) > 0
       |      THEN (vobs.n_conv * 1000000) // vobs.n_users ELSE 0 END AS v_ppm
       |  FROM range(0, ${1 << n}) g(mask)
       |  LEFT JOIN vobs ON vobs.mask = g.mask),
       |lat AS (
       |  SELECT $chCase AS channel, m.m AS m0, m.m + (1 << ch.i) AS m1,
       |    $coefCase AS coef
       |  FROM range(0, $n) ch(i), range(0, ${1 << n}) m(m)
       |  WHERE ((m.m >> ch.i) & 1) = 0),
       |j AS (
       |  SELECT lat.channel, lat.coef, v0.v_ppm AS v0, v1.v_ppm AS v1,
       |         v1.n_users AS n_with
       |  FROM lat JOIN vall v0 ON v0.mask = lat.m0
       |           JOIN vall v1 ON v1.mask = lat.m1),
       |phi AS (
       |  SELECT channel, CAST(sum(n_with) AS BIGINT) AS touched_users,
       |         CAST(sum(coef * (v1 - v0)) AS BIGINT) AS phi_scaled
       |  FROM j GROUP BY channel),
       |tot AS (SELECT CAST(sum(greatest(phi_scaled, 0)) AS BIGINT) AS pos_total
       |        FROM phi)
       |SELECT phi.channel, phi.touched_users,
       |  CAST(CASE WHEN phi_scaled < 0 THEN -((-phi_scaled) // ${fact(n)})
       |       ELSE phi_scaled // ${fact(n)} END AS BIGINT) AS shapley_ppm,
       |  CAST(CASE WHEN tot.pos_total > 0
       |       THEN (greatest(phi_scaled, 0) * 1000) // tot.pos_total
       |       ELSE 0 END AS BIGINT) AS credit_permille
       |FROM phi CROSS JOIN tot ORDER BY phi.channel""".stripMargin
  }

  private def attrMarkovOracle: String = {
    val k = MarkovSteps
    val variants: Seq[(String, Option[String])] =
      ("full", None) +: MarkovChannels.map(c => (c, Some(c)))
    val variantCtes = variants.map {
      case (name, None) =>
        s"tv_$name AS MATERIALIZED (SELECT s, t, tp FROM bigt)"
      case (name, Some(c)) =>
        s"""tv_$name AS MATERIALIZED (
           |  SELECT s, CASE WHEN t = '$c' THEN 'null' ELSE t END AS t,
           |         CAST(sum(tp) AS BIGINT) AS tp
           |  FROM bigt WHERE s <> '$c' GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val iterCtes = variants.map { case (name, _) =>
      (s"""p_${name}_0 AS (SELECT state,
          |  CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END AS BIGINT) AS p
          |  FROM states)""".stripMargin +:
        (1 to k).map { i =>
          s"""p_${name}_$i AS (
             |  SELECT st.state,
             |    CAST(CASE WHEN st.state = 'conv' THEN 1000000
             |         WHEN st.state = 'null' THEN 0
             |         ELSE coalesce(x.pn, 0) END AS BIGINT) AS p
             |  FROM states st LEFT JOIN (
             |    SELECT tv.s AS state,
             |           CAST(sum(tv.tp * pp.p) // 1000000 AS BIGINT) AS pn
             |    FROM tv_$name tv JOIN p_${name}_${i - 1} pp ON pp.state = tv.t
             |    GROUP BY tv.s) x ON x.state = st.state)""".stripMargin
        }).mkString(",\n")
    }.mkString(",\n")
    val rowSelects = MarkovChannels.map { c =>
      s"""  SELECT '$c' AS channel,
         |    (SELECT p FROM p_full_$k WHERE state = 'start') AS p_full_ppm,
         |    (SELECT p FROM p_${c}_$k WHERE state = 'start') AS p_removed_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $journeyCtes,
       |stp AS (
       |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id), 'start') AS s,
       |         event_type AS t
       |  FROM tch),
       |lt AS (
       |  SELECT user_id, event_type AS last_t FROM (
       |    SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn FROM tch) q WHERE rn = 1),
       |ue AS (
       |  SELECT coalesce(lt.last_t, 'start') AS s,
       |    CASE WHEN fp.user_id IS NOT NULL THEN 'conv' ELSE 'null' END AS t
       |  FROM (SELECT DISTINCT user_id FROM events) u
       |  LEFT JOIN fp ON fp.user_id = u.user_id
       |  LEFT JOIN lt ON lt.user_id = u.user_id),
       |tr AS (
       |  SELECT s, t, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT s, t FROM stp UNION ALL SELECT s, t FROM ue) z
       |  GROUP BY 1, 2),
       |tt AS (SELECT s, CAST(sum(n) AS BIGINT) AS tn FROM tr GROUP BY 1),
       |bigt AS MATERIALIZED (
       |  SELECT tr.s, tr.t, (tr.n * 1000000) // tt.tn AS tp
       |  FROM tr JOIN tt ON tt.s = tr.s),
       |states AS MATERIALIZED (
       |  SELECT DISTINCT state FROM (
       |    SELECT s AS state FROM bigt UNION SELECT t AS state FROM bigt) q),
       |$variantCtes,
       |$iterCtes,
       |rows0 AS (
       |$rowSelects),
       |re AS (SELECT *,
       |  CASE WHEN p_full_ppm > 0
       |    THEN (greatest(0, p_full_ppm - p_removed_ppm) * 1000000) // p_full_ppm
       |    ELSE 0 END AS removal_effect_ppm FROM rows0),
       |rt AS (SELECT CAST(sum(removal_effect_ppm) AS BIGINT) AS re_total FROM re)
       |SELECT re.channel, re.p_full_ppm, re.p_removed_ppm,
       |  re.removal_effect_ppm,
       |  CAST(CASE WHEN rt.re_total > 0
       |    THEN (re.removal_effect_ppm * 1000) // rt.re_total
       |    ELSE 0 END AS BIGINT) AS credit_permille
       |FROM re CROSS JOIN rt ORDER BY re.channel""".stripMargin
  }

  /** The PSI oracle: the drift split + full grid + smoothed shares,
    * both sides' log2 through the generated 12-step integer chain
    * (the langid oracle's machinery, keyed here on (type, bin, side)),
    * then the (p−q)·Δlog2 rollup. */
  private def psiDriftOracle: String = {
    val logSteps = (0 until 12).map { i =>
      s"""l${i + 1} AS (SELECT event_type, vbin, side,
         |  CASE WHEN (m*m)>>12 >= 8192 THEN ((m*m)>>12)>>1 ELSE (m*m)>>12 END AS m,
         |  r + CASE WHEN (m*m)>>12 >= 8192 THEN 1<<${11 - i} ELSE 0 END AS r
         |  FROM l$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT event_type,
       |    LEAST(9, CAST(FLOOR(value / 50) AS BIGINT)) AS vbin,
       |    (ts < TIMESTAMP '2024-01-16') AS is_ref
       |  FROM events),
       |c AS (
       |  SELECT event_type, vbin,
       |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
       |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
       |  FROM b GROUP BY 1, 2),
       |t AS (
       |  SELECT event_type,
       |    CAST(SUM(ref_n) AS BIGINT) AS ref_total,
       |    CAST(SUM(cur_n) AS BIGINT) AS cur_total
       |  FROM c GROUP BY 1),
       |grid AS (
       |  SELECT t.event_type, t.ref_total, t.cur_total, g.vbin,
       |    coalesce(c.ref_n, 0) AS ref_n, coalesce(c.cur_n, 0) AS cur_n
       |  FROM t CROSS JOIN (SELECT unnest(range(0, 10)) AS vbin) g
       |  LEFT JOIN c ON c.event_type = t.event_type AND c.vbin = g.vbin),
       |sm AS MATERIALIZED (
       |  SELECT event_type, vbin, ref_total, cur_total, ref_n, cur_n,
       |    ((ref_n + 1) * 1000000) // (ref_total + 10) AS ref_ppm,
       |    ((cur_n + 1) * 1000000) // (cur_total + 10) AS cur_ppm
       |  FROM grid),
       |u AS (
       |  SELECT event_type, vbin, 'ref' AS side, ref_ppm AS ppm FROM sm
       |  UNION ALL
       |  SELECT event_type, vbin, 'cur' AS side, cur_ppm AS ppm FROM sm),
       |l0 AS (SELECT event_type, vbin, side,
       |  (ppm * 4096) >> (length(bin(ppm)) - 1) AS m,
       |  (length(bin(ppm)) - 1) * 4096 AS r FROM u),
       |$logSteps,
       |lg AS (SELECT event_type, vbin,
       |  sum(CASE WHEN side = 'ref' THEN r END) AS log_ref,
       |  sum(CASE WHEN side = 'cur' THEN r END) AS log_cur
       |  FROM l12 GROUP BY 1, 2),
       |cb AS (
       |  SELECT sm.event_type, sm.vbin, sm.ref_total, sm.cur_total,
       |    ((sm.ref_ppm - sm.cur_ppm) * (lg.log_ref - lg.log_cur)) // 4096 AS c_micro
       |  FROM sm JOIN lg ON lg.event_type = sm.event_type AND lg.vbin = sm.vbin),
       |agg AS (
       |  SELECT event_type,
       |    CAST(max(ref_total) AS BIGINT) AS ref_total,
       |    CAST(max(cur_total) AS BIGINT) AS cur_total,
       |    CAST(sum(c_micro) AS BIGINT) AS psi_micro_log2,
       |    CAST(max(c_micro) AS BIGINT) AS top_contrib_micro
       |  FROM cb GROUP BY 1),
       |top AS (
       |  SELECT event_type, vbin AS top_bin FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY c_micro DESC, vbin) AS rn FROM cb) WHERE rn = 1)
       |SELECT a.event_type, a.ref_total, a.cur_total, a.psi_micro_log2,
       |  CAST(top.top_bin AS BIGINT) AS top_bin, a.top_contrib_micro,
       |  CASE WHEN a.psi_micro_log2 < 144269 THEN 'stable'
       |       WHEN a.psi_micro_log2 < 360673 THEN 'moderate'
       |       ELSE 'shifted' END AS verdict
       |FROM agg a JOIN top ON top.event_type = a.event_type
       |ORDER BY a.event_type""".stripMargin
  }

  /** Hex-bucket SQL for the hashed-token feature space of
    * [[qImportanceDsir]]: first 2 hex chars of md5("imp|" + operand)
    * → 0..255, written so the identical expression runs in Spark and
    * (with substr/`'||'`) DuckDB. */
  private[graft] def impBucketSql(operand: String): String = {
    val hx = s"md5(cast(concat('imp|', $operand) as binary))"
    s"cast((instr('0123456789abcdef', substring($hx, 1, 1)) - 1) * 16 + " +
      s"(instr('0123456789abcdef', substring($hx, 2, 1)) - 1) as bigint)"
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more its hashed-token distribution looks
    * like the TARGET corpus (sources src0-src2, the high-quality mix
    * tier of [[qMixWeighted]]) than like the raw corpus overall.
    *
    * Tokens hash into 256 md5 buckets; each bucket gets an integer
    * weight = add-one-smoothed target probability minus raw
    * probability, both in parts-per-million (fixed-point BIGINT — the
    * oracle is exact, no float log-likelihoods); a document's
    * importance is the sum of its tokens' bucket weights, and
    * `target_like` marks docs whose token mix is net target-leaning —
    * the DSIR resampling key.
    *
    * Scale shape (100 TB): ONE map-side-combined shuffle collapses all
    * tokens to 256 bucket rows; the 256-entry weight map broadcasts
    * back as a single-row map column; scoring is then a pure per-row
    * `aggregate` over the token array — scan speed, zero doc-keyed
    * shuffle, no join back. Every token's bucket exists in the map by
    * construction (stats come from the same corpus). Bucket counts are
    * multiplied by 1e6 before the integral division, so counts up to
    * ~9e12 per bucket fit BIGINT; past that, pre-normalize counts to
    * permille before weighting. */
  def qImportanceDsir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    withImportanceScore(docs, importanceWeights(docs))
      .select($"doc_id", $"source", $"n_tokens", $"imp_score", $"target_like")
      .orderBy($"doc_id")
  }

  /** The 256-row (b, w) bucket-weight table of [[qImportanceDsir]],
    * learned over the corpus and applied by [[withImportanceScore]]. */
  private[graft] def importanceWeights(docs: DataFrame): DataFrame = {
    val bucketed = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("b", expr(impBucketSql("token")))
    val stats = bucketed.groupBy(col("b")).agg(
      count(lit(1)).as("r_b"),
      count(when(col("source").isin("src0", "src1", "src2"), 1)).as("t_b"))
    val tot = stats.agg(sum(col("r_b")).as("rtot"), sum(col("t_b")).as("ttot"))
    stats.crossJoin(broadcast(tot))
      .select(col("b"), (expr("((t_b + 1) * 1000000) div (ttot + 256)") -
        expr("((r_b + 1) * 1000000) div (rtot + 256)")).as("w"))
  }

  /** Scores a doc frame against a (b, w) weight table: the weights
    * collapse to a 1-row map column riding a broadcast, and the score
    * is a per-row `aggregate` over the token array — no doc-keyed
    * shuffle, no join back. */
  private[graft] def withImportanceScore(docs: DataFrame, weights: DataFrame): DataFrame = {
    val wmap = weights
      .agg(map_from_entries(collect_list(struct(col("b"), col("w")))).as("wmap"))
      .withColumn("one", lit(1))
    docs.withColumn("one", lit(1))
      .join(broadcast(wmap), Seq("one"))
      .withColumn("toks", expr("filter(split(text, ' '), x -> length(x) > 0)"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("imp_score",
        coalesce(expr("aggregate(toks, cast(0 as bigint), (acc, t) -> acc + wmap[" +
          impBucketSql("t") + "])"), lit(0L)))
      .withColumn("target_like", col("imp_score") > 0)
      .drop("one", "wmap", "toks")
  }

  /** Temperature-scaled source mixture weights — the multilingual-LM
    * sampling exponent (sampling probability ∝ size^α, α = 1/2 here):
    * small sources get upsampled relative to their raw token share,
    * large sources downsampled, flattening the mixture without going
    * uniform. Emits per-source raw vs temperature share (ppm) and the
    * resulting boost factor (permille; >1000 = upsampled).
    *
    * α = 1/2 keeps the arithmetic engine-exact: `floor(sqrt(x))` on a
    * BIGINT is the same number in Spark and DuckDB because IEEE sqrt is
    * correctly rounded and both cast through the same double (exact for
    * token counts < 2^52; beyond that, switch to an integer Newton
    * isqrt). Shape: one map-side-combined shuffle to the per-source
    * grid (5 rows), totals broadcast back — scan-bound at any scale. */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = Tables.load(spark, dir, "documents")
      .select($"source",
        expr("cast(size(filter(split(text, ' '), x -> length(x) > 0)) as long)")
          .as("n_toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
      .withColumn("w_raw",
        expr("cast(floor(sqrt(cast(n_tokens as double))) as bigint)"))
    val tot = stats.agg(sum($"w_raw").as("wtot"), sum($"n_tokens").as("ttot"))
    stats.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        expr("(n_tokens * 1000000) div ttot").as("raw_ppm"),
        expr("(w_raw * 1000000) div wtot").as("sample_ppm"))
      .withColumn("boost_permille", expr("(sample_ppm * 1000) div raw_ppm"))
      .orderBy($"source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile_columns" -> qProfileColumns,
    "q_quality_gopher" -> qQualityGopher,
    "q_quality_repetition" -> qQualityRepetition,
    "q_sample_hash" -> qSampleHash,
    "q_sample_stratified" -> qSampleStratified,
    "q_dedup_norm" -> qDedupNorm,
    "q_funnel" -> qFunnel,
    "q_funnel_latency" -> qFunnelLatency,
    "q_url_dedup" -> qUrlDedup,
    "q_domain_mix" -> qDomainMix,
    "q_funnel_deadline" -> qFunnelDeadline,
    "q_mix_weighted" -> qMixWeighted,
    "q_mix_temperature" -> qMixTemperature,
    "q_importance_dsir" -> qImportanceDsir,
    "q_attribution" -> qAttribution,
    "q_attr_multitouch" -> qAttrMultitouch,
    "q_attr_markov" -> qAttrMarkov,
    "q_attr_shapley" -> qAttrShapley,
    "q_source_ablation" -> qSourceAblation,
    "q_conformal_coverage" -> qConformalCoverage,
    "q_anova_f" -> qAnovaF,
    "q_ab_mannwhitney" -> qAbMannWhitney,
    "q_ab_sequential" -> qAbSequential,
    "q_sample_neyman" -> qSampleNeyman,
    "q_mix_neff" -> qMixNeff,
    "q_corpus_datasheet" -> qCorpusDatasheet,
    "q_epoch_shard" -> qEpochShard,
    "q_shard_shuffle_audit" -> qShardShuffleAudit,
    "q_template_detect" -> qTemplateDetect,
    "q_ks_sources" -> qKsSources,
    "q_mix_rebalance" -> qMixRebalance,
    "q_mix_doremi" -> qMixDoremi,
    "q_secret_census" -> qSecretCensus,
    "q_feature_hash_audit" -> qFeatureHashAudit,
    "q_sample_bottomk" -> qSampleBottomK,
    "q_curriculum" -> qCurriculum,
    "q_kanon_audit" -> qKanonAudit,
    "q_ldiversity_audit" -> qLdiversityAudit,
    "q_classifier_auc" -> qClassifierAuc,
    "q_calibration" -> qCalibration,
    "q_expectations" -> ((sp, d) => Expectations.standardSuite(sp, d)),
    "q_ab_ztest" -> qAbZtest,
    "q_ab_srm" -> qAbSrm,
    "q_quantile_norm" -> qQuantileNorm,
    "q_sample_pps" -> qSamplePps,
    "q_ab_cuped" -> qAbCuped,
    "q_token_budget" -> qTokenBudget,
    "q_quality_bins" -> qQualityBins,
    "q_pii_scrub" -> qPiiScrub,
    "q_code_detect" -> qCodeDetect,
    "q_quality_drift" -> qQualityDrift,
    "q_psi_drift" -> qPsiDrift,
    "q_pipeline_curation" -> qPipelineCuration,
    "q_mix_divergence" -> qMixDivergence,
    "q_pipeline_funnel" -> qPipelineFunnel
  )

  /** DuckDB CTE chain replaying [[curationVerdicts]] end to end,
    * ending in `v(doc_id, source, n_words, contam_permille, verdict)` —
    * shared by the per-doc and funnel oracles. Reuses the proven
    * shingle prologue (`Dedup.duckShingleCte`) and the head-fingerprint
    * expression of the incremental-dedup oracle. */
  private def duckPipelineCte: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""${graft.dedup.Dedup.duckShingleCte},
       |bench AS (SELECT DISTINCT unnest(sh) AS g FROM d WHERE source = 'src0'),
       |cd AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, sh
       |       FROM d WHERE source <> 'src0' AND len(sh) > 0),
       |cg AS (SELECT doc_id, unnest(sh) AS g FROM cd),
       |hits AS (SELECT doc_id, count(*) AS hits
       |         FROM cg JOIN bench USING (g) GROUP BY doc_id),
       |contam AS (
       |  SELECT cd.doc_id,
       |    CAST((COALESCE(h.hits, 0) * 1000) // cd.n_sh AS BIGINT) AS cp
       |  FROM cd LEFT JOIN hits h ON h.doc_id = cd.doc_id),
       |g AS (
       |  SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws,
       |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
       |  FROM documents WHERE source <> 'src0'),
       |m AS (
       |  SELECT doc_id, source, fp,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wlen,
       |    CAST(len(list_filter(ws, x -> x IN ($stopList))) AS BIGINT) AS stop_hits
       |  FROM g),
       |q AS (
       |  SELECT doc_id, source, fp, n_words,
       |    (n_words BETWEEN 50 AND 100000)
       |      AND ((sum_wlen * 1000) // nullif(n_words, 0) BETWEEN 3000 AND 10000)
       |      AND (stop_hits >= 2) AS quality_pass
       |  FROM m),
       |dd AS (
       |  SELECT q.*,
       |    min(CASE WHEN quality_pass THEN doc_id END) OVER (PARTITION BY fp) AS canon
       |  FROM q),
       |mx AS (
       |  SELECT dd.*,
       |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
       |         WHEN source IN ('src3', 'src4') THEN 500
       |         ELSE 200 END AS rate_permille,
       |    (instr('0123456789abcdef',
       |       substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |    + (instr('0123456789abcdef',
       |       substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hv
       |  FROM dd),
       |v AS (
       |  SELECT mx.doc_id, mx.source, mx.n_words,
       |    CAST(COALESCE(c.cp, 0) AS BIGINT) AS contam_permille,
       |    CASE WHEN NOT quality_pass THEN 'gate_fail'
       |         WHEN mx.doc_id <> canon THEN 'dup'
       |         WHEN COALESCE(c.cp, 0) >= $PipelineContamThreshold THEN 'contaminated'
       |         WHEN (hv * 1000) // 256 >= rate_permille THEN 'sampled_out'
       |         ELSE 'kept' END AS verdict
       |  FROM mx LEFT JOIN contam c ON c.doc_id = mx.doc_id)""".stripMargin
  }

  /** DuckDB CTE producing doc_id/lang/n_words/score — the shared gate
    * metrics + integer quality score, mirroring [[withQualityGate]] +
    * [[scoreCol]]. */
  private def duckScoreCte: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, lang,
       |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wlen,
       |    CAST(len(list_filter(ws, x -> x IN ($stopList))) AS BIGINT) AS stop_hits
       |  FROM w),
       |s AS (
       |  SELECT doc_id, lang, n_words,
       |    stop_hits * 100000 + COALESCE((sum_wlen * 1000) // nullif(n_words, 0), 0) AS score
       |  FROM m)""".stripMargin
  }

  /** The synthesized-raw-URL → normalized-URL CTE chain shared by the
    * two URL-curation oracles — the exact DuckDB replay of
    * [[urlFrame]] (// is DuckDB floor division = Spark div on
    * non-negative doc_id). */
  private val duckUrlCte: String =
    """u AS MATERIALIZED (
      |  SELECT doc_id, n_chars,
      |    (doc_id // 7) % 5 AS site,
      |    CASE WHEN doc_id % 7 <= (doc_id // 7) % 5
      |         THEN (doc_id // 7) * 7 ELSE doc_id END AS canon
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, n_chars, canon,
      |    concat('site', CAST(site AS VARCHAR), '.example.',
      |      CASE WHEN site % 2 = 0 THEN 'com' ELSE 'org' END) AS host
      |  FROM u),
      |r AS (
      |  SELECT doc_id, n_chars,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN concat('https://', host, '/page/', CAST(canon AS VARCHAR))
      |      WHEN 1 THEN concat('http://www.', host, '/page/', CAST(canon AS VARCHAR), '/')
      |      WHEN 2 THEN concat('HTTPS://', upper(host), '/page/', CAST(canon AS VARCHAR),
      |        '?utm_source=feed&utm_campaign=x')
      |      ELSE concat('https://', host, '/page/', CAST(canon AS VARCHAR), '#section-2')
      |    END AS raw_url
      |  FROM h),
      |nu AS MATERIALIZED (
      |  SELECT doc_id, n_chars, raw_url,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      lower(raw_url), '^[a-z]+://', ''), '^www\.', ''),
      |      '[?#].*$', ''), '/$', '') AS url
      |  FROM r)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_url_dedup" ->
      s"""WITH $duckUrlCte,
         |g AS (SELECT url, CAST(count(*) AS BIGINT) AS n_dups,
         |       min(doc_id) AS keeper_id
         |      FROM nu GROUP BY url)
         |SELECT nu.doc_id, nu.raw_url, nu.url,
         |  split_part(nu.url, '/', 1) AS domain,
         |  g.n_dups, nu.doc_id = g.keeper_id AS keeper
         |FROM nu JOIN g USING (url)
         |ORDER BY nu.doc_id""".stripMargin,

    "q_domain_mix" ->
      s"""WITH $duckUrlCte,
         |d AS (SELECT split_part(url, '/', 1) AS domain,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT url) AS BIGINT) AS n_pages,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |      FROM nu GROUP BY 1),
         |s AS (SELECT domain, n_docs, n_pages, sum_chars,
         |       ((n_docs - n_pages) * 1000) // n_docs AS dup_permille
         |      FROM d),
         |s2 AS (SELECT *, 1000 - dup_permille AS rep_permille FROM s),
         |s3 AS (SELECT *,
         |        CASE WHEN rep_permille >= 900 THEN 900
         |             WHEN rep_permille >= 700 THEN 500
         |             ELSE 200 END AS keep_permille
         |       FROM s2)
         |SELECT domain, n_docs, n_pages, sum_chars, dup_permille,
         |  rep_permille, CAST(keep_permille AS BIGINT) AS keep_permille,
         |  (n_docs * keep_permille) // 1000 AS kept_docs_budget
         |FROM s3 ORDER BY domain""".stripMargin,

    "q_profile_columns" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(CASE WHEN doc_id IS NULL THEN 1 END) AS BIGINT) AS doc_id__nulls,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_id__distinct,
        |    min(CAST(doc_id AS VARCHAR)) AS doc_id__min, max(CAST(doc_id AS VARCHAR)) AS doc_id__max,
        |    CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS text__nulls,
        |    CAST(count(DISTINCT text) AS BIGINT) AS text__distinct,
        |    min(text) AS text__min, max(text) AS text__max,
        |    CAST(count(CASE WHEN lang IS NULL THEN 1 END) AS BIGINT) AS lang__nulls,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS lang__distinct,
        |    min(lang) AS lang__min, max(lang) AS lang__max,
        |    CAST(count(CASE WHEN source IS NULL THEN 1 END) AS BIGINT) AS source__nulls,
        |    CAST(count(DISTINCT source) AS BIGINT) AS source__distinct,
        |    min(source) AS source__min, max(source) AS source__max,
        |    CAST(count(CASE WHEN n_chars IS NULL THEN 1 END) AS BIGINT) AS n_chars__nulls,
        |    CAST(count(DISTINCT n_chars) AS BIGINT) AS n_chars__distinct,
        |    min(CAST(n_chars AS VARCHAR)) AS n_chars__min, max(CAST(n_chars AS VARCHAR)) AS n_chars__max
        |  FROM documents)
        |SELECT 'doc_id' AS col_name, n_rows, doc_id__nulls AS n_nulls,
        |       doc_id__distinct AS n_distinct, doc_id__min AS min_text, doc_id__max AS max_text FROM a
        |UNION ALL SELECT 'lang', n_rows, lang__nulls, lang__distinct, lang__min, lang__max FROM a
        |UNION ALL SELECT 'n_chars', n_rows, n_chars__nulls, n_chars__distinct, n_chars__min, n_chars__max FROM a
        |UNION ALL SELECT 'source', n_rows, source__nulls, source__distinct, source__min, source__max FROM a
        |UNION ALL SELECT 'text', n_rows, text__nulls, text__distinct, text__min, text__max FROM a
        |ORDER BY col_name""".stripMargin,
    "q_quality_gopher" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wlen,
         |    CAST(len(list_filter(ws, x -> x IN (${stopwords.map(s => s"'$s'").mkString(", ")}))) AS BIGINT) AS stop_hits
         |  FROM w)
         |SELECT doc_id, n_words, sum_wlen,
         |  (sum_wlen * 1000) // nullif(n_words, 0) AS mean_wlen_permille,
         |  stop_hits,
         |  n_words BETWEEN 50 AND 100000 AS ok_word_count,
         |  (sum_wlen * 1000) // nullif(n_words, 0) BETWEEN 3000 AND 10000 AS ok_mean_wlen,
         |  stop_hits >= 2 AS ok_stopwords,
         |  (n_words BETWEEN 50 AND 100000)
         |    AND ((sum_wlen * 1000) // nullif(n_words, 0) BETWEEN 3000 AND 10000)
         |    AND (stop_hits >= 2) AS quality_pass
         |FROM m ORDER BY doc_id""".stripMargin,

    "q_quality_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |uni AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(ws) AS tok FROM w)
        |  GROUP BY doc_id, tok),
        |ustat AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |         CAST(count(*) AS BIGINT) AS n_distinct_words,
        |         CAST(max(c) AS BIGINT) AS top_word_n
        |  FROM uni GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bs
        |  FROM w),
        |bi AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(bs) AS tok FROM bg)
        |  GROUP BY doc_id, tok),
        |bstat AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         CAST(count(*) AS BIGINT) AS n_distinct_bigrams
        |  FROM bi GROUP BY doc_id)
        |SELECT u.doc_id, u.n_words, u.n_distinct_words, u.top_word_n,
        |  (u.top_word_n * 1000) // nullif(u.n_words, 0) AS top_word_permille,
        |  coalesce(b.n_bigrams, 0) AS n_bigrams,
        |  coalesce(b.n_bigrams - b.n_distinct_bigrams, 0) AS n_dup_bigrams,
        |  ((b.n_bigrams - b.n_distinct_bigrams) * 1000) // nullif(b.n_bigrams, 0)
        |    AS dup_bigram_permille
        |FROM ustat u LEFT JOIN bstat b ON u.doc_id = b.doc_id
        |ORDER BY u.doc_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    "q_dedup_norm" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                               '\s+', ' ', 'g'))) AS norm_fp,
        |       count(*) AS n_docs, min(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1 ORDER BY canonical_doc_id""".stripMargin,

    "q_mix_weighted" ->
      """WITH d AS (
        |  SELECT source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
        |         WHEN source IN ('src3', 'src4') THEN 500
        |         ELSE 200 END AS rate_permille,
        |    (instr('0123456789abcdef',
        |       substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + (instr('0123456789abcdef',
        |       substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hv
        |  FROM documents)
        |SELECT source, CAST(rate_permille AS BIGINT) AS rate_permille,
        |  count(*) AS n_docs,
        |  CAST(count(CASE WHEN (hv * 1000) // 256 < rate_permille THEN 1 END) AS BIGINT) AS n_kept
        |FROM d GROUP BY source, rate_permille ORDER BY source""".stripMargin,

    "q_mix_temperature" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> len(x) > 0)))
        |         AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_raw
        |      FROM s),
        |t AS (SELECT CAST(SUM(w_raw) AS BIGINT) AS wtot,
        |             CAST(SUM(n_tokens) AS BIGINT) AS ttot FROM w)
        |SELECT source, n_docs, n_tokens,
        |  CAST((n_tokens * 1000000) // ttot AS BIGINT) AS raw_ppm,
        |  CAST((w_raw * 1000000) // wtot AS BIGINT) AS sample_ppm,
        |  CAST((((w_raw * 1000000) // wtot) * 1000)
        |       // ((n_tokens * 1000000) // ttot) AS BIGINT) AS boost_permille
        |FROM w, t ORDER BY source""".stripMargin,

    "q_importance_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id, source,
        |    (instr('0123456789abcdef', substr(md5('imp|' || token), 1, 1)) - 1) * 16
        |    + (instr('0123456789abcdef', substr(md5('imp|' || token), 2, 1)) - 1) AS b
        |  FROM tok),
        |stats AS (
        |  SELECT b, count(*) AS r_b,
        |         count(CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 END) AS t_b
        |  FROM tb GROUP BY b),
        |tot AS (SELECT sum(r_b) AS rtot, sum(t_b) AS ttot FROM stats),
        |w AS (
        |  SELECT b, ((t_b + 1) * 1000000) // (ttot + 256)
        |           - ((r_b + 1) * 1000000) // (rtot + 256) AS w
        |  FROM stats, tot),
        |ds AS (
        |  SELECT tb.doc_id, count(*) AS n_tokens, sum(w.w) AS imp_score
        |  FROM tb JOIN w ON tb.b = w.b
        |  GROUP BY tb.doc_id)
        |SELECT d.doc_id, d.source,
        |  CAST(COALESCE(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(ds.imp_score, 0) AS BIGINT) AS imp_score,
        |  COALESCE(ds.imp_score, 0) > 0 AS target_like
        |FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(epoch_us(ts)) AS v_ep FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS c_ep FROM events e
        |      JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) >= v.v_ep
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_ep FROM events e
        |      JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) >= c.c_ep
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT u.user_id, v.v_ep AS view_ep, c.c_ep AS click_ep, p.p_ep AS purchase_ep,
        |  CAST(CASE WHEN p.p_ep IS NOT NULL THEN 3
        |            WHEN c.c_ep IS NOT NULL THEN 2
        |            WHEN v.v_ep IS NOT NULL THEN 1
        |            ELSE 0 END AS INT) AS stage
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin,

    "q_funnel_deadline" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(epoch_us(ts)) AS v_ep FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS c_ep FROM events e
        |      JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) >= v.v_ep
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_ep FROM events e
        |      JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) >= c.c_ep
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |st AS (
        |  SELECT u.user_id,
        |    CASE WHEN p.p_ep IS NOT NULL AND p.p_ep - v.v_ep <= 604800000000
        |              AND c.c_ep IS NOT NULL AND c.c_ep - v.v_ep <= 604800000000
        |         THEN 3
        |         WHEN c.c_ep IS NOT NULL AND c.c_ep - v.v_ep <= 604800000000
        |         THEN 2
        |         WHEN v.v_ep IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM u LEFT JOIN v ON u.user_id = v.user_id
        |  LEFT JOIN c ON u.user_id = c.user_id
        |  LEFT JOIN p ON u.user_id = p.user_id),
        |cnt AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_users
        |        FROM st GROUP BY stage),
        |ent AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_entered
        |        FROM cnt WHERE stage >= 1)
        |SELECT stage, n_users,
        |  CAST(sum(n_users) OVER (ORDER BY stage DESC ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS reached,
        |  ent.n_entered,
        |  CASE WHEN stage = 0 THEN CAST(0 AS BIGINT)
        |       ELSE (CAST(sum(n_users) OVER (ORDER BY stage DESC
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000)
        |            // ent.n_entered END AS rate_ppm
        |FROM cnt, ent ORDER BY stage""".stripMargin,

    "q_funnel_latency" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_ep FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS c_ep FROM events e
        |      JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) >= v.v_ep
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_ep FROM events e
        |      JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) >= c.c_ep
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |lat AS (SELECT (p.p_ep - v.v_ep) // 1000000 AS sec
        |        FROM p JOIN v ON p.user_id = v.user_id),
        |g AS (SELECT sec AS v, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY sec),
        |vc AS (SELECT v, c,
        |         CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER () AS BIGINT) AS n
        |       FROM g)
        |SELECT max(n) AS n_converted,
        |  min(v) AS min_sec, max(v) AS max_sec,
        |  (max(CASE WHEN cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum THEN v END)
        |   + max(CASE WHEN cum - c < n // 2 + 1 AND n // 2 + 1 <= cum THEN v END)) / 2
        |    AS median_sec,
        |  max(CASE WHEN cum - c < (9 * n + 9) // 10 AND (9 * n + 9) // 10 <= cum THEN v END)
        |    AS p90_sec
        |FROM vc""".stripMargin,

    "q_expectations" ->
      """WITH li AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |      OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qr,
        |    CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
        |      OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS dr,
        |    CAST(SUM(CASE WHEN l_extendedprice IS NULL
        |      OR l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS pp
        |  FROM lineitem),
        |o AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dn,
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS pp,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS ku
        |  FROM orders),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS ku
        |  FROM customer),
        |ev AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN event_type NOT IN
        |      ('view', 'click', 'signup', 'purchase', 'error')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS en
        |  FROM events),
        |ri1 AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
        |    CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders oo WHERE oo.o_orderkey = l.l_orderkey))
        |      AS BIGINT) AS v),
        |ri2 AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
        |    CAST((SELECT COUNT(*) FROM orders oo WHERE NOT EXISTS
        |      (SELECT 1 FROM customer cc WHERE cc.c_custkey = oo.o_custkey))
        |      AS BIGINT) AS v),
        |u AS (
        |  SELECT 'lineitem_quantity_range' AS check_name, n_rows, qr AS n_violations FROM li
        |  UNION ALL SELECT 'lineitem_discount_range', n_rows, dr FROM li
        |  UNION ALL SELECT 'lineitem_price_positive', n_rows, pp FROM li
        |  UNION ALL SELECT 'orders_date_not_null', n_rows, dn FROM o
        |  UNION ALL SELECT 'orders_price_positive', n_rows, pp FROM o
        |  UNION ALL SELECT 'orders_key_unique', n_rows, ku FROM o
        |  UNION ALL SELECT 'customer_key_unique', n_rows, ku FROM c
        |  UNION ALL SELECT 'events_type_enum', n_rows, en FROM ev
        |  UNION ALL SELECT 'lineitem_orders_ri', n_rows, v FROM ri1
        |  UNION ALL SELECT 'orders_customer_ri', n_rows, v FROM ri2)
        |SELECT check_name, n_rows, n_violations, n_violations = 0 AS pass
        |FROM u ORDER BY check_name""".stripMargin,

    "q_calibration" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' ' || repeat('if (x) { y = x + 1; return y; } ',
        |                          CAST(doc_id % 20 AS INT)) AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_chars,
        |    CAST(len(t) - len(regexp_replace(t, '[{}();=+<>\[\]]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'),
        |      w -> w IN ('if','return','def','class','for','while','import','var','val')))
        |      AS BIGINT) AS kw_hits,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'), w -> w <> ''))
        |      AS BIGINT) AS n_words
        |  FROM aug),
        |scored AS (
        |  SELECT doc_id % 20 <> 0 AS label,
        |    ((n_sym * 1000000) // n_chars + (kw_hits * 1000000) // n_words) // 2
        |      AS score
        |  FROM m)
        |SELECT CAST(least(9, score // 5000) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score_ppm,
        |  CAST((SUM(CASE WHEN label THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
        |    AS BIGINT) AS pos_rate_ppm
        |FROM scored GROUP BY least(9, score // 5000)
        |ORDER BY bin""".stripMargin,

    "q_classifier_auc" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' ' || repeat('if (x) { y = x + 1; return y; } ',
        |                          CAST(doc_id % 20 AS INT)) AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_chars,
        |    CAST(len(t) - len(regexp_replace(t, '[{}();=+<>\[\]]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'),
        |      w -> w IN ('if','return','def','class','for','while','import','var','val')))
        |      AS BIGINT) AS kw_hits,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'), w -> w <> ''))
        |      AS BIGINT) AS n_words
        |  FROM aug),
        |scored AS (
        |  SELECT doc_id % 20 <> 0 AS label,
        |    ((n_sym * 1000000) // n_chars + (kw_hits * 1000000) // n_words) // 2
        |      AS score
        |  FROM m),
        |g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS g,
        |        CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS gpos
        |      FROM scored GROUP BY score),
        |r AS (SELECT *, COALESCE(SUM(g.g) OVER (ORDER BY score
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |      FROM g)
        |SELECT CAST(SUM(gpos) AS BIGINT) AS n_pos,
        |  CAST(SUM(g - gpos) AS BIGINT) AS n_neg,
        |  CAST(SUM(gpos * (2 * c + g + 1)) AS BIGINT) AS sum2r_pos,
        |  CAST(((SUM(gpos * (2 * c + g + 1)) - SUM(gpos) * (SUM(gpos) + 1)) * 1000000)
        |    // (2 * SUM(gpos) * SUM(g - gpos)) AS BIGINT) AS auc_ppm
        |FROM r""".stripMargin,

    "q_epoch_shard" ->
      """WITH e AS (
        |  SELECT doc_id, n_chars, CAST(unnest([0, 1]) AS BIGINT) AS epoch
        |  FROM documents),
        |h AS (
        |  SELECT epoch, n_chars,
        |    (instr('0123456789abcdef',
        |       substr(md5('ep' || CAST(epoch AS VARCHAR) || '|'
        |         || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + (instr('0123456789abcdef',
        |       substr(md5('ep' || CAST(epoch AS VARCHAR) || '|'
        |         || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hv
        |  FROM e)
        |SELECT epoch, CAST(hv % 32 AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM h GROUP BY epoch, hv % 32
        |ORDER BY epoch, shard""".stripMargin,

    "q_feature_hash_audit" ->
      """WITH vocab AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |v AS (SELECT token FROM vocab WHERE len(token) > 0),
        |b AS (
        |  SELECT token,
        |    ((instr('0123456789abcdef', substr(md5('fh|' || token), 1, 1)) - 1) * 256
        |     + (instr('0123456789abcdef', substr(md5('fh|' || token), 2, 1)) - 1) * 16
        |     + (instr('0123456789abcdef', substr(md5('fh|' || token), 3, 1)) - 1)) % 1024
        |      AS bucket
        |  FROM v),
        |occ AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
        |        FROM b GROUP BY bucket),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS vocab_size,
        |          CAST(count(*) AS BIGINT) AS buckets_used,
        |          CAST(max(n_tokens) AS BIGINT) AS max_bucket
        |        FROM occ)
        |SELECT occ.n_tokens AS occupancy,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  tot.vocab_size, tot.buckets_used,
        |  ((tot.vocab_size - tot.buckets_used) * 1000000) // tot.vocab_size
        |    AS collision_ppm,
        |  tot.max_bucket
        |FROM occ, tot
        |GROUP BY 1, 3, 4, 5, 6
        |ORDER BY occupancy""".stripMargin,

    "q_sample_bottomk" ->
      """WITH p AS (
        |  SELECT lang, doc_id,
        |    md5('bk|' || CAST(doc_id AS VARCHAR)) AS pri
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, pri,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY pri, doc_id) AS BIGINT) AS rank
        |  FROM p)
        |SELECT lang, rank, doc_id, pri FROM r WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,

    "q_secret_census" ->
      s"""WITH aug AS (
         |  SELECT source,
         |    text
         |      || CASE WHEN doc_id % 7 = 0 THEN ' AKIA'
         |           || upper(substring(md5('ak|' || CAST(doc_id AS VARCHAR)), 1, 16))
         |         ELSE '' END
         |      || CASE WHEN doc_id % 11 = 3 THEN ' '
         |           || md5('hx|' || CAST(doc_id AS VARCHAR))
         |         ELSE '' END
         |      || CASE WHEN doc_id % 13 = 5 THEN ' BEGIN RSA PRIVATE KEY'
         |         ELSE '' END AS t
         |  FROM documents),
         |f AS (
         |  SELECT source,
         |    regexp_matches(t, '$AwsKeyRe') AS has_aws,
         |    regexp_matches(t, '$Hex32Re') AS has_hex,
         |    regexp_matches(t, '$KeyHeaderRe') AS has_keyhdr
         |  FROM aug),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN has_aws THEN 1 ELSE 0 END) AS BIGINT) AS n_aws_docs,
         |    CAST(sum(CASE WHEN has_hex THEN 1 ELSE 0 END) AS BIGINT) AS n_hex_docs,
         |    CAST(sum(CASE WHEN has_keyhdr THEN 1 ELSE 0 END) AS BIGINT) AS n_keyhdr_docs,
         |    CAST(sum(CASE WHEN has_aws OR has_hex OR has_keyhdr THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_secret_docs
         |  FROM f GROUP BY 1)
         |SELECT source, n_docs, n_aws_docs, n_hex_docs, n_keyhdr_docs,
         |  n_secret_docs, (n_secret_docs * 1000) // n_docs AS secret_permille
         |FROM agg ORDER BY source""".stripMargin,

    // the MW loop unrolled as MATERIALIZED CTEs (the Bradley-Terry
    // oracle technique) — generated from the same iteration count and
    // the same integer ops as the driver-side fit
    "q_mix_doremi" -> {
      val iters = (0 until DoremiIters).map { k =>
        s"""m$k AS MATERIALIZED (
           |  SELECT sum(CAST(i.w AS HUGEINT) * l.loss_ppm) // sum(i.w) AS mean_loss
           |  FROM it$k i JOIN loss l USING (source)),
           |raw$k AS MATERIALIZED (
           |  SELECT l.source,
           |    greatest(1, (i.w * (1000000
           |      + ($DoremiEtaPpm * (l.loss_ppm - (SELECT mean_loss FROM m$k)))
           |        // 1000000)) // 1000000) AS w
           |  FROM it$k i JOIN loss l USING (source)),
           |it${k + 1} AS MATERIALIZED (
           |  SELECT source,
           |    greatest(1, (w * (SELECT count(*) * 1000000 FROM raw$k))
           |      // (SELECT sum(w) FROM raw$k)) AS w
           |  FROM raw$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (
         |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |loss AS MATERIALIZED (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT t) AS BIGINT) AS n_types,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    (CAST(count(DISTINCT t) AS BIGINT) * 1000000) // count(*)
         |      AS loss_ppm
         |  FROM tok GROUP BY 1),
         |it0 AS (SELECT source, CAST(1000000 AS HUGEINT) AS w FROM loss),
         |$iters
         |SELECT l.source, l.n_docs, l.n_tokens, l.n_types, l.loss_ppm,
         |  CAST(f.w AS BIGINT) AS weight_x1e6
         |FROM loss l JOIN it$DoremiIters f USING (source)
         |ORDER BY l.source""".stripMargin
    },

    "q_mix_rebalance" ->
      """WITH a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS available
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(available) AS BIGINT) AS n_total,
        |             CAST(count(*) AS BIGINT) AS n_langs FROM a),
        |r AS (
        |  SELECT a.lang, a.available,
        |    t.n_total // t.n_langs AS target,
        |    least(1000000, ((t.n_total // t.n_langs) * 1000000)
        |      // a.available) AS sample_rate_ppm
        |  FROM a, t)
        |SELECT lang, available, target, sample_rate_ppm,
        |  (available * sample_rate_ppm) // 1000000 AS expected_docs,
        |  greatest(0, target - (available * sample_rate_ppm) // 1000000)
        |    AS deficit
        |FROM r ORDER BY lang""".stripMargin,

    "q_ks_sources" ->
      """WITH vc AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT v FROM vc),
        |sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |       FROM vc GROUP BY 1),
        |grid AS (
        |  SELECT sn.source, sn.n, vals.v, COALESCE(vc.c, 0) AS c
        |  FROM vals CROSS JOIN sn
        |  LEFT JOIN vc ON vc.source = sn.source AND vc.v = vals.v),
        |cum AS (
        |  SELECT source, n, v,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM grid)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  a.n AS n_a, b.n AS n_b,
        |  (max(abs(a.cum * b.n - b.cum * a.n)) * 1000000)
        |    // (a.n * b.n) AS ks_ppm
        |FROM cum a JOIN cum b ON a.v = b.v AND a.source < b.source
        |GROUP BY 1, 2, 3, 4
        |ORDER BY source_a, source_b""".stripMargin,

    "q_template_detect" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    array_to_string(string_split(text, ' ')[1:5], ' ') AS prefix
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM p),
        |cl AS (
        |  SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(min(doc_id) AS BIGINT) AS example_doc
        |  FROM p GROUP BY prefix HAVING count(*) >= 3)
        |SELECT cl.prefix, cl.n_docs, cl.n_sources, cl.example_doc,
        |  (cl.n_docs * 1000000) // tot.n_total AS share_ppm
        |FROM cl, tot
        |ORDER BY cl.n_docs DESC, cl.prefix""".stripMargin,

    "q_shard_shuffle_audit" ->
      """WITH e AS (
        |  SELECT doc_id, source, CAST(unnest([0, 1]) AS BIGINT) AS epoch
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, source, epoch,
        |    CAST((instr('0123456789abcdef',
        |       substr(md5('ep' || CAST(epoch AS VARCHAR) || '|'
        |         || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + (instr('0123456789abcdef',
        |       substr(md5('ep' || CAST(epoch AS VARCHAR) || '|'
        |         || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) % 32 AS shard,
        |    md5('sh' || CAST(epoch AS VARCHAR) || '|'
        |      || CAST(doc_id AS VARCHAR)) AS okey
        |  FROM e),
        |adj AS (
        |  SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN source = prev_src THEN 1 ELSE 0 END) AS BIGINT)
        |      AS adj_same
        |  FROM (SELECT epoch, shard, source,
        |          lag(source) OVER (PARTITION BY epoch, shard
        |            ORDER BY okey, doc_id) AS prev_src
        |        FROM a) t
        |  GROUP BY epoch, shard),
        |comp AS (
        |  SELECT epoch, shard, CAST(SUM(ns * (ns - 1)) AS BIGINT) AS pair_same
        |  FROM (SELECT epoch, shard, source, COUNT(*) AS ns
        |        FROM a GROUP BY epoch, shard, source) c
        |  GROUP BY epoch, shard)
        |SELECT adj.epoch, adj.shard, adj.n_docs, adj.adj_same,
        |  CASE WHEN adj.n_docs > 1
        |    THEN (adj.adj_same * 1000000) // (adj.n_docs - 1) ELSE 0 END AS same_ppm,
        |  CASE WHEN adj.n_docs > 1
        |    THEN (comp.pair_same * 1000000) // (adj.n_docs * (adj.n_docs - 1))
        |    ELSE 0 END AS expected_ppm
        |FROM adj JOIN comp ON adj.epoch = comp.epoch AND adj.shard = comp.shard
        |ORDER BY adj.epoch, adj.shard""".stripMargin,

    "q_kanon_audit" ->
      """WITH c AS (
        |  SELECT n.n_name, n.n_regionkey, cu.c_mktsegment
        |  FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey),
        |fine AS (
        |  SELECT 'nation_segment' AS level, n_name AS key1,
        |         c_mktsegment AS key2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c GROUP BY n_name, c_mktsegment),
        |coarse AS (
        |  SELECT 'region_segment' AS level, CAST(n_regionkey AS VARCHAR) AS key1,
        |         c_mktsegment AS key2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c GROUP BY n_regionkey, c_mktsegment)
        |SELECT level, key1, key2, n, n >= 10 AS k_ok
        |FROM (SELECT * FROM fine UNION ALL SELECT * FROM coarse)
        |ORDER BY level, key1, key2""".stripMargin,

    "q_ldiversity_audit" ->
      """WITH sens AS (
        |  SELECT o_custkey, o_orderpriority AS sensitive FROM (
        |    SELECT o_custkey, o_orderpriority,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY count(*) DESC, o_orderpriority DESC) AS rn
        |    FROM orders GROUP BY o_custkey, o_orderpriority) q
        |  WHERE rn = 1),
        |c AS (
        |  SELECT n.n_name, n.n_regionkey, cu.c_mktsegment, s.sensitive
        |  FROM customer cu
        |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  JOIN sens s ON s.o_custkey = cu.c_custkey),
        |cell1 AS (
        |  SELECT n_name AS key1, c_mktsegment AS key2, sensitive,
        |         CAST(count(*) AS BIGINT) AS ns
        |  FROM c GROUP BY 1, 2, 3),
        |g1 AS (
        |  SELECT 'nation_segment' AS level, key1, key2,
        |    CAST(sum(ns) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS l_distinct,
        |    CAST(max(ns) AS BIGINT) AS dom_n
        |  FROM cell1 GROUP BY key1, key2),
        |cell2 AS (
        |  SELECT CAST(n_regionkey AS VARCHAR) AS key1, c_mktsegment AS key2,
        |         sensitive, CAST(count(*) AS BIGINT) AS ns
        |  FROM c GROUP BY 1, 2, 3),
        |g2 AS (
        |  SELECT 'region_segment' AS level, key1, key2,
        |    CAST(sum(ns) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS l_distinct,
        |    CAST(max(ns) AS BIGINT) AS dom_n
        |  FROM cell2 GROUP BY key1, key2)
        |SELECT level, key1, key2, n, l_distinct,
        |  (dom_n * 1000000) // n AS dom_share_ppm,
        |  CASE WHEN l_distinct >= 3 THEN 'Y' ELSE 'N' END AS l_ok
        |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) u
        |ORDER BY level, key1, key2""".stripMargin,

    "q_corpus_datasheet" -> {
      val stopList = stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id, source, lang,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws,
         |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source, lang, fp,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wlen,
         |    CAST(len(list_filter(ws, x -> x IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM w),
         |q AS (
         |  SELECT *,
         |    (n_words BETWEEN 50 AND 100000)
         |      AND ((sum_wlen * 1000) // nullif(n_words, 0) BETWEEN 3000 AND 10000)
         |      AND (stop_hits >= 2) AS quality_pass,
         |    stop_hits * 100000
         |      + COALESCE((sum_wlen * 1000) // nullif(n_words, 0), 0) AS score
         |  FROM m),
         |fpc AS (SELECT fp, COUNT(*) AS fpn FROM q GROUP BY fp)
         |SELECT q.source, q.lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(q.n_words) AS BIGINT) AS sum_words,
         |  CAST((SUM(CASE WHEN q.quality_pass THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS gate_pass_ppm,
         |  CAST((SUM(CASE WHEN fpc.fpn > 1 THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS dup_ppm,
         |  CAST(SUM(q.score) // COUNT(*) AS BIGINT) AS mean_score
         |FROM q JOIN fpc ON q.fp = fpc.fp
         |GROUP BY q.source, q.lang
         |ORDER BY q.source, q.lang""".stripMargin
    },

    "q_attr_multitouch" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(epoch_us(ts) AS BIGINT) AS us,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |t AS (
        |  SELECT *, CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS pgrp
        |  FROM ev),
        |sized AS (
        |  SELECT user_id, pgrp, event_type, us, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, pgrp
        |      ORDER BY us, event_id) AS BIGINT) AS pos,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id, pgrp) AS BIGINT) AS k
        |  FROM t WHERE event_type <> 'purchase' AND pgrp > 0),
        |credited AS (
        |  SELECT *, CAST(CASE WHEN k = 1 THEN 1000000
        |    WHEN k = 2 THEN 500000
        |    WHEN pos = 1 OR pos = k THEN 400000
        |    ELSE (200000 // (k - 2)) + CASE WHEN pos = 2
        |      THEN 200000 - (k - 2) * (200000 // (k - 2)) ELSE 0 END
        |    END AS BIGINT) AS credit_ppm
        |  FROM sized),
        |p AS (SELECT user_id, pgrp, cents FROM t WHERE event_type = 'purchase')
        |SELECT c.event_type AS touch_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(c.credit_ppm) AS BIGINT) AS credit_ppm_sum,
        |  CAST(SUM(CAST(c.credit_ppm AS HUGEINT) * p.cents) AS BIGINT) AS value_microcents
        |FROM credited c JOIN p USING (user_id, pgrp)
        |GROUP BY c.event_type
        |ORDER BY touch_type""".stripMargin,

    "q_attribution" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'direct') AS touch_type,
        |  count(*) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY COALESCE(touch, 'direct')
        |ORDER BY touch_type""".stripMargin,

    "q_quantile_norm" -> {
      val stopList = stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_wlen,
         |    CAST(len(list_filter(ws, x -> x IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM w),
         |s AS (
         |  SELECT doc_id, source,
         |    stop_hits * 100000 + COALESCE((sum_wlen * 1000) // nullif(n_words, 0), 0) AS score
         |  FROM m),
         |n AS (SELECT count(*) AS n_all FROM s),
         |pooled AS (SELECT doc_id, score,
         |             CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS g_rank
         |           FROM s),
         |grid AS (SELECT CAST(p AS BIGINT) AS p,
         |                1 + ((n.n_all - 1) * p) // 1000 AS target_rank
         |         FROM range(0, 1001) t(p), n),
         |gs AS (SELECT grid.p, pooled.score AS norm_score
         |       FROM grid JOIN pooled ON pooled.g_rank = grid.target_rank),
         |sr AS (SELECT doc_id, source, score,
         |         CAST(row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS BIGINT) AS s_rank,
         |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
         |       FROM s),
         |q AS (SELECT doc_id, source, score, s_rank,
         |        COALESCE(((s_rank - 1) * 1000) // nullif(n_src - 1, 0), 0) AS q_permille
         |      FROM sr)
         |SELECT q.doc_id, q.source, q.score, q.s_rank, q.q_permille, gs.norm_score
         |FROM q JOIN gs ON gs.p = q.q_permille
         |ORDER BY q.doc_id""".stripMargin
    },

    "q_sample_pps" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CAST(sum(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM d)
        |SELECT doc_id, w, cum,
        |  cum // (wtot // 50) - (cum - w) // (wtot // 50) AS n_hits,
        |  (cum // (wtot // 50) - (cum - w) // (wtot // 50)) >= 1 AS selected
        |FROM c, t ORDER BY doc_id""".stripMargin,

    "q_ab_cuped" ->
      """WITH per AS (
        |  SELECT event_type, user_id, user_id % 2 AS variant,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY event_type, user_id),
        |g AS (
        |  SELECT event_type,
        |    CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
        |    CAST(COALESCE(sum(x) FILTER (WHERE variant = 0), 0) AS BIGINT) AS sx_a,
        |    CAST(COALESCE(sum(x) FILTER (WHERE variant = 1), 0) AS BIGINT) AS sx_b,
        |    CAST(COALESCE(sum(y) FILTER (WHERE variant = 0), 0) AS BIGINT) AS sy_a,
        |    CAST(COALESCE(sum(y) FILTER (WHERE variant = 1), 0) AS BIGINT) AS sy_b,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM per GROUP BY event_type),
        |m AS (
        |  SELECT *,
        |    CAST(n_a + n_b AS HUGEINT) * sxy
        |      - (CAST(sx_a AS HUGEINT) + sx_b) * (CAST(sy_a AS HUGEINT) + sy_b) AS cov_n,
        |    CAST(n_a + n_b AS HUGEINT) * sxx
        |      - (CAST(sx_a AS HUGEINT) + sx_b) * (CAST(sx_a AS HUGEINT) + sx_b) AS var_n,
        |    CAST(sy_a AS HUGEINT) * n_b - CAST(sy_b AS HUGEINT) * n_a AS dyn,
        |    CAST(sx_a AS HUGEINT) * n_b - CAST(sx_b AS HUGEINT) * n_a AS dxn
        |  FROM g)
        |SELECT event_type, n_a, n_b, sx_a, sx_b, sy_a, sy_b,
        |  CASE WHEN var_n = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((cov_n * 1000000) // var_n AS BIGINT) END AS theta_x1e6,
        |  CAST((dyn * 1000000) // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS delta_raw_x1e6,
        |  CASE WHEN var_n = 0
        |       THEN CAST((dyn * 1000000) // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |       ELSE CAST(((dyn * var_n - dxn * cov_n) * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b * var_n) AS BIGINT) END AS delta_cuped_x1e6
        |FROM m ORDER BY event_type""".stripMargin,

    "q_ab_srm" ->
      """WITH arms AS (
        |  SELECT user_id % 2 AS variant,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
        |    CAST(COUNT(*) AS BIGINT) AS events
        |  FROM events GROUP BY user_id % 2),
        |t AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN users END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN users END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN variant = 0 THEN events END) AS BIGINT) AS events_a,
        |    CAST(SUM(CASE WHEN variant = 1 THEN events END) AS BIGINT) AS events_b
        |  FROM arms)
        |SELECT n_a, n_b, events_a, events_b,
        |  CAST(((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) AS BIGINT)
        |    AS chi2_x1e6,
        |  ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) > 3840000
        |    AS srm_flag
        |FROM t""".stripMargin,

    "q_mix_neff" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
        |         WHEN source IN ('src3', 'src4') THEN 500
        |         ELSE 200 END AS BIGINT) AS w,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |a AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS n,
        |         CAST(sum(n_docs * w) AS BIGINT) AS sw,
        |         CAST(sum(n_docs * w * w) AS BIGINT) AS sw2
        |  FROM per)
        |SELECT n, sw, sw2,
        |  CAST((CAST(sw AS HUGEINT) * sw * 1000) // (CAST(n AS HUGEINT) * sw2)
        |    AS BIGINT) AS neff_share_x1000,
        |  CAST((CAST(sw AS HUGEINT) * sw) // sw2 AS BIGINT) AS n_eff,
        |  CAST((CAST(n AS HUGEINT) * sw2 * 1000) // (CAST(sw AS HUGEINT) * sw)
        |    AS BIGINT) AS deff_x1000
        |FROM a""".stripMargin,

    "q_sample_neyman" -> {
      val sqrtSteps = (0 until 26).map { k =>
        s"""n${k + 1} AS (SELECT source, n_h, s_h, q_h,
           |  CASE WHEN x >= res + bit THEN x - res - bit ELSE x END AS x,
           |  CASE WHEN x >= res + bit THEN (res >> 1) + bit ELSE res >> 1 END AS res,
           |  bit >> 2 AS bit
           |  FROM n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0))
         |      AS BIGINT) AS x
         |  FROM documents),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
         |         CAST(sum(x) AS BIGINT) AS s_h,
         |         CAST(sum(x * x) AS BIGINT) AS q_h
         |  FROM d GROUP BY source),
         |n0 AS (SELECT source, n_h, s_h, q_h,
         |       n_h * q_h - s_h * s_h AS x, CAST(0 AS BIGINT) AS res,
         |       CAST(1 AS BIGINT) << 50 AS bit FROM g),
         |$sqrtSteps,
         |w AS MATERIALIZED (
         |  SELECT source, n_h, res AS w_h FROM n26),
         |t AS (SELECT CAST(sum(w_h) AS BIGINT) AS w_tot,
         |             CAST(sum(n_h) AS BIGINT) AS n_tot FROM w)
         |SELECT w.source, w.n_h, w.w_h,
         |  CASE WHEN t.w_tot > 0 THEN (1000 * w.w_h) // t.w_tot END
         |    AS neyman_alloc,
         |  (1000 * w.n_h) // t.n_tot AS proportional_alloc,
         |  CASE WHEN t.w_tot > 0 THEN (1000 * w.w_h) // t.w_tot END
         |    - (1000 * w.n_h) // t.n_tot AS shift
         |FROM w CROSS JOIN t ORDER BY w.source""".stripMargin
    },

    "q_ab_sequential" -> {
      val lookRows = ObfLooks.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, TIMESTAMP '$d 00:00:00')" }
        .mkString(", ")
      s"""WITH looks(look, cut) AS (VALUES $lookRows),
         |conv AS (
         |  SELECT looks.look, e.event_type, e.user_id,
         |    e.user_id % 2 AS variant,
         |    (sum(CAST(e.value AS DECIMAL(18,2))) * 100
         |       > $AbMeanCutoffCents * count(*)) AS converted
         |  FROM events e JOIN looks ON e.ts < looks.cut
         |  GROUP BY 1, 2, 3, 4),
         |g AS (
         |  SELECT event_type, look,
         |    CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
         |    CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
         |    CAST(count(*) FILTER (WHERE variant = 0 AND converted) AS BIGINT)
         |      AS conv_a,
         |    CAST(count(*) FILTER (WHERE variant = 1 AND converted) AS BIGINT)
         |      AS conv_b
         |  FROM conv GROUP BY 1, 2),
         |z AS (
         |  SELECT *,
         |    CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
         |         THEN CAST(0 AS BIGINT)
         |         ELSE CAST((CAST(conv_a * n_b - conv_b * n_a AS HUGEINT)
         |                    * CAST(conv_a * n_b - conv_b * n_a AS HUGEINT)
         |                    * (n_a + n_b) * 1000000)
         |              // (CAST(n_a AS HUGEINT) * n_b
         |                  * (conv_a + conv_b) * (n_a + n_b - conv_a - conv_b))
         |              AS BIGINT) END AS z2_x1e6
         |  FROM g)
         |SELECT event_type, CAST(look AS BIGINT) AS look, n_a, n_b,
         |  conv_a, conv_b, z2_x1e6,
         |  CAST(20808000 // look AS BIGINT) AS bound_z2_x1e6,
         |  CASE WHEN z2_x1e6 >= 20808000 // look THEN 'Y' ELSE 'N' END AS crossed
         |FROM z ORDER BY event_type, look""".stripMargin
    },

    "q_ab_ztest" ->
      """WITH conv AS (
        |  SELECT event_type, user_id, user_id % 2 AS variant,
        |    (sum(CAST(value AS DECIMAL(18,2))) * 100 > 4500 * count(*)) AS converted
        |  FROM events GROUP BY event_type, user_id),
        |g AS (
        |  SELECT event_type,
        |    CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
        |    CAST(count(*) FILTER (WHERE variant = 0 AND converted) AS BIGINT) AS conv_a,
        |    CAST(count(*) FILTER (WHERE variant = 1 AND converted) AS BIGINT) AS conv_b
        |  FROM conv GROUP BY event_type),
        |z AS (
        |  SELECT *,
        |    (conv_a * 1000000) // n_a AS p_a_ppm,
        |    (conv_b * 1000000) // n_b AS p_b_ppm,
        |    CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |         THEN CAST(0 AS BIGINT)
        |         ELSE CAST((CAST(conv_a * n_b - conv_b * n_a AS HUGEINT)
        |                    * CAST(conv_a * n_b - conv_b * n_a AS HUGEINT)
        |                    * (n_a + n_b) * 1000000)
        |              // (CAST(n_a AS HUGEINT) * n_b
        |                  * (conv_a + conv_b) * (n_a + n_b - conv_a - conv_b))
        |              AS BIGINT) END AS z2_x1e6
        |  FROM g)
        |SELECT event_type, n_a, n_b, conv_a, conv_b, p_a_ppm, p_b_ppm,
        |  p_a_ppm - p_b_ppm AS delta_ppm, z2_x1e6,
        |  CAST(sign(conv_a * n_b - conv_b * n_a) AS BIGINT)
        |    * CAST(floor(sqrt(CAST(z2_x1e6 AS DOUBLE))) AS BIGINT) AS z_x1000,
        |  abs(CAST(sign(conv_a * n_b - conv_b * n_a) AS BIGINT)
        |    * CAST(floor(sqrt(CAST(z2_x1e6 AS DOUBLE))) AS BIGINT)) > 1960 AS significant
        |FROM z ORDER BY event_type""".stripMargin,

    "q_curriculum" ->
      (duckScoreCte +
        """,
          |r AS (
          |  SELECT doc_id, score,
          |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
          |      AS global_rank,
          |    CAST(count(*) OVER () AS BIGINT) AS n_total
          |  FROM s),
          |st AS (
          |  SELECT doc_id, score, global_rank,
          |    ((global_rank - 1) * 4) // n_total + 1 AS stage
          |  FROM r)
          |SELECT doc_id, score, global_rank, stage,
          |  md5('cur' || CAST(stage AS VARCHAR) || '|'
          |      || CAST(doc_id AS VARCHAR)) AS shuffle_key
          |FROM st ORDER BY doc_id""".stripMargin),

    "q_token_budget" ->
      (duckScoreCte +
        """,
          |c AS (
          |  SELECT doc_id, score, n_words,
          |    CAST(sum(n_words) OVER (ORDER BY score DESC, doc_id
          |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          |  FROM s)
          |SELECT doc_id, score, n_words, cum_tokens,
          |       cum_tokens <= 15000 AS selected
          |FROM c ORDER BY doc_id""".stripMargin),

    "q_quality_bins" ->
      (duckScoreCte +
        """,
          |b AS (
          |  SELECT lang, n_words, score,
          |         ntile(5) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS bin
          |  FROM s)
          |SELECT lang, CAST(bin AS BIGINT) AS bin,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_words) AS BIGINT) AS sum_tokens,
          |       min(score) AS min_score, max(score) AS max_score
          |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),

    "q_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@example.org from 10.' ||
         |    CAST(doc_id % 200 AS VARCHAR) || '.' ||
         |    CAST((doc_id * 7) % 250 AS VARCHAR) || '.' ||
         |    CAST(doc_id % 250 AS VARCHAR) ||
         |    ' tel 555-' ||
         |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |    lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailRe', '[EMAIL]', 'g'),
         |    '$Ipv4Re', '[IP]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g') AS clean_text
         |FROM aug ORDER BY doc_id""".stripMargin,

    "q_ab_mannwhitney" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS x,
        |    user_id % 2 = 0 AS isa
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS g,
        |         CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ga
        |  FROM per GROUP BY x),
        |cq AS (
        |  SELECT *, CAST(coalesce(sum(g) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(ga) AS BIGINT) AS n_a,
        |         CAST(sum(g - ga) AS BIGINT) AS n_b,
        |         CAST(sum(ga * (2 * c + g + 1)) AS BIGINT) AS sum2r_a,
        |         CAST(sum(g * g * g - g) AS BIGINT) AS tie_sum
        |  FROM cq),
        |b AS (SELECT *, sum2r_a - n_a * (n_a + 1) AS u_x2, n_a + n_b AS n FROM a)
        |SELECT n_a, n_b, u_x2, tie_sum,
        |  (u_x2 * 500000) // (n_a * n_b) AS auc_ppm,
        |  CASE WHEN CAST(abs(u_x2 - n_a * n_b) AS HUGEINT)
        |         * abs(u_x2 - n_a * n_b) * 30000 * n * (n - 1)
        |       >= CAST(38416 AS HUGEINT)
        |         * n_a * n_b * (n * n * n - n - tie_sum)
        |   THEN 'Y' ELSE 'N' END AS significant
        |FROM b""".stripMargin,

    "q_anova_f" ->
      """WITH x AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT)
        |      AS x
        |  FROM documents),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
        |         CAST(sum(x) AS BIGINT) AS s_g, CAST(sum(x * x) AS BIGINT) AS q_g
        |  FROM x GROUP BY source),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |         CAST(sum(n_g) AS BIGINT) AS n_total,
        |         CAST(sum(s_g) AS BIGINT) AS s_all,
        |         CAST(sum(q_g) AS BIGINT) AS q_all,
        |         CAST(sum((s_g * s_g * 1000) // n_g) AS BIGINT) AS qq
        |  FROM g),
        |ss AS (
        |  SELECT k_groups, n_total,
        |    greatest(0, qq - (s_all * s_all * 1000) // n_total) AS ssb_x1000,
        |    greatest(0, q_all * 1000 - qq) AS ssw_x1000
        |  FROM a)
        |SELECT k_groups, n_total, ssb_x1000, ssw_x1000,
        |  CASE WHEN ssw_x1000 > 0 AND k_groups > 1 THEN
        |    (ssb_x1000 * (n_total - k_groups) * 1000)
        |      // (ssw_x1000 * (k_groups - 1)) END AS f_milli,
        |  CASE WHEN ssb_x1000 + ssw_x1000 > 0 THEN
        |    (ssb_x1000 * 1000000) // (ssb_x1000 + ssw_x1000) END AS eta2_ppm
        |FROM ss""".stripMargin,

    "q_conformal_coverage" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' ' || repeat('if (x) { y = x + 1; return y; } ',
        |                          CAST(doc_id % 20 AS INT)) AS t
        |  FROM documents),
        |m0 AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_chars,
        |    CAST(len(t) - len(regexp_replace(t, '[{}();=+<>\[\]]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'),
        |      w -> w IN ('if','return','def','class','for','while','import','var','val')))
        |      AS BIGINT) AS kw_hits,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'), w -> w <> ''))
        |      AS BIGINT) AS n_words
        |  FROM aug),
        |cs AS (
        |  SELECT doc_id,
        |    ((n_sym * 1000000) // n_chars + (kw_hits * 1000000) // n_words) // 2
        |      AS score,
        |    (doc_id % 20 <> 0) AS label
        |  FROM m0),
        |cal AS (SELECT score FROM cs WHERE label AND doc_id % 2 = 0),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        |vc AS (SELECT score, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY score),
        |cm AS (SELECT score, CAST(sum(c) OVER (ORDER BY score
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |       FROM vc),
        |ta AS (SELECT min(CASE WHEN cum >= (nc.n_cal + 10) // 10 THEN score END) AS tau,
        |              max(nc.n_cal) AS n_cal
        |       FROM cm CROSS JOIN nc),
        |te AS (SELECT score, label FROM cs WHERE doc_id % 2 = 1)
        |SELECT ta.n_cal, ta.tau,
        |  CAST(count(*) FILTER (WHERE label) AS BIGINT) AS n_test_pos,
        |  CAST(count(*) FILTER (WHERE label AND score >= tau) AS BIGINT) AS covered,
        |  CASE WHEN count(*) FILTER (WHERE label) > 0
        |    THEN (count(*) FILTER (WHERE label AND score >= tau) * 1000000)
        |         // count(*) FILTER (WHERE label) END AS coverage_ppm,
        |  CAST(count(*) FILTER (WHERE NOT label) AS BIGINT) AS n_test_neg,
        |  CAST(count(*) FILTER (WHERE NOT label AND score >= tau) AS BIGINT)
        |    AS false_pos,
        |  CASE WHEN count(*) FILTER (WHERE NOT label) > 0
        |    THEN (count(*) FILTER (WHERE NOT label AND score >= tau) * 1000000)
        |         // count(*) FILTER (WHERE NOT label) END AS fp_ppm
        |FROM te CROSS JOIN ta
        |GROUP BY ta.n_cal, ta.tau""".stripMargin,

    "q_code_detect" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' ' || repeat('if (x) { y = x + 1; return y; } ',
        |                          CAST(doc_id % 20 AS INT)) AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_chars,
        |    CAST(len(t) - len(regexp_replace(t, '[{}();=+<>\[\]]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'),
        |      w -> w IN ('if','return','def','class','for','while','import','var','val')))
        |      AS BIGINT) AS kw_hits,
        |    CAST(len(list_filter(regexp_split_to_array(t, '\s+'), w -> w <> ''))
        |      AS BIGINT) AS n_words
        |  FROM aug),
        |s AS (
        |  SELECT doc_id, n_sym, kw_hits,
        |    (n_sym * 1000000) // n_chars AS sym_ppm,
        |    (kw_hits * 1000000) // n_words AS kw_ppm
        |  FROM m)
        |SELECT doc_id, n_sym, kw_hits, sym_ppm, kw_ppm,
        |  (sym_ppm + kw_ppm) // 2 AS code_score_ppm,
        |  ((sym_ppm + kw_ppm) // 2 >= 15000) AS is_code
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_quality_drift" ->
      """WITH b AS (
        |  SELECT event_type,
        |    LEAST(9, CAST(FLOOR(value / 50) AS BIGINT)) AS bin,
        |    (ts < TIMESTAMP '2024-01-16') AS is_ref
        |  FROM events),
        |c AS (
        |  SELECT event_type, bin,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
        |  FROM b GROUP BY event_type, bin),
        |t AS (
        |  SELECT event_type,
        |    CAST(SUM(ref_n) AS BIGINT) AS ref_total,
        |    CAST(SUM(cur_n) AS BIGINT) AS cur_total
        |  FROM c GROUP BY event_type)
        |SELECT c.event_type, c.bin, c.ref_n, c.cur_n,
        |  (c.ref_n * 1000000) // t.ref_total AS ref_ppm,
        |  (c.cur_n * 1000000) // t.cur_total AS cur_ppm,
        |  ABS((c.ref_n * 1000000) // t.ref_total -
        |      (c.cur_n * 1000000) // t.cur_total) AS drift_ppm
        |FROM c JOIN t ON c.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin,

    "q_psi_drift" -> psiDriftOracle,
    "q_attr_markov" -> attrMarkovOracle,
    "q_attr_shapley" -> attrShapleyOracle,

    "q_source_ablation" ->
      """WITH d AS (
        |  SELECT source,
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT)
        |      AS n_words
        |  FROM documents),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(n_words) AS BIGINT) AS w_sum
        |       FROM d GROUP BY source),
        |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
        |              CAST(sum(w_sum) AS BIGINT) AS w_all FROM ps),
        |fs AS (SELECT fp, source, CAST(count(*) AS BIGINT) AS c_s
        |       FROM d GROUP BY 1, 2),
        |fc AS (SELECT fp, CAST(sum(c_s) AS BIGINT) AS cnt FROM fs GROUP BY fp),
        |da AS (SELECT CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
        |         AS dup_all FROM fc),
        |dl AS (
        |  SELECT fs.source,
        |    CAST(sum((CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) -
        |             (CASE WHEN cnt - c_s >= 2 THEN cnt - c_s ELSE 0 END))
        |      AS BIGINT) AS dup_delta
        |  FROM fs JOIN fc USING (fp) GROUP BY fs.source)
        |SELECT ps.source, ps.n_docs,
        |  (tt.w_all * 1000) // tt.n_all AS mean_words_milli_all,
        |  CASE WHEN tt.n_all > ps.n_docs
        |    THEN ((tt.w_all - ps.w_sum) * 1000) // (tt.n_all - ps.n_docs) END
        |    AS mean_words_milli_without,
        |  (da.dup_all * 1000) // tt.n_all AS dup_permille_all,
        |  da.dup_all - dl.dup_delta AS dup_docs_without,
        |  CASE WHEN tt.n_all > ps.n_docs
        |    THEN ((da.dup_all - dl.dup_delta) * 1000) // (tt.n_all - ps.n_docs) END
        |    AS dup_permille_without
        |FROM ps JOIN dl USING (source) CROSS JOIN tt CROSS JOIN da
        |ORDER BY ps.source""".stripMargin,


    "q_mix_divergence" ->
      (duckPipelineCte +
        """,
        |kept AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 900
        |         WHEN source IN ('src3', 'src4') THEN 500
        |         ELSE 200 END AS rate
        |  FROM v GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_kept) AS BIGINT) AS tot_kept,
        |               CAST(SUM(n_docs * rate) AS BIGINT) AS tot_target
        |        FROM kept),
        |sh AS (
        |  SELECT kept.source, kept.n_docs, kept.n_kept,
        |    CAST(CASE WHEN tot.tot_kept = 0 THEN 0
        |      ELSE (kept.n_kept * 1000000) // tot.tot_kept END AS BIGINT)
        |      AS achieved_ppm,
        |    CAST((CAST(kept.n_docs AS HUGEINT) * kept.rate * 1000000)
        |      // tot.tot_target AS BIGINT) AS target_ppm
        |  FROM kept CROSS JOIN tot),
        |gap AS (SELECT *, CAST(abs(achieved_ppm - target_ppm) AS BIGINT)
        |        AS abs_gap_ppm FROM sh),
        |tv AS (SELECT CAST(SUM(abs_gap_ppm) // 2 AS BIGINT) AS tv_ppm FROM gap)
        |SELECT gap.source, gap.n_docs, gap.n_kept, gap.achieved_ppm, gap.target_ppm,
        |  gap.abs_gap_ppm, tv.tv_ppm
        |FROM gap CROSS JOIN tv ORDER BY gap.source""".stripMargin),

    "q_pipeline_curation" ->
      (duckPipelineCte +
        """
          |SELECT doc_id, source, n_words, contam_permille, verdict
          |FROM v ORDER BY doc_id""".stripMargin),

    "q_pipeline_funnel" ->
      (duckPipelineCte +
        """
          |SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_words) AS BIGINT) AS sum_words
          |FROM v GROUP BY source, verdict ORDER BY source, verdict""".stripMargin)
  )
}
