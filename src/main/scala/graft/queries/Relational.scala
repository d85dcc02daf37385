package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Generic relational query surface (SURVEY.md §2) over the driver's
  * TPC-H-ish tables, each paired with an ANSI-SQL oracle for DuckDB.
  *
  * Cross-engine determinism rules used throughout:
  *  - double aggregates are computed in DECIMAL (exact, summation-order
  *    independent) and cast to DOUBLE only at the edge;
  *  - timestamps are reduced to epoch seconds (`unix_timestamp` /
  *    `floor(epoch(ts))`) before arithmetic — mirrors the reference's
  *    second-truncation rule (reference routes/events.js:162-166);
  *  - integer-ish outputs are cast to BIGINT on both sides (DuckDB
  *    year()/sum(int) return wider types than Spark);
  *  - every query ends in a deterministic ORDER BY with a unique key.
  */
object Relational {

  /** Exact money arithmetic: double -> decimal(18,2). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Second-truncated epoch, the reference's time resolution (F2). */
  private def ep(c: Column): Column = unix_timestamp(c)

  /** Shared value-count ranking frame for exact per-group percentiles
    * (qAggMedian / qAggPercentiles / qWinsorize): aggregate to
    * (group, value, c) — map-side combinable — then cumulative count
    * `cum` and group total `n` over the DISTINCT-value frame. The
    * rank-r value is the one whose (cum−c, cum] range covers r;
    * `rankValue` extracts it with pure integer rank ceilings. */
  private def valueCounts(df: DataFrame, group: Column, value: Column): DataFrame = {
    val g = df.groupBy(group.as("__g"), value.as("__v"))
      .agg(count(lit(1)).as("c"))
    g.withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("__g")).orderBy(col("__v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("__g"))))
  }

  /** Aggregate expression: the value at integer rank `rank` within a
    * valueCounts frame (use inside groupBy("__g").agg(...)). */
  private def rankValue(rank: Column): Column =
    max(when(col("cum") - col("c") < rank && rank <= col("cum"), col("__v")))

  /** Floor integer square root of `m` (m < 2^(2·steps)) as a bit-by-
    * bit fold — the classical shift-and-subtract algorithm in bounded
    * BIGINT arithmetic, engine-exact by construction (the oracle
    * replays the identical steps as generated CTEs; same playbook as
    * the integer log2 chain). Start bit 2^(2(steps−1)) is safely
    * above any m in range; iterations where bit > x just halve res.
    * Default 20 steps cover 2⁴⁰; stylometry's variance sums use 26. */
  private[graft] def isqrtFold(m: String, steps: Int = 20): String =
    s"""aggregate(sequence(0, ${steps - 1}),
       |  struct(cast($m as bigint) AS x, 0L AS res,
       |         shiftleft(1L, ${2 * (steps - 1)}) AS bit),
       |  (a, i) -> if(a.x >= a.res + a.bit,
       |    struct(a.x - (a.res + a.bit) AS x,
       |           shiftright(a.res, 1) + a.bit AS res,
       |           shiftright(a.bit, 2) AS bit),
       |    struct(a.x AS x, shiftright(a.res, 1) AS res,
       |           shiftright(a.bit, 2) AS bit)),
       |  a -> a.res)""".stripMargin

  // ---------------------------------------------------------------
  // Aggregations (SURVEY §2.5)
  // ---------------------------------------------------------------

  /** TPC-H Q1 shape: grouped sums/counts (reference has only top-1
    * aggregation; this is the extended surface A-row "absent" set). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec($"l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** A1: top-1 per key by timestamp via max_by (reference
    * routes/events.js:82-83 `simplesort desc + data()[0]`). */
  def qAggMaxBy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        max_by($"event_type", struct($"ts", $"event_id")).as("last_type"),
        max_by($"event_id", struct($"ts", $"event_id")).as("last_event_id"),
        max(ep($"ts")).as("last_ep"))
      .orderBy($"user_id")
  }

  /** A2: first per key by event time (reference J4 arrival-order lookup,
    * documented divergence to event-time — routes/events.js:119-127). */
  def qAggMinBy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        min_by($"event_type", struct($"ts", $"event_id")).as("first_type"),
        min_by($"event_id", struct($"ts", $"event_id")).as("first_event_id"),
        min(ep($"ts")).as("first_ep"))
      .orderBy($"user_id")
  }

  /** Exact per-group median via distributed ranking: rank by value,
    * keep the one or two middle rows, average them — one shuffle on the
    * group key, no full sort of the table. Values are integer-valued
    * doubles, so midpoint interpolation is exact and engine-agnostic. */
  /** Exact per-group median by VALUE-COUNT ranking: aggregate to
    * (group, value, cnt) first — map-side combinable, one narrow
    * shuffle — then rank over the tiny distinct-value frame. The naive
    * row_number-over-group form partitions 600k rows into 3 window
    * partitions (one sorted task per group — the exact skew shape that
    * dies at 100 TB); this computes the same ranks from cumulative
    * counts over ≤50 rows per group. The middle-rank values v₁,v₂ are
    * looked up in the cumulative range (cum−cnt, cum]; (v₁+v₂)/2
    * reproduces sum/count over the two middle rows bit-for-bit (IEEE
    * addition is commutative; same-row case degenerates to v). */
  def qAggMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    valueCounts(Tables.load(spark, dir, "lineitem"), $"l_returnflag", $"l_quantity")
      .groupBy($"__g")
      .agg(
        ((rankValue(expr("(n + 1) div 2")) + rankValue(expr("n div 2 + 1"))) / 2)
          .as("median_qty"),
        max($"n").as("n"))
      .select($"__g".as("l_returnflag"), $"median_qty", $"n")
      .orderBy($"l_returnflag")
  }

  /** Distinct aggregation over groups. */
  def qAggDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** ROLLUP hierarchy totals. */
  def qAggRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n")
      .orderBy($"returnflag", $"linestatus")
  }

  /** CUBE over two order dimensions. */
  def qAggCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(dec($"o_totalprice")).cast("double").as("total"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"total")
      .orderBy($"status", $"priority")
  }

  /** min/max/avg stats; avg realized as exact decimal sum / count so
    * both engines produce the identical double. */
  def qStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        min($"c_acctbal").as("min_bal"),
        max($"c_acctbal").as("max_bal"),
        (sum(dec($"c_acctbal")).cast("double") / count(lit(1))).as("avg_bal"))
      .orderBy($"c_mktsegment")
  }

  /** Conditional aggregation (manual pivot): per-user event-type counts. */
  def qPivotCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    def n(t: String) = count(when($"event_type" === t, 1)).as(s"n_$t")
    ev.groupBy($"user_id")
      .agg(n("click"), n("view"), n("purchase"), n("signup"), n("error"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------
  // Joins (SURVEY §2.4)
  // ---------------------------------------------------------------

  /** Multi-table equi-join with broadcast dims (J7 agent-dim lookup
    * generalized): revenue by region/nation. */
  def qJoinInner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(sum(dec($"o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"r_name", $"n_name")
  }

  /** Left-semi join (EXISTS). */
  def qJoinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(c("c_custkey"), c("c_name"))
      .orderBy(c("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no high-value order —
    * anti against a filtered build side so the result is non-trivial. */
  def qJoinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 450000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(c("c_custkey"), c("c_name"))
      .orderBy(c("c_custkey"))
  }

  /** Left-outer join + null-tolerant aggregates (J3 wrapup-optional
    * semantics — reference routes/events.js:104-117 `|| {}`). */
  def qJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
      .groupBy(o("o_orderkey"))
      .agg(
        count(li("l_orderkey")).as("n_items"),
        coalesce(sum(dec(li("l_extendedprice"))).cast("double"), lit(0.0)).as("items_total"))
      .orderBy(o("o_orderkey"))
  }

  /** J1 as-of join: for each purchase, the latest strictly-prior
    * view/click of the same user (reference routes/events.js:74-87),
    * realized as the SURVEY-chosen window form — single shuffle on the
    * correlation key, no self-join. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "events")
      .withColumn("entry_ep",
        last(when($"event_type".isin("view", "click"), ep($"ts")), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase" && $"entry_ep".isNotNull)
      .select($"event_id", $"user_id", ep($"ts").as("purchase_ep"), $"entry_ep",
        (ep($"ts") - $"entry_ep").as("wait_secs"))
      .orderBy($"event_id")
  }

  /** The as-of join via the CUSTOM operator (graft.plans.AsOfJoin:
    * LogicalPlan + Strategy + merge-pass SparkPlan) — strictly-prior by
    * epoch MICROsecond with event_id tiebreak, left-outer then
    * null-filtered. `q_asof_join` is the window-composition sibling;
    * this exercises the extension tier and a plan with two key
    * exchanges and zero window buffers. */
  def qAsofCustom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val left = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("l_us"),
        ep($"ts").as("purchase_ep"))
    val right = Tables.load(spark, dir, "events")
      .filter($"event_type".isin("view", "click"))
      .select($"user_id".as("r_user"), unix_micros($"ts").as("r_us"),
        $"event_id".as("r_id"), ep($"ts").as("entry_ep"))
    graft.plans.AsOfJoin.joinAsOf(left, right,
        leftKey = "user_id", rightKey = "r_user",
        leftTime = "l_us", rightTime = "r_us", rightTie = "r_id",
        payload = Seq("entry_ep"))
      .filter($"entry_ep".isNotNull)
      .select($"event_id", $"user_id", $"purchase_ep", $"entry_ep",
        ($"purchase_ep" - $"entry_ep").as("wait_secs"))
      .orderBy($"event_id")
  }

  /** The custom as-of join's bounded-lookback variant: same purchase →
    * latest-prior-touch attachment as [[qAsofCustom]], but a touch
    * older than ONE HOUR no longer counts (the pandas/kdb `tolerance`
    * semantic — "recent context only"). Same one-pass merge plan; the
    * window check is a constant-time reject after the cursor step. */
  def qAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val left = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("l_us"),
        ep($"ts").as("purchase_ep"))
    val right = Tables.load(spark, dir, "events")
      .filter($"event_type".isin("view", "click"))
      .select($"user_id".as("r_user"), unix_micros($"ts").as("r_us"),
        $"event_id".as("r_id"), ep($"ts").as("entry_ep"))
    graft.plans.AsOfJoin.joinAsOf(left, right,
        leftKey = "user_id", rightKey = "r_user",
        leftTime = "l_us", rightTime = "r_us", rightTie = "r_id",
        payload = Seq("entry_ep"), toleranceMicros = 3600L * 1000000L)
      .select($"event_id", $"user_id", $"purchase_ep", $"entry_ep",
        when($"entry_ep".isNotNull, $"purchase_ep" - $"entry_ep").as("wait_secs"))
      .orderBy($"event_id")
  }

  /** FORWARD as-of join on the custom plan — "what happened next": for
    * every view, the user's next purchase strictly after it, within a
    * 24-hour look-ahead ([[graft.plans.AsOfJoin.joinAsOf]] with
    * `direction = "forward"`, pandas `merge_asof(direction='forward')`).
    * Same one-pass merge / broadcast-bisect physical shapes as the
    * backward join — the cursor still only advances; ties resolve to
    * the smallest event_id (backward's mirror). The oracle is the
    * LATERAL first-after-top-1, so the driver hash pins the direction
    * semantics end to end. */
  def qAsofForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val left = ev.filter($"event_type" === "view")
      .select($"event_id", $"user_id", unix_micros($"ts").as("l_us"),
        ep($"ts").as("view_ep"))
    val right = Tables.load(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id".as("r_user"), unix_micros($"ts").as("r_us"),
        $"event_id".as("r_id"), ep($"ts").as("purchase_ep"))
    graft.plans.AsOfJoin.joinAsOf(left, right,
        leftKey = "user_id", rightKey = "r_user",
        leftTime = "l_us", rightTime = "r_us", rightTie = "r_id",
        payload = Seq("purchase_ep"), toleranceMicros = 24L * 3600L * 1000000L,
        direction = "forward")
      .select($"event_id", $"user_id", $"view_ep", $"purchase_ep",
        when($"purchase_ep".isNotNull, $"purchase_ep" - $"view_ep").as("lag_secs"))
      .orderBy($"event_id")
  }

  /** NEAREST as-of join on the custom plan — "which signup is this
    * purchase closest to in time": the closer of the strict-prior and
    * strict-after signup, backward winning equal distances (pandas
    * `merge_asof(direction='nearest')`). Same single advancing merge
    * cursor / mirrored broadcast bisects as the other directions. The
    * oracle is the LATERAL min-absolute-distance top-1 with the
    * operator's exact tie order, so the driver hash pins all three
    * direction semantics. */
  def qAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val left = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("l_us"),
        ep($"ts").as("purchase_ep"))
    val right = Tables.load(spark, dir, "events")
      .filter($"event_type" === "signup")
      .select($"user_id".as("r_user"), unix_micros($"ts").as("r_us"),
        $"event_id".as("r_id"), ep($"ts").as("signup_ep"))
    graft.plans.AsOfJoin.joinAsOf(left, right,
        leftKey = "user_id", rightKey = "r_user",
        leftTime = "l_us", rightTime = "r_us", rightTie = "r_id",
        payload = Seq("signup_ep"), direction = "nearest")
      .select($"event_id", $"user_id", $"purchase_ep", $"signup_ep",
        when($"signup_ep".isNotNull, abs($"purchase_ep" - $"signup_ep"))
          .as("dist_secs"))
      .orderBy($"event_id")
  }

  /** Decorrelated scalar subquery: customers whose max order exceeds a
    * threshold. */
  def qSubqueryAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val m = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey").agg(max($"o_totalprice").as("max_tp"))
    c.join(m, c("c_custkey") === m("o_custkey"))
      .filter($"max_tp" > 400000.0)
      .select($"c_custkey", $"c_name", $"max_tp")
      .orderBy($"c_custkey")
  }

  // ---------------------------------------------------------------
  // Filters & projections (SURVEY §2.2, §2.3, §2.9)
  // ---------------------------------------------------------------

  /** F-pred1/2/3: prefix LIKE, IN-list, non-equi range predicate. */
  def qFilterPred(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"event_type".startsWith("s") ||
        ($"value" > 150.0 && $"event_type".isin("click", "error")))
      .select($"event_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** P3/F5: JSON attribute-blob extraction (reference parses
    * task_attributes/worker_attributes JSON strings —
    * routes/events.js:492-497). */
  def qProjJson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id",
        // try_cast: a non-numeric $.k must yield NULL, not an ANSI
        // CAST_INVALID_INPUT job failure (= DuckDB TRY_CAST)
        expr("try_cast(get_json_object(props, '$.k') as bigint)").as("k_val"),
        upper($"event_type").as("etype"))
      .orderBy($"event_id")
  }

  /** F7/F9: case-mapping (channel voice→Call analog) + display substring
    * (views/index.pug slice(0,10)). */
  def qProjCase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"event_id",
        when($"event_type" === "purchase", "Buy")
          .when($"event_type" === "view", "View")
          .when($"event_type" === "click", "Click")
          .otherwise(lit("Other")).as("channel"),
        substring($"props", 1, 10).as("props10"))
      .orderBy($"event_id")
  }

  /** F6 + SURVEY §7.4.1: JS falsy-coalesce parity — empty-string/sentinel
    * normalized to NULL via nullif before coalescing. */
  def qCoalesceNull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        coalesce(nullif($"lang", lit("en")), nullif($"source", lit("src0")), lit("fallback"))
          .as("resolved"))
      .orderBy($"doc_id")
  }

  /** F8: array split / slice / join (roles.join(", ") analog). */
  def qArrayOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        array_join(slice(split($"text", " "), 1, 5), " ▸ ").as("head5"),
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** F1-F3: timestamp parse/trunc/duration + calendar parts. */
  def qDates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        ep(date_trunc("day", $"o_orderdate")).as("day_ep"),
        datediff(lit("1998-01-01").cast("date"), $"o_orderdate".cast("date"))
          .cast("long").as("days_to_98"))
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------
  // Windows (SURVEY §2.6)
  // ---------------------------------------------------------------

  /** Running total per key (frame spec), exact decimal accumulation. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        sum(dec($"o_totalprice")).over(w).cast("double").as("running_spend"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** lag-based inter-event gaps (W1 sessionization primitive). */
  def qWindowLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id",
        (ep($"ts") - lag(ep($"ts"), 1).over(w)).as("gap_secs"))
      .orderBy($"user_id", $"event_id")
  }

  /** rank / dense_rank / row_number analytics. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        row_number().over(w).cast("long").as("rn"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Analytic window functions (SURVEY §2.6 "absent" set): ntile
    * buckets, percent_rank, cume_dist per priority class. Doubles are
    * exact small-denominator divisions — identical IEEE ops on both
    * engines, so they hash-match without fixed-point tricks. */
  def qWindowNtile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice", $"o_orderkey")
    Tables.load(spark, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey",
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** W1 gap-based sessionization: 30-minute inactivity splits sessions
    * (reference's AGENT STATUS span machine, batch form —
    * routes/events.js:639-664). */
  /** The 30-minute-gap session frame (user_id, sess_id, n_events,
    * sess_start, sess_end) — ONE definition shared by the raw session
    * listing ([[qWindowSession]]) and the KPI rollup
    * ([[qSessionKpis]]). */
  private def sessionFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .withColumn("ep", ep($"ts"))
      .withColumn("new_sess",
        when(lag($"ep", 1).over(w).isNull || ($"ep" - lag($"ep", 1).over(w)) > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(wRun))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ep").as("sess_start"),
        max($"ep").as("sess_end"))
  }

  def qWindowSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionFrame(spark, dir).orderBy($"user_id", $"sess_id")
  }

  /** Per-user session KPIs — the canonical web-analytics rollup over
    * the sessionization: session count, bounce rate (single-event
    * sessions, ppm), and mean session duration/depth in exact ×100
    * fixed point. Same shared session frame, one more user-keyed
    * combine — no new window. */
  def qSessionKpis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionFrame(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        count(when($"n_events" === 1, 1)).as("n_bounces"),
        sum($"sess_end" - $"sess_start").as("total_duration_sec"),
        sum($"n_events").as("total_events"))
      .withColumn("bounce_ppm", expr("(n_bounces * 1000000) div n_sessions"))
      .withColumn("avg_duration_x100",
        expr("(total_duration_sec * 100) div n_sessions"))
      .withColumn("avg_events_x100", expr("(total_events * 100) div n_sessions"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------
  // Sorts / limits / set ops (SURVEY §2.7, §2.8)
  // ---------------------------------------------------------------

  /** Deterministic top-k with tiebreak. */
  def qTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .limit(15)
  }

  /** INTERSECT / EXCEPT / UNION composition over nation keys. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cn = Tables.load(spark, dir, "customer")
      .select($"c_nationkey".as("nationkey")).distinct()
    val sn = Tables.load(spark, dir, "supplier")
      .select($"s_nationkey".as("nationkey")).distinct()
    cn.intersect(sn).withColumn("op", lit("both"))
      .union(cn.except(sn).withColumn("op", lit("cust_only")))
      .orderBy($"op", $"nationkey")
  }

  /** Skew-resistant two-phase salted aggregation (operators.Salted) —
    * must be indistinguishable from a direct GROUP BY, which is exactly
    * what the plain-SQL oracle asserts. */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Salted.aggregate(
      Tables.load(spark, dir, "events"),
      key = $"user_id", rowId = $"event_id", salts = 8,
      aggs = Seq(
        ("total", dec($"value"), "sum"),
        ("n", $"event_id", "count"),
        ("first_id", $"event_id", "min"),
        ("last_id", $"event_id", "max")))
      .select(col("__key").as("user_id"),
        col("total").cast("double").as("total"),
        col("n"), col("first_id"), col("last_id"))
      .orderBy(col("user_id"))
  }

  /** Skew-resistant fact⋈dim join: the dim is replicated per salt and
    * the fact's rows spread over (key, salt) — the oracle is the PLAIN
    * join, proving the transform is a drop-in (operators.Salted.join). */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
      .select($"o_custkey".as("c_custkey"), dec($"o_totalprice").as("tp"))
    val cust = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    graft.operators.Salted.join(orders, cust, "c_custkey",
        rowId = $"tp", salts = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum($"tp").cast("double").as("total_price"))
      .orderBy($"c_mktsegment")
  }

  /** Exact per-group discrete percentiles via distributed ranking —
    * the median's generalization. Ranks come from pure integer
    * ceilings ((p·n rounded up) via `div`), so both engines select the
    * same positions; the reported values are untouched column values
    * (no float arithmetic to diverge). */
  def qAggPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    valueCounts(Tables.load(spark, dir, "lineitem"), $"l_returnflag", $"l_quantity")
      .groupBy($"__g")
      .agg(
        rankValue(expr("(n + 1) div 2")).as("p50"),
        rankValue(expr("(9 * n + 9) div 10")).as("p90"),
        rankValue(expr("(99 * n + 99) div 100")).as("p99"),
        max($"n").as("n"))
      .select($"__g".as("l_returnflag"), $"p50", $"p90", $"p99", $"n")
      .orderBy($"l_returnflag")
  }

  /** Explicit GROUPING SETS (beyond rollup/cube) via the SQL surface. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  /** Range join, hour-bucketed: clicks within the hour preceding each
    * purchase of the same user. The join key is (user_id, hour_bucket)
    * — each purchase probes its own hour bucket and the preceding one,
    * which covers every click in [p_ep−3600, p_ep). A click lands in
    * exactly one bucket so no match is counted twice. This bounds the
    * per-key pair expansion to the window width: a power user with 10⁵
    * clicks and 10⁴ purchases no longer materializes 10⁹ rows on one
    * key (the previous user_id-only join did), only same-hour
    * collisions. The left join keeps zero-click purchases. */
  def qJoinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), ep($"ts").as("p_ep"))
      // probe rows: the purchase's hour bucket and the one before it
      .withColumn("hb", explode(array(expr("p_ep div 3600"), expr("p_ep div 3600 - 1"))))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", ep($"ts").as("c_ep"))
      .withColumn("hb", expr("c_ep div 3600"))
    p.join(c, Seq("user_id", "hb"), "left_outer")
      .withColumn("in_range",
        $"c_ep".isNotNull && $"c_ep" < $"p_ep" && $"c_ep" >= $"p_ep" - 3600)
      .groupBy($"user_id", $"purchase_id", $"p_ep")
      .agg(count(when($"in_range", 1)).as("clicks_prev_hour"))
      .orderBy($"purchase_id")
  }

  /** Generator/UDTF surface: posexplode of token arrays (SURVEY §2.11 —
    * explode is the built-in generator). First 3 tokens per doc. */
  def qExplodeTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", posexplode(slice(split($"text", " "), 1, 3)))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("token"))
      .orderBy($"doc_id", $"pos")
  }

  /** Tumbling event-time windows in batch (the streaming §2.10 window
    * analog): hourly event counts per type via window(). */
  def qWindowTumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .select(unix_timestamp($"w.start").as("window_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** Cohort retention: users bucketed by the epoch DAY of their FIRST
    * event, tracked across day offsets; each cell is the count of
    * cohort users active that day plus its retention rate vs the
    * cohort size (the offset-0 cell, since every user is active on
    * their own first day). Day granularity because the corpus spans
    * weeks — weekly cells would all read 100%. All time math is
    * integer epoch-day arithmetic (`unix_timestamp div 86400`) so
    * both engines agree bit-for-bit; the rate is integer permille.
    *
    * Scale shape: the first-event aggregate and the activity distinct
    * both hash-partition on user_id, so the self-join between them is
    * co-partitioned (no extra Exchange); the final cell aggregate
    * shuffles the tiny (cohort, offset) frame. The classic product
    * analytics query, linear at any corpus size. */
  def qCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", expr("unix_timestamp(ts) div 86400").as("d"))
    val first = ev.groupBy($"user_id").agg(min($"d").as("cohort_day"))
    val cells = ev.join(first, Seq("user_id"))
      .select($"user_id", $"cohort_day", ($"d" - $"cohort_day").as("day_offset"))
      .distinct()
      .groupBy($"cohort_day", $"day_offset").agg(count(lit(1)).as("n_users"))
    val sizes = cells.filter($"day_offset" === 0L)
      .select($"cohort_day", $"n_users".as("cohort_size"))
    cells.join(sizes, Seq("cohort_day"))
      .select($"cohort_day", $"day_offset", $"n_users", $"cohort_size",
        expr("(n_users * 1000) div cohort_size").as("retained_permille"))
      .orderBy($"cohort_day", $"day_offset")
  }

  /** NELSON–AALEN SURVIVAL ANALYSIS (Nelson 1972, Aalen 1978 — the
    * counting-process cumulative-hazard estimator): user churn modeled
    * as right-censored lifetimes. A user's lifetime is the day span
    * between their first and last event; the death (churn) is OBSERVED
    * only when the last event falls more than 14 days before the
    * corpus end — later last-events are censored (the user may still
    * be alive past the observation window). Ĥ(t) = Σ_{s≤t} d_s / n_s
    * with d_s = churn events at lifetime s and n_s = the at-risk count
    * (everyone whose lifetime, observed or censored, is ≥ s); censored
    * users leave the risk set but never count as deaths. The hazard
    * steps are exact integer parts-per-billion, so Ĥ is a running
    * BIGINT sum (the Kaplan–Meier survival curve is e^−Ĥ — a
    * presentation-side transform, deliberately not baked into the
    * hash). Complements [[qCohortRetention]]: retention reads raw
    * activity shares, the estimator corrects them for censoring.
    *
    * Scale shape: ONE user-keyed aggregate builds (lifetime, churned),
    * then everything lives on the per-lifetime-day frame (bounded by
    * the calendar span, never corpus size) — the corpus-end scalar is
    * a 1-row broadcast, the reverse-cumulative risk set and the
    * running hazard are windows over that bounded frame. */
  def qSurvivalHazard(spark: SparkSession, dir: String): DataFrame =
    survivalHazard(Tables.load(spark, dir, "events"))

  /** Core of [[qSurvivalHazard]] over any (user_id, ts) frame —
    * separated so the planted-censoring spec can drive it. */
  private[graft] def survivalHazard(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select($"user_id",
      expr("unix_timestamp(ts) div 86400").as("d"))
    val spans = ev.groupBy($"user_id")
      .agg(min($"d").as("first_d"), max($"d").as("last_d"))
    val corpusEnd = ev.agg(max($"d").as("w_end"))
    val lifetimes = spans.crossJoin(broadcast(corpusEnd))
      .select(($"last_d" - $"first_d").as("t_day"),
        when($"last_d" < $"w_end" - 14L, 1L).otherwise(0L).as("churned"))
    val perDay = lifetimes.groupBy($"t_day")
      .agg(sum($"churned").as("d_churn"),
        (count(lit(1)) - sum($"churned")).as("n_censored"))
    // bounded frame from here down: one row per distinct lifetime day
    val wRisk = Window.orderBy($"t_day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy($"t_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("n_risk", sum($"d_churn" + $"n_censored").over(wRisk))
      .withColumn("hazard_step_ppb", expr("(d_churn * 1000000000) div n_risk"))
      .withColumn("cumhaz_ppb", sum($"hazard_step_ppb").over(wCum))
      .select($"t_day", $"n_risk", $"d_churn", $"n_censored",
        $"hazard_step_ppb", $"cumhaz_ppb")
      .orderBy($"t_day")
  }

  /** Time-series motif search via SAX (symbolic aggregate
    * approximation — the EDBT'19 streaming-similarity recipe): each
    * user's first 16 event values become a 4-segment PAA sketch,
    * min-max normalized per user and discretized to a 4-symbol SAX
    * word; users sharing a word are CANDIDATE motif pairs, verified
    * by exact L1 distance on the normalized sketches. The same
    * candidates→verify shape as LSH dedup — the word bucket bounds
    * the pair space, no all-pairs distance join ever runs.
    *
    * All arithmetic is integer (cents, floor-div means, permille
    * normalization) so both engines agree bit-for-bit.
    *
    * Scale shape: one user_id shuffle for the ordered prefix, one
    * (user, seg) map-side-combined aggregate, one shuffle on the SAX
    * word for the bucket self-join. Linear + per-bucket quadratic,
    * the standard motif-discovery cost envelope. */
  def qTsSaxMotif(spark: SparkSession, dir: String): DataFrame =
    saxMotif(Tables.load(spark, dir, "events"))

  /** Core of [[qTsSaxMotif]] over any frame with (user_id, ts,
    * event_id, value) — separated so the randomized property suite
    * can drive it against a direct Scala replay. */
  private[graft] def saxMotif(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val paa = events
      .withColumn("us", unix_micros($"ts"))
      .withColumn("rn", row_number().over(wOrd))
      .filter($"rn" <= 16)
      .withColumn("cents", ($"value".cast("decimal(18,2)") * 100).cast("long"))
      .groupBy($"user_id", expr("(rn - 1) div 4").as("seg"))
      .agg(expr("sum(cents) div 4").as("paa"))
    val wUser = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    val sax = paa
      .withColumn("umin", min($"paa").over(wUser))
      .withColumn("umax", max($"paa").over(wUser))
      .withColumn("norm", expr(
        "CASE WHEN umax = umin THEN 0L ELSE ((paa - umin) * 1000) div (umax - umin) END"))
      .withColumn("sym", least(expr("norm div 250"), lit(3L)))
      .groupBy($"user_id")
      .agg(
        sum(expr(
          "sym * (CASE seg WHEN 0 THEN 1000L WHEN 1 THEN 100L WHEN 2 THEN 10L ELSE 1L END)"))
          .as("sax_word"),
        sum(when($"seg" === 0, $"norm").otherwise(0L)).as("n0"),
        sum(when($"seg" === 1, $"norm").otherwise(0L)).as("n1"),
        sum(when($"seg" === 2, $"norm").otherwise(0L)).as("n2"),
        sum(when($"seg" === 3, $"norm").otherwise(0L)).as("n3"))
    val a = sax.select($"user_id".as("user_a"), $"sax_word",
      $"n0".as("a0"), $"n1".as("a1"), $"n2".as("a2"), $"n3".as("a3"))
    val b = sax.select($"user_id".as("user_b"), $"sax_word",
      $"n0".as("b0"), $"n1".as("b1"), $"n2".as("b2"), $"n3".as("b3"))
    a.join(b, Seq("sax_word"))
      .filter($"user_a" < $"user_b")
      .withColumn("l1_dist", expr(
        "abs(a0 - b0) + abs(a1 - b1) + abs(a2 - b2) + abs(a3 - b3)"))
      .filter($"l1_dist" <= 300L)
      .select($"user_a", $"user_b", $"sax_word", $"l1_dist")
      .orderBy($"user_a", $"user_b")
  }

  /** Event transition matrix (first-order Markov): consecutive
    * event-type pairs per user in strict event-time order (micro epoch
    * + event_id tiebreak), counted into a (prev, next) matrix with an
    * integer-permille row share — the path-analysis complement to the
    * funnel/CEP/attribution family.
    *
    * Scale shape: ONE shuffle on user_id for the lead() window, then
    * a map-side-combined aggregate onto the tiny |types|² matrix; the
    * row-total join is matrix-sized. Linear in events. */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val pairs = Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros($"ts"))
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("prev_type"), $"next_type")
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy($"prev_type").agg(sum($"n").as("tot"))
    pairs.join(totals, Seq("prev_type"))
      .select($"prev_type", $"next_type", $"n",
        expr("(n * 1000) div tot").as("share_permille"))
      .orderBy($"prev_type", $"next_type")
  }

  private val BasketMinSupport = 3L

  /** Association rules over order baskets — support / confidence /
    * lift for co-purchased part pairs (the market-basket classic; the
    * graph module's edge table is these pairs WITHOUT counts, so this
    * is the quantified sibling of the co-occurrence graph). All three
    * measures are rational and carried ×10⁶ in BIGINT:
    * conf = supp_ab/supp_a, lift = N·supp_ab/(supp_a·supp_b).
    *
    * Scale shape: the basket self-join shuffles on orderkey (same key
    * both sides — one Exchange, the edge-staging shape) into a
    * map-side-combined pair count; the min-support filter prunes the
    * pair frame BEFORE the two part-keyed support joins; the 1-row
    * order count broadcasts. Linear in Σ basket² like the edge table
    * itself. */
  def qBasketRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The distinct basket frame feeds FOUR consumers (supp, the order
    // count, and both sides of the pair self-join); unmaterialized,
    // column pruning makes each subtree unique so ReuseExchange never
    // fires and the scan+distinct ran four times (plans/r15/
    // q_basket_rules_before.txt: 4 lineitem scans, 4 distinct
    // exchanges). One ephemeral materialization serves all four — and
    // the self-join's two sides become the SAME scan, so its cust
    // exchange is planned once. The frame is CORPUS-PROPORTIONAL (one
    // row per distinct (order,part)) — SCALE.md category 3: single-
    // query lifetime, measured faster ephemeral at bench scale; a
    // cluster deployment routes it through the parquet stage.
    val li = graft.SessionCache.stageEphemeral(spark, "basket_li")(
      Tables.load(spark, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey").distinct())
    val supp = li.groupBy($"l_partkey").agg(count(lit(1)).as("supp"))
    val nOrders = li.agg(countDistinct($"l_orderkey").as("n_orders"))
    val pairs = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("part_a"), $"b.l_partkey".as("part_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter($"supp_ab" >= BasketMinSupport)
    pairs
      .join(supp.select($"l_partkey".as("part_a"), $"supp".as("supp_a")), Seq("part_a"))
      .join(supp.select($"l_partkey".as("part_b"), $"supp".as("supp_b")), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_ab_x1e6", expr("(supp_ab * 1000000) div supp_a"))
      .withColumn("lift_x1e6",
        expr("(n_orders * supp_ab * 1000000) div (supp_a * supp_b)"))
      .select($"part_a", $"part_b", $"supp_a", $"supp_b", $"supp_ab",
        $"n_orders", $"conf_ab_x1e6", $"lift_x1e6")
      .orderBy($"lift_x1e6".desc, $"part_a", $"part_b")
  }

  private val ItemcfMinSupport = 3L
  private val ItemcfTopK = 5L
  private val ItemcfMaxBasket = 10000L

  /** Item-item collaborative filtering — "customers who bought X also
    * bought Y": top-5 most-similar parts per part by co-purchasing
    * customer overlap. Similarity is cosine over the binary
    * customer-incidence vectors, carried EXACTLY as its square in ppm
    * (`cos² = c_ij²·10⁶ div (c_i·c_j)` — monotone in cosine, so ranks
    * are identical, and rational, so the oracle hash-matches with no
    * sqrt ulp risk); products ride DECIMAL(38,0) (c² ·10⁶ overflows
    * BIGINT at web scale). Differs from [[qBasketRules]] (order-level
    * pair measures, no ranking) by aggregating at the CUSTOMER level
    * and ranking neighbors per item — the classic Amazon-style
    * item-to-item recommender precompute.
    *
    * Scale shape: the incidence self-join shuffles once on cust;
    * per-customer distinct-item baskets are bounded by shopping
    * behavior, not corpus size — and a basket over
    * [[ItemcfMaxBasket]] raises loudly (assert_true on a broadcast
    * basket census, the `qDedupJaccard` guard policy) instead of
    * running silently quadratic. Min-support prunes pairs before the
    * two item-count joins; the per-item top-5 is a window over the
    * surviving pair frame. */
  def qRecItemcf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The customer-item incidence frame feeds the basket census, the
    // item counts AND both sides of the pair self-join; unmaterialized,
    // each reference re-ran the orders-lineitem join + distinct (4
    // copies in plans/r15/q_rec_itemcf_before.txt, 108 Exchanges).
    // Ephemeral materialization (corpus-proportional — one row per
    // distinct (cust,item) — but single-query; SCALE.md category 3,
    // parquet-staged in a cluster deployment) collapses them to one
    // derivation, and the self-join's sides become one scan sharing
    // one cust exchange.
    val cp = graft.SessionCache.stageEphemeral(spark, "itemcf_cp")(
      Tables.load(spark, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
        .join(Tables.load(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_partkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("cust"), $"l_partkey".as("item")).distinct())
    val sizes = cp.groupBy($"cust").agg(count(lit(1)).as("bn"))
    val guarded = graft.SessionCache.stageEphemeral(spark, "itemcf_guarded")(
      cp.join(broadcast(sizes.filter($"bn" > ItemcfMaxBasket)
          .limit(1).select($"cust", $"bn")), Seq("cust"), "left_outer")
        .filter(assert_true($"bn".isNull,
          format_string("qRecItemcf basket over cap %d: cust=%d n=%d",
            lit(ItemcfMaxBasket), $"cust", $"bn")).isNull)
        .drop("bn"))
    val cnt = guarded.groupBy($"item").agg(count(lit(1)).as("c"))
    // The min-support survivors feed BOTH branches of the symmetrizing
    // union; unmaterialized, the C(basket,2) pair fan-out (13.1M rows
    // at sf0.1) shuffled and aggregated TWICE. Post-filter the frame is
    // support-bounded (9k rows at sf0.1) — bounded ephemeral.
    val pairs = graft.SessionCache.stageEphemeral(spark, "itemcf_pairs")(
      guarded.as("a").join(guarded.as("b"),
          $"a.cust" === $"b.cust" && $"a.item" < $"b.item")
        .groupBy($"a.item".as("ia"), $"b.item".as("ib"))
        .agg(count(lit(1)).as("cij"))
        .filter($"cij" >= ItemcfMinSupport))
    val sym = pairs.union(pairs.select($"ib".as("ia"), $"ia".as("ib"), $"cij"))
    val scored = sym
      .join(cnt.select($"item".as("ia"), $"c".as("ca")), Seq("ia"))
      .join(cnt.select($"item".as("ib"), $"c".as("cb")), Seq("ib"))
      .withColumn("cos2_ppm", expr(
        "cast((cast(cij as decimal(38,0)) * cij * 1000000) div (cast(ca as decimal(38,0)) * cb) as bigint)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"ia").orderBy($"cos2_ppm".desc, $"ib")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= ItemcfTopK)
      .select($"ia".as("item"), $"rank", $"ib".as("neighbor"),
        $"cij".as("n_common"), $"cos2_ppm")
      .orderBy($"item", $"rank")
  }

  /** Top user journey trigrams — path mining one step past the
    * transition matrix ([[qEventTransitions]]'s bigrams): the 20 most
    * frequent 3-event sequences users actually walk, strict event-time
    * order with the event_id tiebreak. One user-keyed window shuffle
    * (two leads share one frame), a map-side-combined path count, and
    * a TakeOrderedAndProject top-20 — no global sort. */
  def qEventPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros($"ts"))
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .filter($"t3".isNotNull)
      .groupBy(concat_ws(">", $"event_type", $"t2", $"t3").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  /** Monthly revenue with month-over-month growth — the canonical BI
    * time rollup: order revenue in exact DECIMAL cents per calendar
    * month, order count, and growth vs the previous month in exact
    * permille (1000 = flat; the first month has NULL growth). One
    * map-side-combined month rollup; the lag window runs over the
    * months frame (dozens of rows at any corpus scale — time rollups
    * shrink before they sort). */
  def qRevenueMonthly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"month")
    Tables.load(spark, dir, "orders")
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        (sum($"o_totalprice".cast("decimal(18,2)")) * 100)
          .cast("long").as("revenue_cents"))
      .withColumn("prev_cents", lag($"revenue_cents", 1).over(w))
      .withColumn("growth_permille",
        expr("(revenue_cents * 1000) div prev_cents"))
      .select($"month", $"n_orders", $"revenue_cents", $"growth_permille")
      .orderBy($"month")
  }

  /** The monthly rollup over the INCREMENTALLY-maintained aggregate
    * view (`sources.AggMaintenance`): orders arrive in three batches
    * split on the order key, each landing only its own mergeable
    * partial; the view folds partials at read time. The oracle is
    * VERBATIM [[qRevenueMonthly]]'s — the driver hash proves the
    * maintained view is indistinguishable from the full rescan. Growth
    * runs over the months frame exactly as in the batch query. */
  def qRevenueMonthlyInc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = graft.SessionCache.checkpointed(spark, s"agg.inc|$dir") {
      val base = s"target/graft-stage/${spark.sparkContext.applicationId}/agginc_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val o = Tables.load(spark, dir, "orders")
      graft.sources.AggMaintenance.rebuild(o.filter($"o_orderkey" % 3 === 0), base)
      graft.sources.AggMaintenance.mergeBatch(o.filter($"o_orderkey" % 3 === 1), base, 1L)
      graft.sources.AggMaintenance.mergeBatch(o.filter($"o_orderkey" % 3 === 2), base, 2L)
      graft.sources.AggMaintenance.read(spark, base)
    }
    val w = Window.orderBy($"month")
    agg
      .withColumn("prev_cents", lag($"revenue_cents", 1).over(w))
      .withColumn("growth_permille",
        expr("(revenue_cents * 1000) div prev_cents"))
      .select($"month", $"n_orders", $"revenue_cents", $"growth_permille")
      .orderBy($"month")
  }

  /** HERFINDAHL–HIRSCHMAN index per nation — the third concentration
    * lens next to the Gini scalar and the Pareto curve: HHI =
    * Σ share² over each nation's customers, exactly rational as
    * `Σ cents² · 10⁶ div (Σ cents)²` with the squares in DECIMAL(38,0)
    * (cents² tops BIGINT at revenue scale). 10000 ppm ≈ monopoly
    * threshold territory in the classic scaled convention; here the
    * full ppm value rides alongside customer counts so thin nations
    * read correctly. One customer-revenue combine + broadcast dim join
    * + |nations| rollup. */
  def qHhiRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) * 100 as bigint)")
        .as("cents"))
    Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
      .join(rev, $"c_custkey" === $"o_custkey", "left_outer")
      .na.fill(0L, Seq("cents"))
      .join(broadcast(Tables.load(spark, dir, "nation")
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").as("revenue_cents"),
        sum(expr("cast(cents as decimal(38,0)) * cents")).as("sumsq"))
      .select($"nation", $"n_customers", $"revenue_cents",
        expr("""cast(CASE WHEN revenue_cents = 0 THEN 0
               |ELSE (sumsq * 1000000)
               |     div (cast(revenue_cents as decimal(38,0)) * revenue_cents)
               |END as bigint)""".stripMargin).as("hhi_ppm"))
      .orderBy($"nation")
  }

  /** PARETO / concentration CURVE — the decile readout behind "the top
    * 10% of customers drive X% of revenue", complementing the Gini
    * SCALAR (q_gini_revenue) with the distribution itself: customers
    * ranked by order revenue (descending, custkey tiebreak) into ten
    * equal-count bands via `((rank−1)·10) div n`, per-decile revenue
    * share and the cumulative share in exact ppm. The global rank is
    * the banded distributed rank (the qTokenBudget protocol): revenue
    * totals band on floor(cents/10⁶) — band order equals revenue
    * order — per-band customer counts are a tiny aggregate whose
    * descending running offsets broadcast back, and each customer's
    * global rank is its band offset plus a row_number WITHIN the band.
    * The customer dim is 1.5M rows per sf, so a single-partition
    * global-order window would be a 10⁸-row one-task sort at 100× —
    * no stage here ever sees more than one band in one task; the
    * decile rollup is 10 rows. All revenue exact DECIMAL→BIGINT
    * cents. */
  def qParetoRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) * 100 as bigint)")
        .as("cents"))
    val n = rev.agg(count(lit(1)).as("n"), sum($"cents").as("total"))
    val banded = rev
      .withColumn("band", expr("(cents - pmod(cents, 1000000L)) div 1000000L"))
    val bandCounts = banded.groupBy($"band").agg(count(lit(1)).as("bn"))
    val wBand = Window.orderBy($"band".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bandCounts // one row per distinct $10k revenue band — tiny
      .withColumn("off", coalesce(sum($"bn").over(wBand), lit(0L)))
      .select($"band", $"off")
    val wIn = Window.partitionBy($"band").orderBy($"cents".desc, $"o_custkey")
    val deciles = banded.join(broadcast(offs), Seq("band"))
      .withColumn("rank", ($"off" + row_number().over(wIn)).cast("long"))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("((rank - 1) * 10) div n"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"cents").as("revenue_cents"),
        max($"total").as("total"))
    val wc = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      .withColumn("cum_cents", sum($"revenue_cents").over(wc))
      .select($"decile", $"n_customers", $"revenue_cents",
        expr("cast((cast(revenue_cents as decimal(38,0)) * 1000000) div total as bigint)")
          .as("share_ppm"),
        expr("cast((cast(cum_cents as decimal(38,0)) * 1000000) div total as bigint)")
          .as("cum_share_ppm"))
      .orderBy($"decile")
  }

  /** COHORT LTV curves — the monetary sibling of [[qCohortRetention]]:
    * users cohorted by first-event epoch WEEK (the corpus spans one
    * calendar month, so weekly cohorts are the non-degenerate grain),
    * purchase revenue accumulated by week offset, lifetime value to
    * date as exact `cum_cents div cohort_size`. Week index =
    * `epoch div 604800` (monotone, so cohort = `min(week_idx)`);
    * offsets carry only OBSERVED weeks — the running sum is correct
    * across gaps, absent offsets are zero-revenue weeks (documented,
    * not emitted). One user-keyed
    * combine for cohorts, one co-keyed join for purchases, windows
    * over the cohort×offset frame (tiny — time rollups shrink before
    * they sort). All revenue exact BIGINT cents. */
  def qCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .withColumn("week_idx", expr("unix_timestamp(ts) div 604800L"))
    val cohort = ev.groupBy($"user_id").agg(min($"week_idx").as("cm"))
    val sizes = cohort.groupBy($"cm").agg(count(lit(1)).as("n_users"))
    val rev = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"week_idx",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      .join(cohort, Seq("user_id"))
      .groupBy($"cm", ($"week_idx" - $"cm").as("offset"))
      .agg(sum($"cents").as("revenue_cents"))
    val w = Window.partitionBy($"cm").orderBy($"offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(sizes, Seq("cm"))
      .withColumn("cum_cents", sum($"revenue_cents").over(w))
      .select($"cm".as("cohort_week_idx"), $"offset", $"n_users",
        $"revenue_cents", $"cum_cents",
        expr("cum_cents div n_users").as("ltv_cents_per_user"))
      .orderBy($"cohort_week_idx", $"offset")
  }

  /** FORECAST-ACCURACY readout (seasonal-naive evaluation): per event
    * type, hourly volumes are "forecast" by the same hour one day
    * earlier (the seasonal-naive baseline every real forecast must
    * beat) and by the previous hour (persistence); the query reports
    * both exact mean absolute errors ×100 and their ratio in ppm — the
    * MASE-style skill score monitoring dashboards track. All integer:
    * counts, absolute differences, integral-div means. Shape: one
    * (type, hour) map-side-combined rollup, then two lag windows over
    * the HOURS frame (|types|·|hours| rows — time rollups shrink
    * before they sort), one |types|-row readout. */
  def qForecastMase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        expr("unix_timestamp(ts) div 3600L").as("hour"))
      .agg(count(lit(1)).as("n"))
    // DENSIFY: zero-volume hours are real observations a forecast must
    // predict — lag over the sparse observed sequence would silently
    // compare across gaps (the qTsFill grid pattern)
    val grid = hourly.groupBy($"event_type")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"event_type", explode(expr("sequence(h0, h1)")).as("hour"))
    val dense = grid.join(hourly, Seq("event_type", "hour"), "left_outer")
      .select($"event_type", $"hour", coalesce($"n", lit(0L)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val scored = dense
      .withColumn("prev_day", lag($"n", 24).over(w))
      .withColumn("prev_hour", lag($"n", 1).over(w))
      .filter($"prev_day".isNotNull && $"prev_hour".isNotNull)
    scored.groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(abs($"n" - $"prev_day")).as("ae_seasonal"),
        sum(abs($"n" - $"prev_hour")).as("ae_persist"))
      .select($"event_type", $"n_hours",
        expr("(ae_seasonal * 100) div n_hours").as("mae_seasonal_x100"),
        expr("(ae_persist * 100) div n_hours").as("mae_persist_x100"),
        expr("""CASE WHEN ae_persist = 0 THEN 0L
               |ELSE (ae_seasonal * 1000000) div ae_persist END""".stripMargin)
          .as("skill_ppm"))
      .orderBy($"event_type")
  }

  /** INTERVAL MERGE (gaps-and-islands over RANGES): each event opens a
    * 30-minute activity interval; overlapping or touching intervals
    * merge into islands — the classic coverage computation
    * (maintenance windows, ad exposure, machine uptime) that
    * point-gap sessionization (q_window_session) cannot express,
    * because an interval can OUTLAST its successor's start and still
    * have to extend the island (the running-max-of-ends subtlety —
    * comparing only adjacent starts under-merges).
    *
    * The standard algorithm: order per user by start; a row opens a
    * new island iff its start exceeds the running max of ALL prior
    * ends; island id = running sum of open flags. ONE user-keyed
    * exchange feeds both window passes and the rollup. */
  def qIntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
    val iv = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", ep($"ts").as("s"),
        (ep($"ts") + 1800L).as("e"))
      .withColumn("prev_max_end",
        max($"e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when($"prev_max_end".isNull || $"s" > $"prev_max_end", 1L).otherwise(0L))
      .withColumn("island",
        sum($"opens").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    iv.groupBy($"user_id", $"island")
      .agg(min($"s").as("start_ep"), max($"e").as("end_ep"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"island", $"start_ep", $"end_ep",
        ($"end_ep" - $"start_ep").as("span_secs"), $"n_events")
      .orderBy($"user_id", $"island")
  }

  /** JOIN-SIZE ESTIMATION by Count-Min sketch dot product (Cormode &
    * Muthukrishnan 2005; the AGMS line) — what a cost-based optimizer
    * consults before picking a join strategy: the exact size of
    * `views ⋈ purchases ON user_id` is `Σ_u cA(u)·cB(u)`; a CMS of
    * each side's key frequencies estimates it as the MIN over hash
    * rows of the row-wise sketch dot product, never undercounting
    * (collision cross-terms are nonnegative). The audit emits each
    * row's estimate next to the exact size — at 100 TB the sketches
    * are 2×4×64 counters maintained incrementally per side; the exact
    * column is what you stop computing. Deterministic md5 bucket
    * hashing (the q_vocab_cms_est convention) keeps it oracle-exact.
    * Shape: one user-keyed combine + a 512-cell sketch shuffle. */
  def qJoinCardEst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def bucketExpr(d: Int): String = {
      val h = "md5(cast(cast(user_id as string) as binary))"
      val hx = (0 until 4).map { i =>
        s"(instr('0123456789abcdef', substring($h, ${4 * d + i + 1}, 1)) - 1)"
      }
      s"(((${hx(0)} * 16 + ${hx(1)}) * 16 + ${hx(2)}) * 16 + ${hx(3)}) % 64"
    }
    val perUser = Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(count(when($"event_type" === "view", 1)).as("ca"),
        count(when($"event_type" === "purchase", 1)).as("cb"))
    val exact = perUser.agg(sum($"ca" * $"cb").as("exact_size"))
    val cells = perUser
      .select($"ca", $"cb",
        explode(array((0 until 4).map(d =>
          struct(lit(d).as("d"), expr(bucketExpr(d)).as("bucket"))): _*)).as("c"))
      .groupBy($"c.d".as("d"), $"c.bucket".as("bucket"))
      .agg(sum($"ca").as("sa"), sum($"cb").as("sb"))
    val ests = cells.groupBy($"d").agg(sum($"sa" * $"sb").as("dot_est"))
    val minEst = ests.agg(min($"dot_est").as("est_min"))
    ests.crossJoin(broadcast(exact)).crossJoin(broadcast(minEst))
      .select($"d".cast("long").as("d"), $"dot_est", $"exact_size", $"est_min",
        ($"dot_est" - $"exact_size").as("overcount"))
      .orderBy($"d")
  }

  /** The AMS tug-of-war sign: ±1 from bit 21 of a multiply-shift hash
    * of (counter id j, key u). Shared between the Spark plan and the
    * DuckDB oracle, modulo the engines' shift spelling (`shiftright`
    * vs `>>`). The odd multiplier (2j+1)·1000003 stays ≤ 1.6·10⁸, so
    * the product is ANSI-safe for key domains up to ~5·10¹⁰. */
  private def amsSign(shift: (String, Int) => String): String = {
    val h = "((2 * j + 1) * 1000003) * user_id + j * 97 + 13"
    s"1 - 2 * (${shift(s"($h)", 21)} & 1)"
  }

  /** SECOND FREQUENCY MOMENT (F2) by AMS tug-of-war sketch (Alon,
    * Matias & Szegedy 1996 — the original streaming-sketch paper): F2
    * of the per-user event counts is exactly the self-join size on
    * user_id, the other cardinality a cost-based optimizer consults
    * (its sibling [[qJoinCardEst]] estimates the two-sided join by CMS
    * dot product). The sketch is LINEAR: 80 signed counters
    * c_j = Σ_rows sign_j(user) accumulate straight off the scan —
    * map-side combined into 80 partials per task, NO key shuffle, and
    * two sketches merge by addition (the 100 TB path: the exact audit
    * column's user-keyed combine is what you stop computing). Estimate
    * = median over 5 groups of the mean of 16 counter squares, the
    * paper's median-of-means variance reduction; medians/means over
    * the 5- and 16-row frames are bounded-dimension windows. All
    * arithmetic integer, both engines replay the same multiply-shift
    * signs bit-for-bit. */
  def qAmsF2(spark: SparkSession, dir: String): DataFrame =
    amsF2(Tables.load(spark, dir, "events"))

  /** Core of [[qAmsF2]] over any frame with a user_id column —
    * separated so the linearity spec (sketch of a doubled corpus =
    * 4× the estimate) can drive it. */
  private[graft] def amsF2(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select($"user_id")
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      .agg(sum($"cnt" * $"cnt").as("f2_exact"))
    val counters = ev
      .select($"user_id", explode(expr("sequence(0, 79)")).as("j"))
      .withColumn("s",
        expr(amsSign((x, b) => s"shiftright($x, $b)")).cast("long"))
      .groupBy($"j").agg(sum($"s").as("c"))
    val groups = counters
      .groupBy(expr("j div 16").as("g"))
      .agg(expr("sum(c * c) div 16").as("est"))
    val wm = Window.orderBy($"est", $"g")
    val med = groups.withColumn("rn", row_number().over(wm))
      .filter($"rn" === 3).select($"est".as("f2_est"))
    groups.crossJoin(broadcast(med)).crossJoin(broadcast(exact))
      .select($"g", $"est", $"f2_est", $"f2_exact",
        expr("(abs(f2_est - f2_exact) * 1000000) div f2_exact").as("err_ppm"))
      .orderBy($"g")
  }

  /** Shuffle-key SKEW REPORT — the diagnosis you run before choosing
    * `operators.Salted` or an AQE skew threshold: per-key row counts
    * on the prospective join/aggregation key, the top-10 heaviest keys
    * with their exact ppm share, and the key-count distribution's
    * exact p50/p99/max via value-count ranking (counts-of-counts — the
    * distribution frame is tiny regardless of corpus size). A top key
    * holding 10000× the p50 is the salting signal; uniform shares say
    * the shuffle is safe. Shape: one key shuffle (map-side combined) +
    * a counts-of-counts rollup + a 1-row stats broadcast. */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kc = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_suppkey".as("key")).agg(count(lit(1)).as("cnt"))
    val dist = kc.groupBy($"cnt").agg(count(lit(1)).as("freq"))
    val wc = Window.orderBy($"cnt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist.withColumn("cum", sum($"freq").over(wc))
    val stats = kc.agg(sum($"cnt").as("total_rows"),
        count(lit(1)).as("n_keys"), max($"cnt").as("max_cnt"))
    val pcts = cum.crossJoin(broadcast(stats))
      .agg(
        min(when($"cum" >= expr("(n_keys + 1) div 2"), $"cnt")).as("p50_cnt"),
        min(when($"cum" >= expr("(99 * (n_keys + 1)) div 100"), $"cnt")).as("p99_cnt"))
    // top-10 via TakeOrderedAndProject (bounded heap), THEN rank the 10
    // survivors — never a corpus-wide single-partition window
    val top = kc.orderBy($"cnt".desc, $"key").limit(10)
    val w = Window.orderBy($"cnt".desc, $"key")
    top.withColumn("rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(pcts))
      .select($"rank", $"key", $"cnt",
        expr("(cnt * 1000000) div total_rows").as("share_ppm"),
        $"n_keys", $"p50_cnt", $"p99_cnt", $"max_cnt")
      .orderBy($"rank")
  }

  /** Revenue concentration per nation — the Gini coefficient over
    * customer order totals (the inequality metric concentration
    * analyses report): with per-customer revenue x sorted ascending
    * (custkey tiebreak) and 1-based rank i,
    * `G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)`, carried ×10⁶ with the
    * products in DECIMAL(38,0) (rank·cents overflows BIGINT at
    * customer scale) and ONE integral division — exact in both
    * engines. Customers without orders count as zero revenue.
    * Nations partition customers, so the rank window is per-nation —
    * no global sort; one customer-keyed revenue join + one nation
    * rollup. Zero-revenue nations emit G = 0. */
  def qGiniRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.load(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg((sum($"o_totalprice".cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val cust = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
      .join(rev, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"c_nationkey", $"c_custkey",
        coalesce($"cents", lit(0L)).as("x"))
    val w = Window.partitionBy($"c_nationkey").orderBy($"x", $"c_custkey")
    cust.withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum($"x").as("total_cents"),
        sum($"i".cast("decimal(38,0)") * $"x").as("rank_weighted"))
      .withColumn("gini_x1e6", expr(
        """CASE WHEN total_cents = 0 THEN cast(0 as bigint)
          |     ELSE cast(((cast(2 as decimal(38,0)) * rank_weighted
          |                 - cast(n_customers + 1 as decimal(38,0)) * total_cents)
          |                * 1000000)
          |          div (cast(n_customers as decimal(38,0)) * total_cents)
          |          as bigint) END""".stripMargin))
      .select($"c_nationkey", $"n_customers", $"total_cents", $"gini_x1e6")
      .orderBy($"c_nationkey")
  }

  /** RFM segmentation — the classic customer scoring: per user,
    * recency (last event epoch), frequency (event count) and monetary
    * (exact DECIMAL cents sum), each bucketed 1–5 against the
    * corpus-wide quintile cut values. The cuts come from the
    * value-count ranking machinery (the exact-median pattern): value
    * at integer rank `(k·n) div 5`, so no engine quantile convention
    * is involved — one (metric-value) combine per metric, cumulative
    * counts via [[graft.operators.BandedRank]] (the distinct metric
    * values grow with users, so the cum is the banded distributed
    * prefix sum, never a global-order window), 1-row cut frames
    * broadcast back, scores are per-row comparisons. `segment` packs
    * the three scores as r·100+f·10+m. */
  def qRfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(max(ep($"ts")).as("recency_ep"),
        count(lit(1)).as("frequency"),
        (sum($"value".cast("decimal(18,2)")) * 100).cast("long").as("monetary_cents"))
    def cuts(metric: String, bandWidth: Long): DataFrame = {
      val vc = per.groupBy(col(metric).as("__v")).agg(count(lit(1)).as("c"))
      val n = vc.agg(sum($"c").as("n"))
      val cum = graft.operators.BandedRank
        .inclusiveCum(vc, "__v", "c", bandWidth, "cum")
        .crossJoin(broadcast(n))
      val aggs = (1 to 4).map(k =>
        rankValue(expr(s"($k * n) div 5")).as(s"${metric}_t$k"))
      cum.agg(aggs.head, aggs.tail: _*)
    }
    def score(metric: String): Column =
      (lit(1L) +
        (1 to 4).map(k =>
          when(col(metric) > col(s"${metric}_t$k"), 1L).otherwise(0L))
          .reduce(_ + _)).as(s"${metric}_score")
    per // bands: per-day epochs, 16-event counts, $1000 revenue steps
      .crossJoin(broadcast(cuts("recency_ep", 86400L)))
      .crossJoin(broadcast(cuts("frequency", 16L)))
      .crossJoin(broadcast(cuts("monetary_cents", 100000L)))
      .select($"user_id", $"recency_ep", $"frequency", $"monetary_cents",
        score("recency_ep").as("r_score"),
        score("frequency").as("f_score"),
        score("monetary_cents").as("m_score"))
      .withColumn("segment", expr("r_score * 100 + f_score * 10 + m_score"))
      .orderBy($"user_id")
  }

  /** Markov next-event prediction, evaluated on a real time split —
    * the train/eval pattern every model pipeline runs: transitions
    * whose SOURCE event falls before the corpus midpoint train a
    * first-order predictor (argmax next-type per prev-type,
    * deterministic (count desc, type) tie-break), the rest evaluate
    * it; per prev-type output is the prediction, eval volume, hits and
    * accuracy in ppm. Two user-keyed window passes share one shuffle;
    * the model is a |types|-row broadcast. */
  def qMarkovEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val tr = Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros($"ts"))
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .withColumn("is_train", $"ts" < lit("2024-01-16 00:00:00").cast("timestamp"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"n".desc, $"next_type")
    val model = tr.filter($"is_train")
      .groupBy($"event_type", $"next_type").agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(wRank))
      .filter($"r" === 1)
      .select($"event_type", $"next_type".as("predicted"), $"n".as("train_n"))
    tr.filter(!$"is_train")
      .join(broadcast(model), Seq("event_type"))
      .groupBy($"event_type", $"predicted", $"train_n")
      .agg(count(lit(1)).as("eval_n"),
        count(when($"next_type" === $"predicted", 1)).as("hits"))
      .withColumn("accuracy_ppm", expr("(hits * 1000000) div eval_n"))
      .select($"event_type", $"predicted", $"train_n", $"eval_n", $"hits",
        $"accuracy_ppm")
      .orderBy($"event_type")
  }

  /** HLL approximate distinct — engine-specific sketches can't hash-match
    * an oracle; registered without oracleSql (driver rows-only check). */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"))
      .orderBy($"l_returnflag")
  }

  /** AUDIT TWIN of [[qApproxDistinct]] (the q_mm_thumbnail_jpeg_audit
    * r12 pattern): the HLL estimate itself is engine-specific, but its
    * DETERMINISTIC surface — the exact distinct count plus the
    * asserted-true bounded-error invariant |approx − exact| ≤ 5%·exact
    * (the PipelineOpsSpec bound; HLL++ rsd 0.05 on this deterministic
    * corpus) — replays in DuckDB as exact columns + constant TRUE. A
    * sketch regression past the band flips the boolean and fails the
    * driver hash. Same one map-side-combined shuffle as the original. */
  def qApproxDistinctAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"))
      .select($"l_returnflag", $"exact_parts",
        (abs($"approx_parts" - $"exact_parts") * 100 <= $"exact_parts" * 5)
          .as("approx_within_5pct"))
      .orderBy($"l_returnflag")
  }

  /** spark.sql(...) surface: TPC-H Q3 shape over registered temp views
    * (the engine's SQL entry point; Catalyst plans it like the
    * DataFrame variants — join reorder, pushdown, broadcast). */
  def qSqlTpch3(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  unix_timestamp(date_trunc('DAY', o_orderdate)) AS o_ep,
        |  o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < timestamp'1998-03-15 00:00:00'
        |  AND l_shipdate > timestamp'1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_ep, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q5 shape: six-table star join. The dims (region, nation,
    * supplier, customer) are broadcast — at 100 TB only the two fact
    * tables (orders ⋈ lineitem) shuffle, on the shared orderkey, and
    * the region filter prunes before any fact row moves. */
  def qSqlTpch5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.load(spark, dir, "region").filter($"r_name" === "ASIA")
    val nation = Tables.load(spark, dir, "nation")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val supplier = Tables.load(spark, dir, "supplier")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_nationkey", $"n_name")
    val orders = Tables.load(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1998-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1999-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    val customer = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
    Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supplier), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(customer), $"c_custkey" === $"o_custkey" &&
        $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** TPC-H Q6 shape: pure scan-filter-aggregate — the pushdown
    * showcase. All three predicates reach the parquet reader
    * (PushedFilters) and only 4 of 11 lineitem columns are read. */
  def qSqlTpch6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1998-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1999-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(
        sum(dec($"l_extendedprice") * dec($"l_discount")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q17 shape: small-quantity revenue below the per-part
    * average. Written decorrelated by hand: the brand's partkeys
    * (a small broadcastable set) semi-filter the inner lineitem BEFORE
    * the per-part average, so the aggregate touches only the ~1/25 of
    * lineitem that can ever match — the correlated-subquery form
    * decorrelated correctly but averaged ALL of lineitem first
    * (BENCH_r01 charged 15.9s to that wasted aggregate). The per-part
    * average is exact: quantities are integer-valued doubles, so
    * sum/count is order-independent across engines. */
  def qSqlTpch17(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
        |avgq AS (
        |  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_lim
        |  FROM lineitem JOIN bp ON p_partkey = l_partkey
        |  GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_small
        |FROM lineitem JOIN avgq ON lineitem.l_partkey = avgq.l_partkey
        |WHERE l_quantity < qty_lim""".stripMargin)
  }

  /** TPC-H Q18 shape: large-volume orders — grouped HAVING subquery
    * feeding an IN predicate (planned as a semi-join against the
    * pre-aggregated key set), three-way join, top-k. */
  def qSqlTpch18(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT c_name, c_custkey, o_orderkey,
        |  unix_timestamp(o_orderdate) AS o_ep, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180)
        |GROUP BY c_name, c_custkey, o_orderkey, o_ep, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  }

  /** SCD-2 dimension history (the warehouse pattern the agents sink's
    * SCD-1 upsert deliberately discards): each user's event_type as a
    * slowly-changing attribute — one row per STATE CHANGE with
    * [valid_from, valid_to) validity, version number and current flag.
    * Two chained windows over one user_id exchange (lag to detect
    * changes, lead/row_number over the change rows); the 100 TB shape
    * is identical — state-change detection is a per-key linear pass. */
  /** SCD-2 core over an explicit event frame — ONE definition shared
    * by the history query and the point-in-time join (shared-definition
    * rule: the join must read exactly the history the audit shows). */
  private def scd2(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("us").as("valid_from_us"), col("valid_to_us"), col("version"),
        when(col("valid_to_us").isNull, "Y").otherwise("N").as("is_current"))
  }

  def qScd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scd2(Tables.load(spark, dir, "events"))
      .orderBy($"user_id", $"version")
  }

  /** POINT-IN-TIME (temporal) join against SCD-2 history — the
    * warehouse pattern behind "which plan was the customer on when
    * they paid": each purchase picks the dimension version valid at
    * its instant. History comes from the SAME [[scd2]] core (built
    * over the non-purchase events — the state stream); validity
    * lookup is the custom as-of join (latest state change STRICTLY
    * before the purchase — an as-of match against `valid_from` IS
    * interval containment when intervals tile, which SCD-2 validity
    * does by construction; the containment identity is spec-proved).
    * Purchases before any state change keep NULL state (left-outer).
    * Same one-pass merge / broadcast-bisect physics as every as-of
    * query — never an interval nested-loop. */
  def qScd2Pit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val hist = scd2(ev.filter($"event_type" =!= "purchase"))
      .select($"user_id".as("h_user"), $"valid_from_us", $"state",
        $"version".cast("long").as("version"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("p_us"),
        ep($"ts").as("purchase_ep"))
    graft.plans.AsOfJoin.joinAsOf(purchases, hist,
        leftKey = "user_id", rightKey = "h_user",
        leftTime = "p_us", rightTime = "valid_from_us", rightTie = "version",
        payload = Seq("state", "version"))
      .select($"event_id", $"user_id", $"purchase_ep",
        $"state".as("state_at_purchase"), $"version")
      .orderBy($"event_id")
  }

  /** TPC-H Q10 shape (adapted to the driver's trimmed columns):
    * returned-item revenue by customer over a quarter — fact-to-dim
    * star join (customer/nation broadcast after the date filter prunes
    * orders at the scan), DECIMAL revenue, driver-side top-20
    * (TakeOrderedAndProject, no full sort). c_custkey breaks revenue
    * ties deterministically. */
  def qSqlTpch10(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
  }

  /** TPC-H Q13 shape: customer order-count distribution — left join so
    * zero-order customers survive, two-level aggregation (per-customer
    * count, then histogram). Both shuffles are on small keys; the
    * second input is |customers| rows, not |orders|. */
  def qSqlTpch13(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  /** TPC-H Q14 shape: promo-revenue share — conditional aggregation
    * over a fact-dim join with a tight date window. The part side
    * broadcasts; the shipdate range prunes at the parquet scan. */
  def qSqlTpch14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val one = lit(1).cast(DecimalType(18, 2))
    val rev = dec($"l_extendedprice") * (one - dec($"l_discount"))
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1998-06-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-08-01").cast("timestamp"))
      .join(broadcast(Tables.load(spark, dir, "part")
        .select($"p_partkey", $"p_type")), $"p_partkey" === $"l_partkey")
      .agg(
        sum(when($"p_type" === "PROMO", rev).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------
  // TPC-H breadth r5b: Q4/Q7/Q8/Q19/Q21/Q22 shapes, adapted to the
  // driver's trimmed columns (no partsupp / commitdate / receiptdate /
  // phone). Each is ONE SQL string shared verbatim by spark.sql and
  // the DuckDB oracle — the engines cannot drift on query text.
  // ---------------------------------------------------------------

  /** Q4 shape: EXISTS correlated semi-join with an inequality on the
    * correlating row (l_shipdate > its order's date + 30 days) feeding
    * a priority histogram. Catalyst plans the EXISTS as a left-semi
    * hash join on orderkey — no per-row subquery at any scale. */
  private val tpch4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q7 shape: bidirectional nation-pair shipping volume by year —
    * the two nation dims broadcast onto the supplier/customer sides,
    * only the fact join (lineitem⋈orders) shuffles, on orderkey. */
  private val tpch7Sql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(volume) AS DOUBLE) AS revenue, count(*) AS n_items
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_6' AND n2.n_name = 'NATION_9')
      |      OR (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_6'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00') v
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q8 shape: market share — one supplier nation's slice of regional
    * PROMO volume per order year. Conditional DECIMAL aggregation; the
    * share division happens ONCE on two exact doubles (deterministic
    * IEEE rounding on both engines). */
  private val tpch8Sql =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 'NATION_9' THEN volume
      |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
      |  CAST(sum(volume) AS DOUBLE) AS total_volume,
      |  CAST(sum(CASE WHEN supp_nation = 'NATION_9' THEN volume
      |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(sum(volume) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    n1.n_name AS supp_nation
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  JOIN region ON n2.n_regionkey = r_regionkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00') v
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** Q19 shape: disjunctive multi-column predicates (brand × size ×
    * quantity branches) over the fact-dim join — the OR-pushdown /
    * CNF-conversion exercise; part broadcasts, each branch prunes. */
  private val tpch19Sql =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 21)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
      |       AND l_quantity >= 10 AND l_quantity <= 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
      |       AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin

  /** Q21 shape: suppliers who were the SOLE late shipper of a
    * multi-supplier order — EXISTS (another supplier participated) +
    * NOT EXISTS (another supplier was also late) over a shared
    * pre-aggregated per-(order, supplier) lateness frame: one
    * orderkey-keyed aggregate feeding a semi- AND an anti-join.
    * (Adapted: lateness = shipped >60d after order date, since the
    * driver's lineitem has no commit/receipt dates.) */
  private val tpch21Sql =
    """WITH late AS (
      |  SELECT l_orderkey, l_suppkey,
      |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |                  THEN 1 ELSE 0 END) AS is_late
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY l_orderkey, l_suppkey)
      |SELECT s_name, count(*) AS numwait
      |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE l1.is_late = 1
      |  AND EXISTS (SELECT 1 FROM late l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.is_late = 1)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** Q22 shape: above-average-balance customers gone quiet — scalar
    * aggregate subquery (threshold computed once, broadcast) + NOT
    * EXISTS anti-join against recent orders. The average is an exact
    * DECIMAL sum divided once in double (deterministic both engines).
    * (Adapted: "no orders at all" is empty in the driver data, so the
    * anti-join is against orders after 1999-07-01.) */
  private val tpch22Sql =
    """SELECT c_nationkey, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |                          / count(*)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-07-01 00:00:00')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Q15 shape: top-revenue supplier(s) over a quarter — the classic
    * view + scalar-subquery-max composition. The revenue aggregate is
    * computed ONCE per branch in exact DECIMAL, so the equality against
    * its own max is engine-independent (a float sum could tie-break
    * differently per summation order); Catalyst plans the max as a
    * broadcast scalar subquery over the tiny per-supplier frame, one
    * lineitem shuffle total. */
  private val tpch15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Q1 shape (full form): the classic wide pricing-summary scan — six
    * exact-DECIMAL aggregates plus three averages over one fact pass.
    * Averages are computed as exact-DECIMAL sum ÷ count in ONE double
    * division (a native double `avg` would be summation-order-dependent
    * across engines/partitionings). One scan, one shuffle on the 6-value
    * group key, map-side partial aggregation — the optimal shape at any
    * scale. `q1_agg` keeps the reduced 4-column flagship form. */
  private val tpch1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |           * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q2 shape: minimum-cost supplier per part — the correlated scalar-min
    * subquery over a supply relation, region-gated on BOTH the outer and
    * inner branch. (Adapted: the driver schema has no partsupp, so the
    * supply relation is derived as min observed unit price per distinct
    * (l_partkey, l_suppkey) — same correlated-min shape.) Catalyst
    * decorrelates the inner min into a per-partkey aggregate joined back
    * on partkey: two shuffles of the slim supply frame, dims broadcast.
    * The ORDER BY is a total order (s_name, p_partkey unique per row) so
    * the row order is engine-independent without a LIMIT. */
  private val tpch2Sql =
    """WITH supply AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
      |FROM part
      |JOIN supply ON p_partkey = ps_partkey
      |JOIN supplier ON s_suppkey = ps_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size BETWEEN 10 AND 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
      |  AND ps_supplycost = (SELECT min(ps_supplycost)
      |                       FROM supply
      |                       JOIN supplier ON s_suppkey = ps_suppkey
      |                       JOIN nation ON s_nationkey = n_nationkey
      |                       JOIN region ON n_regionkey = r_regionkey
      |                       WHERE ps_partkey = p_partkey AND r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin

  /** Q9 shape: product-line profit by supplier nation and order year —
    * the 5-way snowflake join with a LIKE-filtered part gate and a
    * subtractive profit expression. (Adapted: no partsupp supplycost in
    * the driver schema, so cost = 0.8 × p_retailprice × quantity — the
    * profit expression keeps the exact-DECIMAL multiply-subtract shape.)
    * part broadcasts after the LIKE prune; lineitem shuffles once on
    * orderkey for the orders join; nation/supplier broadcast. */
  private val tpch9Sql =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      - CAST(0.8 AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))
      |        * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%widget%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Q11 shape: important-stock share — a grouped value aggregate
    * filtered against a scalar fraction-of-global-total subquery.
    * (Adapted: value = quantity × p_retailprice over the lineitem-derived
    * supply of one nation's suppliers.) The global total is ONE broadcast
    * scalar; the comparison stays in exact DECIMAL on both engines, so
    * threshold membership can't drift. Two shuffles of the slim
    * per-partkey frame, everything else broadcast. */
  private val tpch11Sql =
    """WITH value AS (
      |  SELECT l_partkey AS ps_partkey,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS val
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_9'
      |  GROUP BY l_partkey)
      |SELECT ps_partkey, CAST(val AS DOUBLE) AS total_value
      |FROM value
      |WHERE val > (SELECT sum(val) * CAST(0.001 AS DECIMAL(18,3)) FROM value)
      |ORDER BY total_value DESC, ps_partkey""".stripMargin

  /** Q12 shape: late-shipment priority split — a fact-fact join with a
    * row-level date inequality feeding two conditional counts. (Adapted:
    * no l_shipmode/receiptdate in the driver schema, so the group key is
    * l_linestatus and "late" = shipped >45 days after the order date.)
    * One shuffle on orderkey, map-side partial CASE-sum aggregation. */
  private val tpch12Sql =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Q16 shape: supplier count per part attribute triple, excluding a
    * NOT-IN supplier denylist. (Adapted: supply = distinct lineitem
    * (partkey, suppkey) pairs; the "complaints" denylist = suppliers with
    * negative balance.) Catalyst plans the NOT IN as a broadcast
    * null-aware anti join (s_suppkey is non-null, so no null-check scan);
    * the count(DISTINCT) shuffles the slim supply frame once on the
    * attribute triple + suppkey expand. */
  private val tpch16Sql =
    """WITH supply AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
      |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM supply JOIN part ON p_partkey = ps_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q20 shape: suppliers with material shipped volume of a name-gated
    * part family in one year — nested IN subqueries, the inner one a
    * grouped HAVING threshold. (Adapted: "excess availability" becomes
    * total shipped quantity > 100 since there is no availqty; thresholds
    * compare in exact DECIMAL.) Catalyst turns both INs into left-semi
    * joins: part prunes by LIKE then broadcasts into the lineitem
    * aggregate; the surviving suppkey set broadcasts into supplier. */
  private val tpch20Sql =
    """SELECT s_suppkey, s_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
      |      AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |      AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      |    GROUP BY l_suppkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > CAST(100 AS DECIMAL(18,2)))
      |ORDER BY s_suppkey""".stripMargin

  private def sqlQuery(sql: String)(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(sql)
  }

  /** Bloom-pruned semi-join (operators.BloomPrune): the build side's
    * keys become a scalar-subquery Bloom sketch; probe rows are
    * dropped map-side by might_contain BEFORE the join shuffle; the
    * exact semi-join then removes sketch false positives. The oracle
    * is the PLAIN semi-join — pruning must be a drop-in. */
  def qBloomSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hot = Tables.load(spark, dir, "orders")
      .filter($"o_totalprice" > 400000.0).select($"o_orderkey")
    graft.operators.BloomPrune.semiJoin(
        Tables.load(spark, dir, "lineitem"), "l_orderkey", hot, "o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_price"))
      .orderBy($"l_returnflag")
  }

  /** Time-based sliding window via a RANGE frame (the one frame type
    * the rest of the window surface doesn't exercise): per user, the
    * trailing-1-hour event count and value sum at every event —
    * `rangeBetween(-3600, 0)` over epoch seconds, so the frame is
    * defined by the ORDER-BY VALUE distance, not row positions. One
    * user_id exchange; the frame scan is linear per key (two moving
    * cursors), the same at any scale. */
  def qWindowSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ep")
      .rangeBetween(-3600, 0)
    Tables.load(spark, dir, "events")
      .withColumn("ep", ep($"ts"))
      .select($"event_id", $"user_id", $"ep",
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(dec($"value")).over(w).cast("double").as("sum_trailing_1h"))
      .orderBy($"event_id")
  }

  /** Referential-integrity audit — the cross-table health check run
    * before every training snapshot: per FK edge, child row count and
    * orphan count (children whose parent key is absent), via left-anti
    * joins. Each edge is one shuffle on its key (or a broadcast when
    * the parent's key set is small); the four edges union into one
    * 4-row report. */
  def qRiAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val orphans = child.join(parent.select(col(parentKey)).distinct(),
        col(childKey) === col(parentKey), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("fk_edge"), $"n_child", $"n_orphans")
    }
    val li = Tables.load(spark, dir, "lineitem")
    edge("lineitem->orders", li, "l_orderkey",
        Tables.load(spark, dir, "orders"), "o_orderkey")
      .unionByName(edge("lineitem->part", li, "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"))
      .unionByName(edge("lineitem->supplier", li, "l_suppkey",
        Tables.load(spark, dir, "supplier"), "s_suppkey"))
      .unionByName(edge("orders->customer", Tables.load(spark, dir, "orders"),
        "o_custkey", Tables.load(spark, dir, "customer"), "c_custkey"))
      .orderBy($"fk_edge")
  }

  /** CEP-style pattern detection (the MATCH_RECOGNIZE primitive):
    * `view` IMMEDIATELY followed by `click` in the same user's stream
    * within 24 hours — adjacency via lead() over one user_id
    * exchange, the time constraint as a plain filter. This is the
    * batch form of the sequence patterns a CEP engine compiles to
    * NFA state machines; at 100 TB it stays one shuffle + one
    * ordered pass per key. */
  def qCepPattern(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.load(spark, dir, "events")
      .withColumn("us", unix_micros($"ts"))
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .withColumn("next_us", lead($"us", 1).over(w))
      .filter($"event_type" === "view" && $"next_type" === "click" &&
        $"next_us" - $"us" <= 86400000000L)
      .select($"user_id", $"event_id", $"us".as("view_us"),
        $"next_us".as("click_us"), ($"next_us" - $"us").as("gap_us"))
      .orderBy($"event_id")
  }

  /** Equi-width histogram via width_bucket — the profiling companion
    * to q_profile_columns: 20 buckets over [0, 500) on the event value,
    * per event type. One shuffle with map-side combine; bucket edges
    * are closed-open so engines agree exactly. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .withColumn("bucket", expr("width_bucket(value, 0.0, 500.0, 20)"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"event_type", $"bucket")
  }

  /** Winsorization (outlier clipping for feature hygiene): per-group
    * exact p05/p95 via the same value-count ranking as
    * q_agg_percentiles, then every value clamped into [p05, p95] with
    * flags. The rank thresholds are pure integer ceilings, the clamp is
    * a comparison — no float percentile estimation, so the oracle is
    * exact. Two passes over one event_type partitioning: the tiny
    * percentile frame broadcasts back onto the rows.
    *
    * Scale note: the ranking frame is the DISTINCT (group, value)
    * set — compact whenever values are quantized (money, counts,
    * fixed-point features). For truly continuous features at 100 TB,
    * quantize first (e.g. cents) or swap the threshold subquery for
    * approx_percentile; the clamp/flag pass is unchanged either way. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pcts = valueCounts(Tables.load(spark, dir, "events"), $"event_type", $"value")
      .groupBy($"__g")
      .agg(rankValue(expr("(5 * n + 99) div 100")).as("p05"),
        rankValue(expr("(95 * n + 99) div 100")).as("p95"))
      .select($"__g".as("event_type"), $"p05", $"p95")
    Tables.load(spark, dir, "events")
      .join(broadcast(pcts), Seq("event_type"))
      .select($"event_id", $"event_type", $"value", $"p05", $"p95",
        when($"value" < $"p05", $"p05")
          .when($"value" > $"p95", $"p95")
          .otherwise($"value").as("clipped"),
        when($"value" < $"p05", "LO").when($"value" > $"p95", "HI")
          .otherwise("IN").as("clip_flag"))
      .orderBy($"event_id")
  }

  /** Winsorization over CONTINUOUS features: same clamp/flag pass as
    * q_winsorize, but thresholds come from `percentile_approx` (the
    * GK/t-digest style sketch — one pass, fixed memory per group,
    * mergeable across partitions). This is the stated 100 TB answer
    * for features that don't quantize: the exact value-count ranking
    * frame IS the distinct (group, value) set, unbounded for
    * continuous data, while the sketch stays KB-sized regardless of
    * cardinality. Accuracy 10000 bounds the rank error at n/10000 per
    * group (BreadthSpec asserts the bound against the exact ranking).
    * Approximate thresholds are sketch-implementation-defined, so this
    * entry is rows-only at the driver (like q_approx_distinct) — the
    * exact sibling carries the hash check. */
  def qWinsorizeApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pcts = Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(percentile_approx($"value",
        array(lit(0.05), lit(0.95)), lit(10000)).as("p"))
      .select($"event_type", $"p"(0).as("p05"), $"p"(1).as("p95"))
    Tables.load(spark, dir, "events")
      .join(broadcast(pcts), Seq("event_type"))
      .select($"event_id", $"event_type", $"value", $"p05", $"p95",
        when($"value" < $"p05", $"p05")
          .when($"value" > $"p95", $"p95")
          .otherwise($"value").as("clipped"),
        when($"value" < $"p05", "LO").when($"value" > $"p95", "HI")
          .otherwise("IN").as("clip_flag"))
      .orderBy($"event_id")
  }

  /** AUDIT TWIN of [[qWinsorizeApprox]]: the sketch thresholds are
    * implementation-defined, but percentile_approx's CONTRACT is not —
    * the returned value is an actual datum of the group whose rank is
    * within n/accuracy of the target rank (BreadthSpec's n/10000 + 1
    * band). This query re-derives both guarantees as exact counting
    * invariants per group — rank-in-band and threshold-is-a-datum for
    * both tails — so DuckDB replays exact n + four constant-TRUE
    * booleans. All ×10000 integer arithmetic (lt·10⁴ vs 500·n ± (n +
    * 10⁴)); the datum check is bitwise double equality, exact because
    * the sketch returns stored values verbatim. One broadcast of the
    * ~21-row threshold frame + one map-side-combined rollup. */
  def qWinsorizeApproxAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pcts = Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(percentile_approx($"value",
        array(lit(0.05), lit(0.95)), lit(10000)).as("p"))
      .select($"event_type", $"p"(0).as("p05"), $"p"(1).as("p95"))
    Tables.load(spark, dir, "events")
      .join(broadcast(pcts), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"value" < $"p05", 1L).otherwise(0L)).as("lt05"),
        sum(when($"value" <= $"p05", 1L).otherwise(0L)).as("le05"),
        sum(when($"value" < $"p95", 1L).otherwise(0L)).as("lt95"),
        sum(when($"value" <= $"p95", 1L).otherwise(0L)).as("le95"),
        max(when($"value" === $"p05", 1L).otherwise(0L)).as("d05"),
        max(when($"value" === $"p95", 1L).otherwise(0L)).as("d95"))
      .select($"event_type", $"n",
        ($"lt05" * 10000 <= $"n" * 500 + $"n" + 10000 &&
          $"le05" * 10000 >= $"n" * 500 - $"n" - 10000).as("p05_rank_ok"),
        ($"lt95" * 10000 <= $"n" * 9500 + $"n" + 10000 &&
          $"le95" * 10000 >= $"n" * 9500 - $"n" - 10000).as("p95_rank_ok"),
        ($"d05" === 1L).as("p05_is_datum"),
        ($"d95" === 1L).as("p95_is_datum"))
      .orderBy($"event_type")
  }

  /** Robust outlier detection via MAD (median absolute deviation) —
    * the feature-hygiene sibling of winsorization that a mean/stddev
    * z-score can't replace (outliers inflate the stddev they're
    * measured against; medians don't move). Two chained exact-median
    * passes over the same value-count ranking machinery as
    * q_agg_median (no whole-group windows), each per-group median
    * frame broadcast back onto the rows; flag = |x − med| > 3·MAD.
    * All medians pick data values (or the mean of the two middles —
    * one IEEE add + halve, engine-exact), so the oracle matches
    * bit-for-bit. */
  def qOutlierMad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val med = valueCounts(ev, $"event_type", $"value")
      .groupBy($"__g")
      .agg(((rankValue(expr("(n + 1) div 2")) + rankValue(expr("n div 2 + 1"))) / 2)
        .as("med"))
      .select($"__g".as("event_type"), $"med")
    val withMed = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs($"value" - $"med"))
    val mad = valueCounts(withMed, $"event_type", $"dev")
      .groupBy($"__g")
      .agg(((rankValue(expr("(n + 1) div 2")) + rankValue(expr("n div 2 + 1"))) / 2)
        .as("mad"))
      .select($"__g".as("event_type"), $"mad")
    withMed.join(broadcast(mad), Seq("event_type"))
      .select($"event_id", $"event_type", $"value", $"med", $"mad",
        when($"dev" > $"mad" * 3, "Y").otherwise("N").as("is_outlier"))
      .orderBy($"event_id")
  }

  /** Z-order layout demonstration (operators.ZOrder): events sorted by
    * the Morton interleave of (user bucket, hour-of-stream) and cut
    * into 1000-row blocks; the output is each block's min/max on BOTH
    * dimensions — the footer stats a z-ordered parquet file would
    * carry. Tight per-block ranges on both columns (vs one column for
    * a plain sort) are exactly what makes min-max skipping prune on
    * either predicate. Exact integer bit math, oracle-identical.
    *
    * The global numbering exists only to make the block boundaries
    * oracle-checkable, and even it is the banded distributed rank
    * ([[graft.operators.BandedRank]]: z div 1024 gives ≤1024 bands over
    * the 20-bit Morton domain — never a whole-table one-task sort);
    * the production write is repartitionByRange(z) +
    * sortWithinPartitions(z) — per-file footer stats then emerge with
    * no global numbering at all. */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = graft.operators.ZOrder.zValue("x", "y")
    val zd = Tables.load(spark, dir, "events")
      .select($"event_id",
        ($"user_id" % 1024).as("x"),
        expr("(unix_timestamp(ts) div 3600) % 1024").as("y"))
      .withColumn("z", z)
    graft.operators.BandedRank.ascRank(zd, "z", "event_id", 1024L, "rn")
      .withColumn("block_id", expr("(rn - 1) div 1000"))
      .groupBy($"block_id")
      .agg(count(lit(1)).as("n_rows"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"),
        min($"z").as("min_z"), max($"z").as("max_z"))
      .orderBy($"block_id")
  }

  /** Analytic-function breadth: percent_rank / cume_dist / first_value /
    * nth_value over one (event_type)-partitioned ordering — all four
    * share a single exchange + sort. The ordering includes event_id so
    * ties are impossible and the rank fractions are engine-independent
    * (one IEEE division each). */
  def qWindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select($"event_id", $"event_type", $"value",
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first($"event_id").over(wf).as("first_id"),
        nth_value($"event_id", 3).over(wf).as("third_id"))
      .orderBy($"event_id")
  }

  /** Wide-to-long melt (the inverse of q_pivot_counts) via the native
    * unpivot operator — a generator, not a shuffle: each input row
    * fans out to 4 metric rows map-side. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .unpivot(
        Array($"l_orderkey", $"l_linenumber"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
        "metric", "val")
      // (orderkey, linenumber) repeats in lineitem; rows that also tie
      // on val are identical, so the order is total
      .orderBy($"l_orderkey", $"l_linenumber", $"metric", $"val")
  }

  /** Time-series resampling: per-user daily grid (sequence + explode
    * between first and last active day), left join observed daily sums,
    * forward-fill gaps with the last observed value (last(ignoreNulls)
    * over a running frame). One user_id×day aggregation + one user_id
    * window — the standard gap-fill shape for training-data
    * featurization; grid rows are generated map-side, never shuffled
    * unfilled. */
  def qTsFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events").withColumn("day", to_date($"ts"))
    val daily = ev.groupBy($"user_id", $"day")
      .agg(sum(dec($"value")).as("dv"), count(lit(1)).as("n_events"))
    val grid = ev.groupBy($"user_id").agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val wFill = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left_outer")
      .select($"user_id",
        unix_timestamp($"day".cast("timestamp")).as("day_ep"),
        $"dv".cast("double").as("day_value"),
        last($"dv", ignoreNulls = true).over(wFill).cast("double").as("filled_value"),
        coalesce($"n_events", lit(0L)).as("n_events"),
        $"dv".isNull.as("gap"))
      .orderBy($"user_id", $"day_ep")
  }

  /** EWMA control chart: per-user exponentially-weighted moving average
    * (α = 1/4) over the event-time-ordered value series, plus the
    * control-band anomaly count — points whose deviation from the
    * running EWMA exceeds 3× the user's mean absolute deviation.
    *
    * EWMA is a LINEAR RECURRENCE (`ema_i = (v_i + 3·ema_{i-1}) div 4`)
    * — the one time-series shape no window frame expresses, so it runs
    * as a higher-order `aggregate` fold over the per-user sorted array
    * (`collect_list` + `array_sort`): ONE user-keyed shuffle, then
    * per-row lambda compute; per-user series are bounded (a user's
    * event history, not the corpus), so the arrays stay small at any
    * corpus scale — the same justification as the SAX sketch. All
    * arithmetic is BIGINT cents with integral division, so the DuckDB
    * recursive-CTE oracle replays it exactly. Two fold passes: the
    * first computes the final EWMA and the mean absolute deviation,
    * the second counts excursions beyond the 3×MAD band (the band
    * needs the whole series' MAD, hence two passes — both map-side
    * over the same array, no second shuffle). */
  def qTsEwma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id",
        (dec($"value") * 100).cast("long").as("c"))
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"ts", $"event_id", $"c"))).as("pts"))
    pts
      .withColumn("fold", expr(
        """aggregate(pts,
          |  named_struct('i', 0L, 'ema', 0L, 'sd', 0L),
          |  (acc, x) -> named_struct(
          |    'i', acc.i + 1L,
          |    'ema', if(acc.i = 0L, x.c, (x.c + 3L * acc.ema) div 4L),
          |    'sd', acc.sd + if(acc.i = 0L, 0L, abs(x.c - acc.ema))))""".stripMargin))
      .select($"user_id", $"pts",
        $"fold.i".as("n_points"), $"fold.ema".as("ema_last"),
        when($"fold.i" > 1, expr("fold.sd div (fold.i - 1L)"))
          .otherwise(lit(0L)).as("mean_dev"))
      .withColumn("n_anomalies", expr(
        """aggregate(pts,
          |  named_struct('i', 0L, 'ema', 0L, 'n', 0L),
          |  (acc, x) -> named_struct(
          |    'i', acc.i + 1L,
          |    'ema', if(acc.i = 0L, x.c, (x.c + 3L * acc.ema) div 4L),
          |    'n', acc.n + if(acc.i > 0L and abs(x.c - acc.ema) > 3L * mean_dev,
          |                    1L, 0L)),
          |  acc -> acc.n)""".stripMargin))
      .select($"user_id", $"n_points", $"ema_last", $"mean_dev", $"n_anomalies")
      .orderBy($"user_id")
  }

  /** SEASONAL DECOMPOSITION (STL-lite): hourly event volumes split into
    * trend + daily-seasonal + remainder — the classical additive
    * decomposition behind anomaly baselining and capacity planning,
    * float-free: trend is the centered 25-hour moving average ×100
    * (integral div by the exact window size), the seasonal component is
    * the per-hour-of-day mean deviation (magnitudes divided under the
    * module's sign convention so Spark's truncating `div` and the
    * oracle agree on negatives), remainder is what's left. Runs on the
    * DENSIFIED grid (qForecastMase's pattern — zero-volume hours are
    * real observations; a moving average over the sparse sequence
    * silently spans gaps).
    *
    * Shape: one (type, hour) map-side-combined rollup, windows over the
    * shrunken hours frame (|types|·|hours| rows), one (type, hour%24)
    * combine for the seasonal means — the documented safe-window
    * pattern; nothing corpus-sized ever sorts in one partition. */
  def qTsDecompose(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tsDecomposeFrame(spark, dir).orderBy($"event_type", $"hour")
  }

  /** The STL-lite decomposition frame (event_type, hour, n, trend,
    * seasonal, remainder) — shared by the decompose query, the
    * strength rollup, and the anomaly detector. */
  private def tsDecomposeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        expr("unix_timestamp(ts) div 3600L").as("hour"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly.groupBy($"event_type")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"event_type", explode(expr("sequence(h0, h1)")).as("hour"))
    val dense = grid.join(hourly, Seq("event_type", "hour"), "left_outer")
      .select($"event_type", $"hour", coalesce($"n", lit(0L)).as("n"))
    val wTrend = Window.partitionBy($"event_type").orderBy($"hour")
      .rowsBetween(-12, 12)
    val trended = dense
      .withColumn("w_n", count(lit(1)).over(wTrend))
      .withColumn("w_sum", sum($"n").over(wTrend))
      // only hours with the FULL centered window carry a trend — edge
      // hours would average a shorter window and bias the seasonal fit
      .filter($"w_n" === 25)
      .withColumn("trend_x100", expr("(w_sum * 100) div 25"))
      .withColumn("dev_x100", $"n" * 100 - $"trend_x100")
    val seasonal = trended
      .groupBy($"event_type".as("s_type"), ($"hour" % 24).as("hod"))
      .agg(sum($"dev_x100").as("s"), count(lit(1)).as("cnt"))
      .select($"s_type", $"hod",
        expr("""CASE WHEN s >= 0 THEN s div cnt
               |ELSE -((-s) div cnt) END""".stripMargin).as("seas_x100"))
    trended.join(broadcast(seasonal),
        $"event_type" === $"s_type" && $"hour" % 24 === $"hod")
      .select($"event_type", $"hour", $"n", $"trend_x100",
        $"seas_x100", ($"dev_x100" - $"seas_x100").as("remainder_x100"))
  }

  /** TIME-SERIES ANOMALY FLAGS — the monitoring composition of two
    * independently-verified pieces: the STL-lite decomposition's
    * remainder (what survives after trend + daily seasonality) scored
    * by the per-type exact median/MAD rule (robust — a contaminated
    * hour cannot drag its own threshold the way mean/stddev would;
    * same robustness argument as [[qOutlierMad]]). Anomaly:
    * |remainder − med| > 3·MAD. This is the alerting query a volume
    * monitor actually pages on — "this hour is off for THIS event
    * type, after accounting for its trend and its daily shape".
    * Everything after the hourly rollup runs on the hours frame; the
    * two median passes are the exact value-count ranking pattern with
    * per-type frames broadcast back. */
  def qTsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dc = tsDecomposeFrame(spark, dir)
    val med = valueCounts(dc, $"event_type", $"remainder_x100")
      .groupBy($"__g")
      .agg(((rankValue(expr("(n + 1) div 2")) + rankValue(expr("n div 2 + 1"))) / 2)
        .as("med"))
      .select($"__g".as("event_type"), $"med")
    val withMed = dc.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs($"remainder_x100" - $"med"))
    val mad = valueCounts(withMed, $"event_type", $"dev")
      .groupBy($"__g")
      .agg(((rankValue(expr("(n + 1) div 2")) + rankValue(expr("n div 2 + 1"))) / 2)
        .as("mad"))
      .select($"__g".as("event_type"), $"mad")
    withMed.join(broadcast(mad), Seq("event_type"))
      .select($"event_type", $"hour", $"n", $"remainder_x100",
        $"med", $"mad",
        when($"dev" > $"mad" * 3, "Y").otherwise("N").as("is_anomaly"))
      .orderBy($"event_type", $"hour")
  }

  /** WEIGHTED MEDIAN — the revenue-weighted center the plain median
    * can't see ("half the MONEY sits at or below this quantity"):
    * smallest value whose cumulative weight reaches half the total,
    * exact in BIGINT cents (2·cumw ≥ totw avoids the halving division
    * entirely). Same scale shape as the exact percentile family: one
    * (group, value) combine with the weights summed map-side, windows
    * over the DISTINCT-value frame, one rollup per group. */
  def qWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vc = Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(expr("cast(sum(cast(l_extendedprice as decimal(18,2))) * 100 as bigint)")
        .as("w"), count(lit(1)).as("c"))
    val wOrd = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
    val wAll = Window.partitionBy($"l_returnflag")
    vc.withColumn("cumw", sum($"w").over(wOrd))
      .withColumn("totw", sum($"w").over(wAll))
      .withColumn("n_rows", sum($"c").over(wAll))
      .filter($"cumw" * 2 >= $"totw")
      .groupBy($"l_returnflag")
      .agg(min($"l_quantity").as("wmedian_qty"),
        max($"totw").as("total_cents"), max($"n_rows").as("n_rows"))
      .select($"l_returnflag", $"n_rows", $"total_cents", $"wmedian_qty")
      .orderBy($"l_returnflag")
  }

  /** MERGEABLE QUANTILE SKETCH (DDSketch-shaped, power-of-two buckets):
    * completes the sketch family (HLL cardinality, CMS frequency +
    * join size, MinHash similarity) with the quantile sketch — each
    * value lands in bucket = bit-length of its cents (`length(bin(v))`
    * — exact integer log2, no floating log), so the sketch is a ≤64-row
    * count vector per group: mergeable by addition across partitions,
    * days, and corpora, with a guaranteed 2× relative-error envelope
    * (bucket bounds are [2^(b−1), 2^b−1]). The estimate returned for a
    * quantile is the covering bucket's UPPER bound; exact p50/p99 from
    * the value-count ranking ride alongside as the audit columns (at
    * 100 TB the exact columns are what you stop computing — the
    * sketch's count vector is what a monitoring pipeline stores).
    * Shape: one (type, bucket) map-side combine onto ≤|types|·64 rows,
    * windows over that tiny frame; audit reuses the shared ranking. */
  /** The power-of-two bucket id of a cents amount (the sketch's
    * bucket vector of [[qQuantileSketch]]). */
  private[graft] def sketchBucketExpr: String =
    "CASE WHEN cents <= 0 THEN 0 ELSE length(bin(cents)) END"

  /** Quantile estimates off a merged (event_type, bucket, bc) count
    * frame — the read side of [[qQuantileSketch]] (sketch buckets
    * merge by addition, so summed partial counts ARE the sketch). */
  private[graft] def quantileEstFromBuckets(buckets: DataFrame): DataFrame = {
    val spark = buckets.sparkSession
    import spark.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"bucket")
    val wAll = Window.partitionBy($"event_type")
    val cum = buckets
      .withColumn("cumc", sum($"bc").over(wOrd))
      .withColumn("n", sum($"bc").over(wAll))
    def estAt(permille: Int, label: String): Column =
      min(when($"cumc" * 1000 >= $"n" * permille,
        expr("shiftleft(1L, bucket) - 1L"))).as(label)
    cum.groupBy($"event_type")
      .agg(max($"n").as("n"), estAt(500, "p50_est"), estAt(990, "p99_est"))
  }

  def qQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .withColumn("cents",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"))
    val buckets = ev
      .withColumn("bucket", expr(sketchBucketExpr))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("bc"))
    val est = quantileEstFromBuckets(buckets)
    val exact = valueCounts(ev, $"event_type", $"cents")
      .groupBy($"__g")
      .agg(rankValue(expr("(500 * n + 999) div 1000")).as("p50_exact"),
        rankValue(expr("(990 * n + 999) div 1000")).as("p99_exact"))
      .select($"__g".as("event_type"), $"p50_exact", $"p99_exact")
    est.join(exact, Seq("event_type"))
      .select($"event_type", $"n", $"p50_est", $"p50_exact", $"p99_est",
        $"p99_exact",
        expr("(p50_est * 1000000) div nullif(p50_exact, 0)")
          .as("p50_ratio_ppm"),
        expr("(p99_est * 1000000) div nullif(p99_exact, 0)")
          .as("p99_ratio_ppm"))
      .orderBy($"event_type")
  }

  /** MANN–KENDALL TREND TEST (Mann 1945 / Kendall 1975 — public
    * method): the nonparametric "is this metric drifting" monitor —
    * S = Σ_{i<j} sign(x_j − x_i) over the daily volume series per
    * event type, with the tie-corrected variance and the |S|−1 ≥
    * z·σ significance verdict carried EXACTLY by squaring both sides
    * ((|S|−1)²·18·10⁴ ≥ 38416·(18·Var) — no square root, no floats;
    * 38416 = (1.96·100)²). Distribution-free, so it needs no model of
    * the series — the standard first-line drift alarm.
    *
    * Shape: one (type, day) map-side-combined rollup shrinks the
    * corpus to the days frame; the Σ-sign pair join runs on THAT
    * (|types|·|days|² pairs — days² of a rollup, not corpus²), ties
    * counted on the same frame; one |types|-row readout. */
  def qTrendMk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select($"event_type", $"day".as("da"), $"n".as("na"))
    val b = daily.select($"event_type", $"day".as("db"), $"n".as("nb"))
    val s = a.join(b, Seq("event_type")).filter($"da" < $"db")
      .groupBy($"event_type")
      .agg(sum(signum($"nb" - $"na").cast("long")).as("s_stat"))
    val ties = daily.groupBy($"event_type", $"n")
      .agg(count(lit(1)).as("t"))
      .groupBy($"event_type")
      .agg(sum($"t").as("n_days"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    s.join(ties, Seq("event_type"))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie18"))
      .select($"event_type", $"n_days", $"s_stat", $"var18",
        expr("""CASE
               |  WHEN s_stat = 0 THEN 'none'
               |  WHEN (abs(s_stat) - 1) * (abs(s_stat) - 1) * 180000
               |       < 38416 * var18 THEN 'none'
               |  WHEN s_stat > 0 THEN 'increasing'
               |  ELSE 'decreasing' END""".stripMargin).as("trend"))
      .orderBy($"event_type")
  }

  /** SEASONALITY STRENGTH (Hyndman's STL feature, public method):
    * F = max(0, 1 − Var(remainder)/Var(seasonal+remainder)) per event
    * type over the [[qTsDecompose]] output — "is the daily cycle worth
    * modeling" as one number in ppm. Variances compare at the same n,
    * so the n·Σx² − (Σx)² form cancels the scale: the ratio needs no
    * division until the final ppm. Products ride DECIMAL(38,0) (the
    * betweenness convention — hourly devs square past BIGINT at
    * scale); a zero denominator (flat seasonal+remainder) reads as
    * strength 0. One combine over the decompose frame. */
  def qTsStrength(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    qTsDecompose(spark, dir)
      .withColumn("sr_x100", $"seas_x100" + $"remainder_x100")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum($"remainder_x100").as("sum_r"),
        sum(expr("cast(remainder_x100 as decimal(38,0)) * remainder_x100"))
          .as("ss_r"),
        sum($"sr_x100").as("sum_sr"),
        sum(expr("cast(sr_x100 as decimal(38,0)) * sr_x100")).as("ss_sr"))
      .withColumn("num", expr(
        "cast(n_hours as decimal(38,0)) * ss_r - cast(sum_r as decimal(38,0)) * sum_r"))
      .withColumn("den", expr(
        "cast(n_hours as decimal(38,0)) * ss_sr - cast(sum_sr as decimal(38,0)) * sum_sr"))
      .select($"event_type", $"n_hours",
        expr("""cast(CASE WHEN den > 0
               |  THEN greatest(0, 1000000 - (num * 1000000) div den)
               |  ELSE 0 END as bigint)""".stripMargin)
          .as("seasonal_strength_ppm"))
      .orderBy($"event_type")
  }

  /** BURSTINESS (index of dispersion / Fano factor): Var/Mean of daily
    * volumes per event type ×1000 — 1000 means Poisson-like arrivals,
    * materially above means bursty traffic (batchy producers, retry
    * storms). D = (n·Σx² − (Σx)²) div ((n−1)·Σx), all positive so the
    * integral division is engine-portable; products in DECIMAL(38,0)
    * for the same overflow headroom as everywhere else. One rollup. */
  def qBurstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("sum_x"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("ss_x"))
      .filter($"n_days" > 1)
      .select($"event_type", $"n_days", $"sum_x",
        expr("""cast(((cast(n_days as decimal(38,0)) * ss_x
               |  - cast(sum_x as decimal(38,0)) * sum_x) * 1000)
               |  div (cast(n_days - 1 as decimal(38,0)) * sum_x)
               |  as bigint)""".stripMargin).as("dispersion_x1000"))
      .withColumn("verdict",
        when($"dispersion_x1000" > 1500, "bursty")
          .when($"dispersion_x1000" < 667, "regular").otherwise("poisson_like"))
      .orderBy($"event_type")
  }

  /** HOLT LINEAR SMOOTHING (Holt 1957, public method): double
    * exponential smoothing per event type over daily volumes — level +
    * trend state folded through the day array, the one-step forecast
    * the ops dashboard plots next to the raw series. α = 1/5,
    * β = 1/10, everything ×100 integral; every division is
    * SIGN-SPLIT (magnitude divided on nonnegative operands, sign
    * re-applied) because a negative trend under Spark's
    * truncate-toward-zero `div` and DuckDB's floor `//` would diverge.
    * The oracle replays the fold as a recursive CTE with the identical
    * expressions.
    *
    * Shape: corpus → (type, day) rollup in one combine; the fold is a
    * per-type `aggregate` over its own sorted day array (days-sized,
    * never corpus-sized); |types|-row readout. */
  def qTsHolt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // l' = sdiv(x·100 + 4(l + b), 5); b' = sdiv((l' − l) + 9b, 10)
    val lp = "if(x.n * 100 + 4 * (acc.l + acc.b) >= 0, " +
      "(x.n * 100 + 4 * (acc.l + acc.b)) div 5, " +
      "-((-(x.n * 100 + 4 * (acc.l + acc.b))) div 5))"
    val bp = s"if((($lp) - acc.l) + 9 * acc.b >= 0, " +
      s"((($lp) - acc.l) + 9 * acc.b) div 10, " +
      s"-((-((($lp) - acc.l) + 9 * acc.b)) div 10))"
    Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"n"))).as("pts"),
        count(lit(1)).as("n_days"))
      .withColumn("f", expr(
        s"""aggregate(pts,
           |  named_struct('l', CAST(NULL AS LONG), 'b', 0L),
           |  (acc, x) -> if(acc.l is null,
           |    named_struct('l', x.n * 100, 'b', 0L),
           |    named_struct('l', $lp, 'b', $bp)),
           |  acc -> acc)""".stripMargin))
      .select($"event_type", $"n_days",
        $"f.l".as("level_x100"), $"f.b".as("trend_x100"),
        ($"f.l" + $"f.b").as("forecast_x100"))
      .orderBy($"event_type")
  }

  /** THEIL–SEN ROBUST SLOPE (Theil 1950 / Sen 1968, public method):
    * the magnitude companion to [[qTrendMk]]'s direction verdict — per
    * event type, the median of all pairwise slopes (n_b − n_a)/(d_b −
    * d_a) over daily volumes, insensitive to up to ~29% outlier days
    * (a single traffic spike drags an OLS slope arbitrarily; it moves
    * the pairwise-slope median by one rank).
    *
    * Integer arithmetic: slope in ppm/day as sign(Δn)·((|Δn|·10⁶) div
    * Δd) — magnitude divided on NONNEGATIVE operands so Spark's
    * truncate-toward-zero `div` and DuckDB's floor `//` agree, sign
    * applied after (the transform is monotone, so the rank-median of
    * transformed slopes is the transformed median). Median = the value
    * at rank (pairs+1) div 2 (lower median, deterministic).
    *
    * Shape: the corpus shrinks to the (type, day) rollup in one
    * combine; the pair join and the rank window run on THAT frame
    * (days² of a rollup, each type its own partition); |types|-row
    * readout. */
  def qTrendTheilsen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"event_type",
        expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select($"event_type", $"day".as("da"), $"n".as("na"))
    val b = daily.select($"event_type", $"day".as("db"), $"n".as("nb"))
    val slopes = a.join(b, Seq("event_type")).filter($"da" < $"db")
      .select($"event_type",
        expr("""CASE WHEN nb >= na
               |  THEN ((nb - na) * 1000000) div (db - da)
               |  ELSE -(((na - nb) * 1000000) div (db - da)) END""".stripMargin)
          .as("slope_ppm"))
    val w = Window.partitionBy($"event_type").orderBy($"slope_ppm")
    slopes
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(
        Window.partitionBy($"event_type")))
      .filter($"rk" === expr("(n_pairs + 1) div 2"))
      .select($"event_type", $"n_pairs", $"slope_ppm".as("theilsen_slope_ppm"))
      .orderBy($"event_type")
  }

  /** ROLLING ACTIVE USERS (DAU / WAU / stickiness): distinct users per
    * day and per trailing 7-day window, plus the DAU/WAU "stickiness"
    * ratio in exact permille — the engagement dashboard primitive.
    * Sliding COUNT DISTINCT has no direct window form; the exact
    * expansion is: each (user, day) activity row contributes to the 7
    * calendar days whose trailing window contains it, so one explode
    * of the DEDUPLICATED user-day frame (×7, bounded) and a distinct
    * count per target day give the rolling distinct exactly. Days
    * without activity are still reporting days inside the observed
    * range (the densify rule).
    *
    * Shape: corpus shrinks to the (user, day) distinct frame in one
    * combine; the ×7 explode runs on THAT; output is the days frame. */
  def qActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val userDays = Tables.load(spark, dir, "events")
      .select($"user_id", expr("unix_timestamp(ts) div 86400L").as("day"))
      .distinct()
    val dau = userDays.groupBy($"day").agg(count(lit(1)).as("dau"))
    val grid = userDays.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val wau = userDays
      .select($"user_id", explode(expr("sequence(day, day + 6)")).as("day"))
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("wau"))
    grid.join(dau, Seq("day"), "left_outer")
      .join(wau, Seq("day"), "left_outer")
      .select($"day", coalesce($"dau", lit(0L)).as("dau"),
        coalesce($"wau", lit(0L)).as("wau"))
      .withColumn("stickiness_permille",
        expr("CASE WHEN wau = 0 THEN 0L ELSE (dau * 1000) div wau END"))
      .orderBy($"day")
  }

  /** CUSUM CHANGEPOINT DETECTION (Page 1954 — public method): the
    * "when did this metric shift" monitor that the point-in-time
    * Mann–Kendall trend verdict can't localize. Per event type over
    * daily volumes: the one-sided cumulative sums
    * S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − μ − k)) and the mirrored S⁻ₜ, with
    * μ the series mean and k = μ/20 slack, both in exact integer
    * ×20 arithmetic (μ enters as Σx·20 div n once — one truncation,
    * replayed identically by the oracle). A linear RECURRENCE no
    * window frame expresses — the EWMA pattern: a higher-order
    * `aggregate` fold over the per-type day-sorted array (days frame,
    * not corpus). Output: first alarm day per side (if any) and the
    * peak statistics — the changepoint localization. */
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "events")
      .groupBy($"event_type", expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"n"))).as("pts"),
        count(lit(1)).as("n_days"), sum($"n").as("total"))
      // all x20: mu20 = Σx·20 div n (one truncation); slack k20 = mu20 div 20;
      // threshold h20 = 4·mu20 (4σ-ish in volume units — a monitoring default)
      .withColumn("mu20", expr("(total * 20) div n_days"))
      .withColumn("k20", expr("mu20 div 20"))
      .withColumn("h20", expr("4 * mu20"))
      .withColumn("f", expr(
        """aggregate(pts,
          |  named_struct('sp', 0L, 'sn', 0L, 'up_day', CAST(NULL AS LONG),
          |               'dn_day', CAST(NULL AS LONG), 'peak', 0L),
          |  (acc, x) -> named_struct(
          |    'sp', greatest(0L, acc.sp + (x.n * 20 - mu20 - k20)),
          |    'sn', greatest(0L, acc.sn + (mu20 - k20 - x.n * 20)),
          |    'up_day', coalesce(acc.up_day,
          |      if(greatest(0L, acc.sp + (x.n * 20 - mu20 - k20)) > h20, x.day,
          |         CAST(NULL AS LONG))),
          |    'dn_day', coalesce(acc.dn_day,
          |      if(greatest(0L, acc.sn + (mu20 - k20 - x.n * 20)) > h20, x.day,
          |         CAST(NULL AS LONG))),
          |    'peak', greatest(acc.peak,
          |      greatest(0L, acc.sp + (x.n * 20 - mu20 - k20)),
          |      greatest(0L, acc.sn + (mu20 - k20 - x.n * 20)))),
          |  acc -> acc)""".stripMargin))
      .select($"event_type", $"n_days", $"mu20", $"h20",
        $"f.up_day".as("up_alarm_day"), $"f.dn_day".as("dn_alarm_day"),
        $"f.peak".as("peak_stat20"))
      .orderBy($"event_type")
  }

  /** SINGLE-CHANGEPOINT DETECTION by least-squares binary segmentation
    * (Scott & Knott 1974; the first round of PELT/BinSeg): for every
    * split position t of a per-type daily series, the between-segment
    * variance explained is G(t) = (s₁·N − S·t)² / (t·(N−t)·N) — the
    * exact mean-shift gain with no float means (s₁ = prefix sum, S =
    * total, N = days). The argmax day is WHERE the level shifted;
    * complements [[qCusum]] (which answers WHEN a monitor would have
    * alarmed) and [[qTrendMk]] (whether a monotone trend exists).
    * Deterministic argmax: rank on (gain DESC, day) in both engines.
    *
    * All arithmetic BIGINT with a loud assert on |s₁·N − S·t| ≤
    * √Long.Max (the cap convention — daily volumes at this corpus sit
    * ~10⁶ below it; a 100 TB deployment lifts the square to
    * DECIMAL(38,0) like the multitouch value rollup). Windows run on
    * the per-day frame only — calendar-bounded, never corpus-sized. */
  def qTsChangepoint(spark: SparkSession, dir: String): DataFrame =
    tsChangepoint(Tables.load(spark, dir, "events"))

  /** Core of [[qTsChangepoint]] over any (event_type, ts) frame —
    * separated so the planted-shift spec can drive it. */
  private[graft] def tsChangepoint(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .groupBy($"event_type", expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wAll = Window.partitionBy($"event_type")
    val scored = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("s1",
        sum($"n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cp_day", lead($"day", 1).over(w))
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("tot", sum($"n").over(wAll))
      .filter($"t" < $"nd")
      .withColumn("num", $"s1" * $"nd" - $"tot" * $"t")
      // the assert rides INSIDE the gain expression (a dropped guard
      // column would be pruned away and never evaluate)
      .withColumn("gain", expr(
        """CASE WHEN assert_true(abs(num) <= 3037000499L,
          |  'qTsChangepoint gain overflows BIGINT — lift to DECIMAL') IS NULL
          |THEN (num * num) div (t * (nd - t) * nd) END""".stripMargin))
    scored
      .withColumn("pick", row_number().over(
        Window.partitionBy($"event_type").orderBy($"gain".desc, $"day")))
      .filter($"pick" === 1)
      .select($"event_type", $"nd".as("n_days"), $"cp_day", $"gain",
        expr("(s1 * 20) div t").as("mean_left_x20"),
        expr("((tot - s1) * 20) div (nd - t)").as("mean_right_x20"))
      .orderBy($"event_type")
  }

  /** SEQUENTIAL PATTERN MINING (the 2-pattern core of PrefixSpan/GSP —
    * Agrawal & Srikant 1995, public): support of "a THEN b" = distinct
    * users whose event sequence contains some a-event strictly before
    * some b-event — SUBSEQUENCE containment, not adjacency (that's
    * q_event_transitions' Markov view; 'view … THEN purchase' with
    * anything in between is the pattern a funnel designer asks for).
    * Containment collapses to interval logic: user u contains a→b iff
    * min_ts(a) < max_ts(b) — so the corpus shrinks to the per-(user,
    * type) first/last-occurrence frame in ONE combine, and the pattern
    * join runs on that (|users|·|types| rows), never on raw events.
    * Lift ×1000 (exact: n_ab·N·1000 div n_a·n_b) separates real
    * sequential structure from popularity. */
  def qSeqPatterns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.load(spark, dir, "events")
      .groupBy($"user_id", $"event_type")
      .agg(min(unix_micros($"ts")).as("first_us"),
        max(unix_micros($"ts")).as("last_us"))
    // Global user count stays IN the plan as a 1-row broadcast (the
    // repo-wide global-scalar convention) — no driver-side action at
    // query-construction time, and the spans frame is scanned once.
    val nUsersRow = spans.agg(
      count_distinct($"user_id").as("n_users_total"))
    val typeCounts = spans.groupBy($"event_type")
      .agg(count(lit(1)).as("n_t"))
    val a = spans.select($"user_id", $"event_type".as("t_a"), $"first_us")
    val b = spans.select($"user_id", $"event_type".as("t_b"), $"last_us")
    a.join(b, Seq("user_id"))
      .filter($"first_us" < $"last_us")
      .groupBy($"t_a", $"t_b")
      .agg(count(lit(1)).as("n_users_ab"))
      .join(broadcast(typeCounts.select($"event_type".as("t_a"),
        $"n_t".as("n_a"))), Seq("t_a"))
      .join(broadcast(typeCounts.select($"event_type".as("t_b"),
        $"n_t".as("n_b"))), Seq("t_b"))
      .crossJoin(broadcast(nUsersRow)) // 1-row global scalar
      .select($"t_a".as("first_type"), $"t_b".as("then_type"),
        $"n_users_ab", $"n_a", $"n_b",
        expr("(n_users_ab * n_users_total * 1000) div (n_a * n_b)")
          .as("lift_x1000"))
      .orderBy($"first_type", $"then_type")
  }

  /** AUTOCORRELATION FUNCTION (lags 1–7) of the daily volume series
    * per event type — the periodicity detector behind seasonality
    * diagnostics (a weekly cycle shows as an acf spike at lag 7),
    * float-free: deviations are pre-scaled by n (dₜ = n·xₜ − Σx, an
    * integer), so r_ℓ = Σ dₜ·dₜ₊ℓ over Σ dₜ² needs one sign-safe
    * integral division ×10⁶ per lag. Products run in DECIMAL(38,0)
    * (n-scaled deviations square past BIGINT). Dense grid (zero days
    * are real observations); everything after the daily rollup runs on
    * the days frame. */
  def qTsAcf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    acfWithLen(spark, dir)
      .select($"event_type", $"lag", $"acf_ppm")
      .orderBy($"event_type", $"lag")
  }

  /** The ACF rows with the densified series length attached — shared
    * by [[qTsAcf]] and the Ljung–Box rollup ([[qTsLjungBox]]), so the
    * test statistic and the plotted correlogram can never disagree. */
  private[graft] def acfWithLen(spark: SparkSession, dir: String): DataFrame =
    acfWithLenOf(Tables.load(spark, dir, "events"))

  /** Same over any (event_type, ts) frame — the spec fixtures' entry. */
  private[graft] def acfWithLenOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .groupBy($"event_type", expr("unix_timestamp(ts) div 86400L").as("day"))
      .agg(count(lit(1)).as("n"))
    val grid = daily.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"event_type", explode(expr("sequence(d0, d1)")).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left_outer")
      .select($"event_type", $"day", coalesce($"n", lit(0L)).as("x"))
    val stats = dense.groupBy($"event_type")
      .agg(count(lit(1)).as("nn"), sum($"x").as("sx"))
    val dev = dense.join(broadcast(stats), Seq("event_type"))
      .select($"event_type", $"day", ($"nn" * $"x" - $"sx").as("d"), $"nn")
    val c0 = dev.groupBy($"event_type")
      .agg(sum(expr("cast(d as decimal(38,0)) * d")).as("c0"))
    val lagged = dev.select($"event_type", $"day", $"d".as("d_lead"))
    dev.select($"event_type", $"day", $"d",
        explode(expr("sequence(1L, 7L)")).as("lag"))
      .join(lagged.withColumnRenamed("day", "day_b"),
        Seq("event_type"))
      .filter($"day_b" === $"day" + $"lag")
      .groupBy($"event_type", $"lag")
      .agg(sum(expr("cast(d as decimal(38,0)) * d_lead")).as("cl"))
      .join(broadcast(c0), Seq("event_type"))
      .join(broadcast(stats.select($"event_type", $"nn")), Seq("event_type"))
      .select($"event_type", $"lag", $"nn",
        expr("""cast(CASE WHEN c0 = 0 THEN 0
               |WHEN cl >= 0 THEN (cl * 1000000) div c0
               |ELSE -(((-cl) * 1000000) div c0) END as bigint)""".stripMargin)
          .as("acf_ppm"))
  }

  /** DISTRIBUTION-FREE MEDIAN CONFIDENCE INTERVAL (the order-statistic
    * binomial method — Thompson 1936; the normal approximation to
    * Bin(n, ½) for the rank offset): per event type, the exact median
    * PLUS the ~95% interval [X₍ᵣ₎, X₍ₙ₊₁₋ᵣ₎] with r = (n − s) div 2 + 1
    * and s = ⌈1.96·√n⌉ — error bars for every median the engine
    * reports, valid for ANY value distribution. √n runs through the
    * 20-step integer-sqrt fold ([[isqrtFold]] — no float sqrt whose
    * ulp could split the engines at a rank boundary): s = (⌈√(38416·n)⌉
    * + 99) div 100, since (100s)² ≥ 38416·n ⇔ s ≥ 1.96√n. Small-n
    * degenerate case widens to the full range (r = 1). All three
    * readouts come off ONE value-count frame (the repo's median
    * pattern — never a corpus row_number); 38416·n stays far under
    * the 2⁴⁰ fold domain at any per-type daily volume this side of a
    * DECIMAL lift. */
  def qMedianCi(spark: SparkSession, dir: String): DataFrame =
    medianCi(Tables.load(spark, dir, "events"))

  /** Core of [[qMedianCi]] over any (event_type, value) frame —
    * separated so the known-quantile fixture spec can drive it. */
  private[graft] def medianCi(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select($"event_type",
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
    val vc = valueCounts(ev, $"event_type", $"cents")
      .withColumn("s0", expr(isqrtFold("38416 * n")))
      .withColumn("s", expr(
        "(s0 + if(s0 * s0 < 38416 * n, 1L, 0L) + 99) div 100"))
      .withColumn("rlo", expr("if(n > s, (n - s) div 2 + 1L, 1L)"))
    vc.groupBy($"__g")
      .agg(max($"n").as("n"), max($"rlo").as("r_lo"),
        rankValue(expr("(n + 1) div 2")).as("median"),
        rankValue(col("rlo")).as("ci_lo"),
        rankValue(expr("n + 1 - rlo")).as("ci_hi"))
      .select($"__g".as("event_type"), $"n", $"r_lo",
        $"median", $"ci_lo", $"ci_hi")
      .orderBy($"event_type")
  }

  /** LJUNG–BOX PORTMANTEAU TEST (Ljung & Box 1978 — public): is the
    * daily series white noise, or is the correlogram's structure
    * real? Q = n(n+2)·Σ_{k≤h} ρ_k²/(n−k) over the SAME 7 ACF lags the
    * correlogram query emits (shared [[acfWithLen]] — the verdict and
    * the plot cannot disagree), carried in micro units with the
    * per-lag division ρ_ppm² div (n−k) integral and the n(n+2)
    * product in DECIMAL(38,0) (n²·Σρ² passes BIGINT on long
    * calendars). Verdict vs the χ²₇ 5% critical value 14.067140
    * (standard table) — squint-free: significant means "not white
    * noise", the gate a forecasting pipeline checks before fitting
    * seasonal models. Everything after the ACF's lag joins is a
    * |types|-row rollup. */
  def qTsLjungBox(spark: SparkSession, dir: String): DataFrame =
    ljungBoxOf(Tables.load(spark, dir, "events"))

  /** Core of [[qTsLjungBox]] over any (event_type, ts) frame —
    * separated so the white-noise/periodic fixtures can drive it. */
  private[graft] def ljungBoxOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    acfWithLenOf(events)
      .groupBy($"event_type")
      .agg(max($"nn").as("n_days"), count(lit(1)).as("h"),
        sum(expr("(acf_ppm * acf_ppm) div (nn - lag)")).as("term_sum"))
      .select($"event_type", $"n_days", $"h",
        expr("""cast((cast(n_days as decimal(38,0)) * (n_days + 2) * term_sum)
               |div 1000000 as bigint)""".stripMargin).as("q_micro"))
      .withColumn("significant",
        expr("CASE WHEN q_micro >= 14067140 THEN 'Y' ELSE 'N' END"))
      .orderBy($"event_type")
  }

  /** CHI-SQUARE INDEPENDENCE TEST (nation × market segment): are the
    * two dimensions associated, or does the cross table factor into
    * its margins — the classic categorical-association audit, exact:
    * each cell's contribution is ((O·T − R·C)²·10⁶) div (R·C·T) in
    * DECIMAL(38,0) (the squared term runs to ~10²⁸ at corpus scale),
    * summed over the dim-bounded cell frame; the statistic and every
    * cell's contribution ship together so the "which cells drive it"
    * follow-up is already answered. One broadcast dim join + one
    * dim-bounded rollup + margin broadcasts. */
  def qChi2Independence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.load(spark, dir, "customer")
      .join(broadcast(Tables.load(spark, dir, "nation")
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"), $"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy($"nation").agg(sum($"o").as("r"))
    val colTot = cells.groupBy($"segment").agg(sum($"o").as("c"))
    val tot = cells.agg(sum($"o").as("t"))
    val contrib = cells
      .join(broadcast(rowTot), Seq("nation"))
      .join(broadcast(colTot), Seq("segment"))
      .crossJoin(broadcast(tot))
      .withColumn("e_x1e6", expr("(r * c * 1000000) div t"))
      .withColumn("contrib_x1e6", expr(
        """cast(((cast(o as decimal(38,0)) * t - cast(r as decimal(38,0)) * c)
          |  * (cast(o as decimal(38,0)) * t - cast(r as decimal(38,0)) * c)
          |  * 1000000)
          | div (cast(r as decimal(38,0)) * c * t) as bigint)""".stripMargin))
    contrib
      .withColumn("chi2_x1e6",
        sum($"contrib_x1e6").over(Window.partitionBy(lit(1))))
      .select($"nation", $"segment", $"o", $"e_x1e6", $"contrib_x1e6",
        $"chi2_x1e6")
      .orderBy($"nation", $"segment")
  }

  /** Benford expected first-digit shares in permille —
    * ⌊log10(1+1/d)·1000⌋, the public constants every fraud audit
    * uses. ONE definition shared with the oracle. */
  private[graft] val BenfordPermille =
    Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)

  /** BENFORD FIRST-DIGIT AUDIT of order totals — the forensic
    * screening test for fabricated amounts: observed first-digit
    * shares (of the exact cents value) vs Benford's law, per-digit
    * deviation and the max deviation alongside, all exact permille.
    * (This synthetic corpus draws totals from a bounded uniform-ish
    * range, so it FAILS Benford — which is itself the audit working:
    * uniform data is exactly what Benford flags.) One scan + a 9-row
    * rollup. */
  def qBenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = BenfordPermille.toDF("digit", "benford_permille")
    val digits = Tables.load(spark, dir, "orders")
      .select(expr(
        "cast(substring(cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as string), 1, 1) as int)")
        .as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum($"n").as("t"))
    digits.join(broadcast(expected), Seq("digit"))
      .crossJoin(broadcast(tot))
      .withColumn("share_permille", expr("(n * 1000) div t"))
      .withColumn("dev_permille", abs($"share_permille" - $"benford_permille"))
      .withColumn("max_dev_permille",
        max($"dev_permille").over(Window.partitionBy(lit(1))))
      .select($"digit", $"n", $"share_permille", $"benford_permille",
        $"dev_permille", $"max_dev_permille")
      .orderBy($"digit")
  }

  // ---------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> q1Agg,
    "q_agg_maxby" -> qAggMaxBy,
    "q_agg_minby" -> qAggMinBy,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_median" -> qAggMedian,
    "q_agg_rollup" -> qAggRollup,
    "q_agg_cube" -> qAggCube,
    "q_stats" -> qStats,
    "q_pivot_counts" -> qPivotCounts,
    "q_join_inner" -> qJoinInner,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_outer" -> qJoinOuter,
    "q_asof_join" -> qAsofJoin,
    "q_asof_custom" -> qAsofCustom,
    "q_asof_tolerance" -> qAsofTolerance,
    "q_asof_forward" -> qAsofForward,
    "q_asof_nearest" -> qAsofNearest,
    "q_subquery_agg" -> qSubqueryAgg,
    "q_filter_pred" -> qFilterPred,
    "q_proj_json" -> qProjJson,
    "q_proj_case" -> qProjCase,
    "q_coalesce_null" -> qCoalesceNull,
    "q_array_ops" -> qArrayOps,
    "q_dates" -> qDates,
    "q_window_running" -> qWindowRunning,
    "q_window_lag" -> qWindowLag,
    "q_window_rank" -> qWindowRank,
    "q_window_ntile" -> qWindowNtile,
    "q_window_session" -> qWindowSession,
    "q_topk" -> qTopK,
    "q_setops" -> qSetOps,
    "q_sql_tpch3" -> qSqlTpch3,
    "q_sql_tpch5" -> qSqlTpch5,
    "q_sql_tpch6" -> qSqlTpch6,
    "q_sql_tpch17" -> qSqlTpch17,
    "q_sql_tpch18" -> qSqlTpch18,
    "q_scd2_history" -> qScd2History,
    "q_scd2_pit" -> qScd2Pit,
    "q_sql_tpch10" -> qSqlTpch10,
    "q_sql_tpch13" -> qSqlTpch13,
    "q_sql_tpch14" -> qSqlTpch14,
    "q_window_distribution" -> qWindowDistribution,
    "q_unpivot" -> qUnpivot,
    "q_ts_fill" -> qTsFill,
    "q_bloom_semi" -> qBloomSemi,
    "q_zorder" -> qZorder,
    "q_histogram" -> qHistogram,
    "q_winsorize" -> qWinsorize,
    "q_outlier_mad" -> qOutlierMad,
    "q_winsorize_approx" -> qWinsorizeApprox,
    "q_winsorize_approx_audit" -> qWinsorizeApproxAudit,
    "q_cep_pattern" -> qCepPattern,
    "q_ri_audit" -> qRiAudit,
    "q_window_sliding" -> qWindowSliding,
    "q_sql_tpch4" -> sqlQuery(tpch4Sql) _,
    "q_sql_tpch15" -> sqlQuery(tpch15Sql) _,
    "q_sql_tpch7" -> sqlQuery(tpch7Sql) _,
    "q_sql_tpch8" -> sqlQuery(tpch8Sql) _,
    "q_sql_tpch19" -> sqlQuery(tpch19Sql) _,
    "q_sql_tpch21" -> sqlQuery(tpch21Sql) _,
    "q_sql_tpch22" -> sqlQuery(tpch22Sql) _,
    "q_sql_tpch1" -> sqlQuery(tpch1Sql) _,
    "q_sql_tpch2" -> sqlQuery(tpch2Sql) _,
    "q_sql_tpch9" -> sqlQuery(tpch9Sql) _,
    "q_sql_tpch11" -> sqlQuery(tpch11Sql) _,
    "q_sql_tpch12" -> sqlQuery(tpch12Sql) _,
    "q_sql_tpch16" -> sqlQuery(tpch16Sql) _,
    "q_sql_tpch20" -> sqlQuery(tpch20Sql) _,
    "q_grouping_sets" -> qGroupingSets,
    "q_salted_agg" -> qSaltedAgg,
    "q_skew_report" -> qSkewReport,
    "q_join_card_est" -> qJoinCardEst,
    "q_ams_f2" -> qAmsF2,
    "q_interval_merge" -> qIntervalMerge,
    "q_forecast_mase" -> qForecastMase,
    "q_cohort_ltv" -> qCohortLtv,
    "q_pareto_revenue" -> qParetoRevenue,
    "q_hhi_revenue" -> qHhiRevenue,
    "q_salted_join" -> qSaltedJoin,
    "q_agg_percentiles" -> qAggPercentiles,
    "q_join_range" -> qJoinRange,
    "q_explode_tokens" -> qExplodeTokens,
    "q_window_tumbling" -> qWindowTumbling,
    "q_approx_distinct" -> qApproxDistinct,
    "q_approx_distinct_audit" -> qApproxDistinctAudit,
    "q_cohort_retention" -> qCohortRetention,
    "q_survival_hazard" -> qSurvivalHazard,
    "q_event_transitions" -> qEventTransitions,
    "q_event_paths" -> qEventPaths,
    "q_basket_rules" -> qBasketRules,
    "q_rec_itemcf" -> qRecItemcf,
    "q_markov_eval" -> qMarkovEval,
    "q_session_kpis" -> qSessionKpis,
    "q_rfm_segments" -> qRfmSegments,
    "q_gini_revenue" -> qGiniRevenue,
    "q_revenue_monthly" -> qRevenueMonthly,
    "q_revenue_monthly_inc" -> qRevenueMonthlyInc,
    "q_ts_sax_motif" -> qTsSaxMotif,
    "q_ts_ewma" -> qTsEwma,
    "q_ts_decompose" -> qTsDecompose,
    "q_weighted_median" -> qWeightedMedian,
    "q_quantile_sketch" -> qQuantileSketch,
    "q_trend_mk" -> qTrendMk,
    "q_trend_theilsen" -> qTrendTheilsen,
    "q_ts_holt" -> qTsHolt,
    "q_ts_strength" -> qTsStrength,
    "q_ts_anomaly" -> qTsAnomaly,
    "q_burstiness" -> qBurstiness,
    "q_active_users" -> qActiveUsers,
    "q_cusum" -> qCusum,
    "q_ts_changepoint" -> qTsChangepoint,
    "q_seq_patterns" -> qSeqPatterns,
    "q_ts_acf" -> qTsAcf,
    "q_ts_ljungbox" -> qTsLjungBox,
    "q_median_ci" -> qMedianCi,
    "q_chi2_independence" -> qChi2Independence,
    "q_benford_audit" -> qBenfordAudit
  )

  private val revenueMonthlyOracle =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS revenue_cents
      |  FROM orders GROUP BY 1)
      |SELECT month, n_orders, revenue_cents,
      |  (revenue_cents * 1000) // lag(revenue_cents, 1) OVER (ORDER BY month)
      |    AS growth_permille
      |FROM m ORDER BY month""".stripMargin

  private def benfordValues: String =
    BenfordPermille.map { case (d, p) => s"($d, $p)" }.mkString(", ")

  /** The hourly STL-lite decomposition oracle — shared verbatim by
    * the q_ts_decompose entry and the q_ts_strength rollup. */
  private val tsDecomposeOracle: String =
      """WITH hourly AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT h.event_type, g.hour
        |  FROM (SELECT event_type, min(hour) AS h0, max(hour) AS h1
        |        FROM hourly GROUP BY 1) h
        |  CROSS JOIN LATERAL (SELECT unnest(range(h.h0, h.h1 + 1)) AS hour) g),
        |dense AS (
        |  SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON h.event_type = g.event_type AND h.hour = g.hour),
        |t AS (
        |  SELECT event_type, hour, n,
        |    count(*) OVER w AS w_n, sum(n) OVER w AS w_sum
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |tr AS (
        |  SELECT event_type, hour, n,
        |    CAST((w_sum * 100) // 25 AS BIGINT) AS trend_x100,
        |    CAST(n * 100 - (w_sum * 100) // 25 AS BIGINT) AS dev_x100
        |  FROM t WHERE w_n = 25),
        |seas AS (
        |  SELECT event_type, hour % 24 AS hod,
        |    CAST(CASE WHEN sum(dev_x100) >= 0
        |         THEN sum(dev_x100) // count(*)
        |         ELSE -((-sum(dev_x100)) // count(*)) END AS BIGINT) AS seas_x100
        |  FROM tr GROUP BY 1, 2)
        |SELECT tr.event_type, tr.hour, tr.n, tr.trend_x100, s.seas_x100,
        |  tr.dev_x100 - s.seas_x100 AS remainder_x100
        |FROM tr JOIN seas s
        |  ON s.event_type = tr.event_type AND s.hod = tr.hour % 24
        |ORDER BY tr.event_type, tr.hour""".stripMargin

  /** The ACF CTE chain through the per-lag autocovariances — shared
    * verbatim by the correlogram and Ljung–Box oracles. */
  private val tsAcfCtes: String =
    """daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT h.event_type, g.day
      |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
      |        FROM daily GROUP BY 1) h
      |  CROSS JOIN LATERAL (SELECT unnest(range(h.d0, h.d1 + 1)) AS day) g),
      |dense AS (
      |  SELECT g.event_type, g.day, COALESCE(d.n, 0) AS x
      |  FROM grid g LEFT JOIN daily d
      |    ON d.event_type = g.event_type AND d.day = g.day),
      |stats AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS nn,
      |    CAST(sum(x) AS BIGINT) AS sx
      |  FROM dense GROUP BY 1),
      |dev AS (
      |  SELECT d.event_type, d.day, s.nn * d.x - s.sx AS dd
      |  FROM dense d JOIN stats s ON s.event_type = d.event_type),
      |c0 AS (
      |  SELECT event_type, SUM(CAST(dd AS HUGEINT) * dd) AS c0
      |  FROM dev GROUP BY 1),
      |cl AS (
      |  SELECT a.event_type, l.lag,
      |    SUM(CAST(a.dd AS HUGEINT) * b.dd) AS cl
      |  FROM dev a
      |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
      |  JOIN dev b ON b.event_type = a.event_type
      |            AND b.day = a.day + l.lag
      |  GROUP BY 1, 2),
      |acfr AS (
      |  SELECT cl.event_type, CAST(cl.lag AS BIGINT) AS lag, s.nn,
      |    CAST(CASE WHEN c0.c0 = 0 THEN 0
      |         WHEN cl.cl >= 0 THEN (cl.cl * 1000000) // c0.c0
      |         ELSE -(((-cl.cl) * 1000000) // c0.c0) END AS BIGINT) AS acf_ppm
      |  FROM cl JOIN c0 ON c0.event_type = cl.event_type
      |  JOIN stats s ON s.event_type = cl.event_type)""".stripMargin

  /** The median-CI oracle: value counts + the generated 20-step
    * integer-sqrt chain keyed per event type + the three rank reads. */
  private def medianCiOracle: String = {
    val sqrtSteps = (0 until 20).map { k =>
      s"""i${k + 1} AS (SELECT g, n,
         |  CASE WHEN x >= res + bit THEN x - res - bit ELSE x END AS x,
         |  CASE WHEN x >= res + bit THEN (res >> 1) + bit ELSE res >> 1 END AS res,
         |  bit >> 2 AS bit
         |  FROM i$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT event_type AS g,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM events),
       |vc AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
       |cc AS MATERIALIZED (
       |  SELECT *, CAST(sum(c) OVER (PARTITION BY g ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
       |  FROM vc),
       |ns AS (SELECT g, max(n) AS n FROM cc GROUP BY g),
       |i0 AS (SELECT g, n, 38416 * n AS x, CAST(0 AS BIGINT) AS res,
       |       CAST(1 AS BIGINT) << 38 AS bit FROM ns),
       |$sqrtSteps,
       |sv AS (
       |  SELECT g, n,
       |    (res + CASE WHEN res * res < 38416 * n THEN 1 ELSE 0 END + 99) // 100
       |      AS s
       |  FROM i20),
       |rk AS MATERIALIZED (
       |  SELECT g, n, CASE WHEN n > s THEN (n - s) // 2 + 1 ELSE 1 END AS rlo
       |  FROM sv)
       |SELECT cc.g AS event_type, max(cc.n) AS n, max(rk.rlo) AS r_lo,
       |  max(CASE WHEN cum - c < (cc.n + 1) // 2 AND (cc.n + 1) // 2 <= cum
       |      THEN v END) AS median,
       |  max(CASE WHEN cum - c < rk.rlo AND rk.rlo <= cum THEN v END) AS ci_lo,
       |  max(CASE WHEN cum - c < cc.n + 1 - rk.rlo AND cc.n + 1 - rk.rlo <= cum
       |      THEN v END) AS ci_hi
       |FROM cc JOIN rk ON rk.g = cc.g
       |GROUP BY cc.g ORDER BY cc.g""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_median_ci" -> medianCiOracle,

    "q_ts_acf" ->
      s"""WITH $tsAcfCtes
         |SELECT event_type, lag, acf_ppm
         |FROM acfr ORDER BY event_type, lag""".stripMargin,

    "q_ts_ljungbox" ->
      s"""WITH $tsAcfCtes,
         |lb AS (
         |  SELECT event_type, max(nn) AS n_days,
         |         CAST(count(*) AS BIGINT) AS h,
         |         CAST(sum((acf_ppm * acf_ppm) // (nn - lag)) AS BIGINT)
         |           AS term_sum
         |  FROM acfr GROUP BY 1)
         |SELECT event_type, n_days, h,
         |  CAST((CAST(n_days AS HUGEINT) * (n_days + 2) * term_sum)
         |    // 1000000 AS BIGINT) AS q_micro,
         |  CASE WHEN (CAST(n_days AS HUGEINT) * (n_days + 2) * term_sum)
         |    // 1000000 >= 14067140 THEN 'Y' ELSE 'N' END AS significant
         |FROM lb ORDER BY event_type""".stripMargin,

    "q_chi2_independence" ->
      """WITH cells AS (
        |  SELECT n.n_name AS nation, cu.c_mktsegment AS segment,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT nation, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT segment, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
        |k AS (
        |  SELECT cells.nation, cells.segment, cells.o,
        |    (rt.r * ct.c * 1000000) // tt.t AS e_x1e6,
        |    CAST(((CAST(cells.o AS HUGEINT) * tt.t - CAST(rt.r AS HUGEINT) * ct.c)
        |      * (CAST(cells.o AS HUGEINT) * tt.t - CAST(rt.r AS HUGEINT) * ct.c)
        |      * 1000000)
        |     // (CAST(rt.r AS HUGEINT) * ct.c * tt.t) AS BIGINT) AS contrib_x1e6
        |  FROM cells JOIN rt ON rt.nation = cells.nation
        |             JOIN ct ON ct.segment = cells.segment
        |             CROSS JOIN tt)
        |SELECT nation, segment, o, e_x1e6, contrib_x1e6,
        |  CAST(SUM(contrib_x1e6) OVER () AS BIGINT) AS chi2_x1e6
        |FROM k ORDER BY nation, segment""".stripMargin,

    "q_benford_audit" ->
      s"""WITH expected(digit, benford_permille) AS (VALUES $benfordValues),
         |d AS (
         |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM d),
         |k AS (
         |  SELECT d.digit, d.n, (d.n * 1000) // t.t AS share_permille,
         |    CAST(e.benford_permille AS BIGINT) AS benford_permille,
         |    abs((d.n * 1000) // t.t - e.benford_permille) AS dev_permille
         |  FROM d JOIN expected e ON e.digit = d.digit CROSS JOIN t)
         |SELECT digit, n, share_permille, benford_permille, dev_permille,
         |  CAST(MAX(dev_permille) OVER () AS BIGINT) AS max_dev_permille
         |FROM k ORDER BY digit""".stripMargin,

    "q_seq_patterns" ->
      """WITH spans AS (
        |  SELECT user_id, event_type,
        |    CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
        |    CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
        |  FROM events GROUP BY 1, 2),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM spans),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |       FROM spans GROUP BY 1),
        |ab AS (
        |  SELECT a.event_type AS t_a, b.event_type AS t_b,
        |    CAST(count(*) AS BIGINT) AS n_users_ab
        |  FROM spans a JOIN spans b ON b.user_id = a.user_id
        |  WHERE a.first_us < b.last_us
        |  GROUP BY 1, 2)
        |SELECT ab.t_a AS first_type, ab.t_b AS then_type, ab.n_users_ab,
        |  ta.n_t AS n_a, tb.n_t AS n_b,
        |  (ab.n_users_ab * nu.n * 1000) // (ta.n_t * tb.n_t) AS lift_x1000
        |FROM ab JOIN tc ta ON ta.event_type = ab.t_a
        |        JOIN tc tb ON tb.event_type = ab.t_b
        |        CROSS JOIN nu
        |ORDER BY first_type, then_type""".stripMargin,

    "q_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |grid AS (SELECT unnest(range((SELECT min(day) FROM ud),
        |                             (SELECT max(day) FROM ud) + 1)) AS day),
        |wau AS (
        |  SELECT g.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
        |  FROM ud u
        |  CROSS JOIN LATERAL (SELECT unnest(range(u.day, u.day + 7)) AS day) g
        |  GROUP BY 1)
        |SELECT g.day, COALESCE(d.dau, 0) AS dau, COALESCE(w.wau, 0) AS wau,
        |  CASE WHEN COALESCE(w.wau, 0) = 0 THEN 0
        |       ELSE (COALESCE(d.dau, 0) * 1000) // w.wau END
        |    AS stickiness_permille
        |FROM grid g LEFT JOIN dau d ON d.day = g.day
        |LEFT JOIN wau w ON w.day = g.day
        |ORDER BY g.day""".stripMargin,

    "q_ts_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ord AS (
        |  SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM daily),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |       FROM daily GROUP BY 1),
        |f AS (
        |  SELECT event_type, i, n * 100 AS l, CAST(0 AS BIGINT) AS b
        |  FROM ord WHERE i = 1
        |  UNION ALL
        |  SELECT o.event_type, o.i,
        |    CASE WHEN o.n * 100 + 4 * (f.l + f.b) >= 0
        |      THEN (o.n * 100 + 4 * (f.l + f.b)) // 5
        |      ELSE -((-(o.n * 100 + 4 * (f.l + f.b))) // 5) END AS l,
        |    CASE WHEN ((CASE WHEN o.n * 100 + 4 * (f.l + f.b) >= 0
        |          THEN (o.n * 100 + 4 * (f.l + f.b)) // 5
        |          ELSE -((-(o.n * 100 + 4 * (f.l + f.b))) // 5) END) - f.l)
        |        + 9 * f.b >= 0
        |      THEN (((CASE WHEN o.n * 100 + 4 * (f.l + f.b) >= 0
        |          THEN (o.n * 100 + 4 * (f.l + f.b)) // 5
        |          ELSE -((-(o.n * 100 + 4 * (f.l + f.b))) // 5) END) - f.l)
        |        + 9 * f.b) // 10
        |      ELSE -((-(((CASE WHEN o.n * 100 + 4 * (f.l + f.b) >= 0
        |          THEN (o.n * 100 + 4 * (f.l + f.b)) // 5
        |          ELSE -((-(o.n * 100 + 4 * (f.l + f.b))) // 5) END) - f.l)
        |        + 9 * f.b)) // 10) END AS b
        |  FROM f JOIN ord o ON o.event_type = f.event_type AND o.i = f.i + 1)
        |SELECT f.event_type, nd.n_days, f.l AS level_x100, f.b AS trend_x100,
        |  f.l + f.b AS forecast_x100
        |FROM f JOIN nd ON nd.event_type = f.event_type AND f.i = nd.n_days
        |ORDER BY f.event_type""".stripMargin,

    "q_ts_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
        |    lead(day) OVER (PARTITION BY event_type ORDER BY day) AS cp_day,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM daily),
        |g AS (
        |  SELECT *, s1 * nd - tot * t AS num,
        |    ((s1 * nd - tot * t) * (s1 * nd - tot * t))
        |      // (t * (nd - t) * nd) AS gain
        |  FROM sc WHERE t < nd),
        |pk AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, day) AS pick
        |  FROM g)
        |SELECT event_type, nd AS n_days, cp_day, CAST(gain AS BIGINT) AS gain,
        |  (s1 * 20) // t AS mean_left_x20,
        |  ((tot - s1) * 20) // (nd - t) AS mean_right_x20
        |FROM pk WHERE pick = 1 ORDER BY event_type""".stripMargin,

    "q_cusum" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ord AS (
        |  SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM daily),
        |p AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    (CAST(sum(n) AS BIGINT) * 20) // count(*) AS mu20
        |  FROM daily GROUP BY 1),
        |pp AS (SELECT event_type, n_days, mu20, mu20 // 20 AS k20,
        |              4 * mu20 AS h20 FROM p),
        |f AS (
        |  SELECT o.event_type, o.i,
        |    GREATEST(0, o.n * 20 - q.mu20 - q.k20) AS sp,
        |    GREATEST(0, q.mu20 - q.k20 - o.n * 20) AS sn,
        |    CASE WHEN GREATEST(0, o.n * 20 - q.mu20 - q.k20) > q.h20
        |         THEN o.day END AS up_day,
        |    CASE WHEN GREATEST(0, q.mu20 - q.k20 - o.n * 20) > q.h20
        |         THEN o.day END AS dn_day,
        |    GREATEST(GREATEST(0, o.n * 20 - q.mu20 - q.k20),
        |             GREATEST(0, q.mu20 - q.k20 - o.n * 20)) AS peak
        |  FROM ord o JOIN pp q ON q.event_type = o.event_type
        |  WHERE o.i = 1
        |  UNION ALL
        |  SELECT o.event_type, o.i,
        |    GREATEST(0, f.sp + o.n * 20 - q.mu20 - q.k20) AS sp,
        |    GREATEST(0, f.sn + q.mu20 - q.k20 - o.n * 20) AS sn,
        |    COALESCE(f.up_day,
        |      CASE WHEN GREATEST(0, f.sp + o.n * 20 - q.mu20 - q.k20) > q.h20
        |           THEN o.day END) AS up_day,
        |    COALESCE(f.dn_day,
        |      CASE WHEN GREATEST(0, f.sn + q.mu20 - q.k20 - o.n * 20) > q.h20
        |           THEN o.day END) AS dn_day,
        |    GREATEST(f.peak,
        |      GREATEST(0, f.sp + o.n * 20 - q.mu20 - q.k20),
        |      GREATEST(0, f.sn + q.mu20 - q.k20 - o.n * 20)) AS peak
        |  FROM f JOIN ord o ON o.event_type = f.event_type AND o.i = f.i + 1
        |  JOIN pp q ON q.event_type = o.event_type)
        |SELECT q.event_type, q.n_days, q.mu20, q.h20,
        |  f.up_day AS up_alarm_day, f.dn_day AS dn_alarm_day,
        |  f.peak AS peak_stat20
        |FROM f JOIN pp q ON q.event_type = f.event_type AND f.i = q.n_days
        |ORDER BY q.event_type""".stripMargin,

    "q_trend_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type,
        |    CASE WHEN b.n >= a.n
        |      THEN ((b.n - a.n) * 1000000) // (b.day - a.day)
        |      ELSE -(((a.n - b.n) * 1000000) // (b.day - a.day)) END AS slope_ppm
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (
        |  SELECT event_type, slope_ppm,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY slope_ppm) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
        |  FROM slopes)
        |SELECT event_type, n_pairs, slope_ppm AS theilsen_slope_ppm
        |FROM r WHERE rk = (n_pairs + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "q_trend_mk" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.n > a.n THEN 1
        |                  WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND a.day < b.day
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY 1, 2) GROUP BY 1)
        |SELECT s.event_type, t.n_days, s.s_stat,
        |  t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie18 AS var18,
        |  CASE
        |    WHEN s.s_stat = 0 THEN 'none'
        |    WHEN (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * 180000
        |         < 38416 * (t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie18)
        |      THEN 'none'
        |    WHEN s.s_stat > 0 THEN 'increasing'
        |    ELSE 'decreasing' END AS trend
        |FROM s JOIN ties t ON t.event_type = s.event_type
        |ORDER BY s.event_type""".stripMargin,

    "q_ts_decompose" -> tsDecomposeOracle,

    // anomaly = median/MAD flags over the decompose remainder; the
    // subquery is the VERBATIM decompose oracle (concatenated after
    // stripMargin — the bpeEncodeOracle lesson)
    "q_ts_anomaly" ->
      ("""WITH dc AS (
         |""".stripMargin + tsDecomposeOracle + """
         |),
         |med AS (
         |  SELECT event_type, median(remainder_x100) AS med
         |  FROM dc GROUP BY event_type),
         |d AS (
         |  SELECT dc.event_type, dc.hour, dc.n, dc.remainder_x100, m.med,
         |         abs(dc.remainder_x100 - m.med) AS dev
         |  FROM dc JOIN med m USING (event_type)),
         |mad AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY event_type)
         |SELECT d.event_type, d.hour, d.n, d.remainder_x100, d.med, mad.mad,
         |  CASE WHEN d.dev > mad.mad * 3 THEN 'Y' ELSE 'N' END AS is_anomaly
         |FROM d JOIN mad USING (event_type)
         |ORDER BY d.event_type, d.hour""".stripMargin),

    // strength = variance-ratio rollup of the decompose output; the
    // subquery is the VERBATIM decompose oracle (concatenated after
    // stripMargin — the bpeEncodeOracle lesson)
    "q_ts_strength" ->
      ("""WITH dc AS (
         |""".stripMargin + tsDecomposeOracle + """
         |),
         |s AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |    CAST(sum(remainder_x100) AS HUGEINT) AS sum_r,
         |    CAST(sum(CAST(remainder_x100 AS HUGEINT) * remainder_x100)
         |      AS HUGEINT) AS ss_r,
         |    CAST(sum(seas_x100 + remainder_x100) AS HUGEINT) AS sum_sr,
         |    CAST(sum(CAST(seas_x100 + remainder_x100 AS HUGEINT)
         |      * (seas_x100 + remainder_x100)) AS HUGEINT) AS ss_sr
         |  FROM dc GROUP BY 1),
         |v AS (
         |  SELECT event_type, n_hours,
         |    n_hours * ss_r - sum_r * sum_r AS num,
         |    n_hours * ss_sr - sum_sr * sum_sr AS den
         |  FROM s)
         |SELECT event_type, n_hours,
         |  CAST(CASE WHEN den > 0
         |    THEN greatest(0, 1000000 - (num * 1000000) // den)
         |    ELSE 0 END AS BIGINT) AS seasonal_strength_ppm
         |FROM v ORDER BY event_type""".stripMargin),

    "q_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sum_x,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss_x
        |  FROM daily GROUP BY 1),
        |d AS (
        |  SELECT event_type, n_days, sum_x,
        |    CAST(((CAST(n_days AS HUGEINT) * ss_x
        |      - CAST(sum_x AS HUGEINT) * sum_x) * 1000)
        |      // (CAST(n_days - 1 AS HUGEINT) * sum_x) AS BIGINT)
        |      AS dispersion_x1000
        |  FROM s WHERE n_days > 1)
        |SELECT event_type, n_days, sum_x, dispersion_x1000,
        |  CASE WHEN dispersion_x1000 > 1500 THEN 'bursty'
        |       WHEN dispersion_x1000 < 667 THEN 'regular'
        |       ELSE 'poisson_like' END AS verdict
        |FROM d ORDER BY event_type""".stripMargin,


    "q_weighted_median" ->
      """WITH vc AS (
        |  SELECT l_returnflag, l_quantity,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS w,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (
        |  SELECT l_returnflag, l_quantity, c,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cumw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS totw,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS nr
        |  FROM vc)
        |SELECT l_returnflag, CAST(max(nr) AS BIGINT) AS n_rows,
        |  CAST(max(totw) AS BIGINT) AS total_cents,
        |  min(l_quantity) AS wmedian_qty
        |FROM cw WHERE cumw * 2 >= totw
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_quantile_sketch" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CASE WHEN cents <= 0 THEN 0
        |         ELSE length(bin(cents)) END AS bucket,
        |    CAST(count(*) AS BIGINT) AS bc
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bucket, bc,
        |    sum(bc) OVER (PARTITION BY event_type ORDER BY bucket) AS cumc,
        |    sum(bc) OVER (PARTITION BY event_type) AS n
        |  FROM b),
        |est AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |    CAST(min(CASE WHEN cumc * 1000 >= n * 500
        |             THEN (1::BIGINT << bucket) - 1 END) AS BIGINT) AS p50_est,
        |    CAST(min(CASE WHEN cumc * 1000 >= n * 990
        |             THEN (1::BIGINT << bucket) - 1 END) AS BIGINT) AS p99_est
        |  FROM cum GROUP BY 1),
        |vc AS (
        |  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type, cents, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM vc),
        |exact AS (
        |  SELECT event_type,
        |    max(CASE WHEN cum - c < (500 * n + 999) // 1000
        |              AND (500 * n + 999) // 1000 <= cum THEN cents END) AS p50_exact,
        |    max(CASE WHEN cum - c < (990 * n + 999) // 1000
        |              AND (990 * n + 999) // 1000 <= cum THEN cents END) AS p99_exact
        |  FROM rk GROUP BY 1)
        |SELECT e.event_type, e.n, e.p50_est, x.p50_exact, e.p99_est,
        |  x.p99_exact,
        |  (e.p50_est * 1000000) // nullif(x.p50_exact, 0) AS p50_ratio_ppm,
        |  (e.p99_est * 1000000) // nullif(x.p99_exact, 0) AS p99_ratio_ppm
        |FROM est e JOIN exact x ON x.event_type = e.event_type
        |ORDER BY e.event_type""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_ts_ewma" ->
      """WITH RECURSIVE pts AS (
        |  SELECT user_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events),
        |rec AS (
        |  SELECT user_id, rn, c, c AS ema, CAST(NULL AS BIGINT) AS dev
        |  FROM pts WHERE rn = 1
        |  UNION ALL
        |  SELECT p.user_id, p.rn, p.c,
        |         (p.c + 3 * r.ema) // 4 AS ema,
        |         abs(p.c - r.ema) AS dev
        |  FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.rn = r.rn + 1),
        |stats AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
        |         arg_max(ema, rn) AS ema_last,
        |         COALESCE(SUM(dev), 0) AS sumdev
        |  FROM rec GROUP BY user_id),
        |md AS (
        |  SELECT user_id, n_points, ema_last,
        |         CAST(CASE WHEN n_points > 1 THEN sumdev // (n_points - 1)
        |              ELSE 0 END AS BIGINT) AS mean_dev
        |  FROM stats)
        |SELECT md.user_id, md.n_points, md.ema_last, md.mean_dev,
        |  CAST(COALESCE(SUM(CASE WHEN rec.dev > 3 * md.mean_dev
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_anomalies
        |FROM md JOIN rec ON md.user_id = rec.user_id
        |GROUP BY md.user_id, md.n_points, md.ema_last, md.mean_dev
        |ORDER BY md.user_id""".stripMargin,

    // Audit twins: the sketch-specific estimates stay rows-only on the
    // original entries; these replay the DETERMINISTIC surface — exact
    // companions + asserted-true bounded-error invariants.
    "q_approx_distinct_audit" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_winsorize_approx_audit" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS p05_rank_ok, TRUE AS p95_rank_ok,
        |  TRUE AS p05_is_datum, TRUE AS p95_is_datum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_outlier_mad" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
        |d AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |         abs(e.value - m.med) AS dev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.value, d.med, mad.mad,
        |  CASE WHEN d.dev > mad.mad * 3 THEN 'Y' ELSE 'N' END AS is_outlier
        |FROM d JOIN mad USING (event_type) ORDER BY d.event_id""".stripMargin,

    "q_agg_median" ->
      """SELECT l_returnflag,
        |       median(l_quantity) AS median_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_maxby" ->
      """SELECT user_id, event_type AS last_type, event_id AS last_event_id,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS last_ep
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_agg_minby" ->
      """SELECT user_id, event_type AS first_type, event_id AS first_event_id,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS first_ep
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_agg_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_stats" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_pivot_counts" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type='click' THEN 1 END) AS n_click,
        |  count(CASE WHEN event_type='view' THEN 1 END) AS n_view,
        |  count(CASE WHEN event_type='purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type='signup' THEN 1 END) AS n_signup,
        |  count(CASE WHEN event_type='error' THEN 1 END) AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_join_inner" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_outer" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items,
        |  coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS items_total
        |FROM orders LEFT OUTER JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "q_asof_join" ->
      """SELECT event_id, user_id,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS purchase_ep,
        |       entry_ep,
        |       CAST(floor(epoch(ts)) AS BIGINT) - entry_ep AS wait_secs
        |FROM (
        |  SELECT *, last_value(CASE WHEN event_type IN ('view','click')
        |                            THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS entry_ep
        |  FROM events)
        |WHERE event_type = 'purchase' AND entry_ep IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    // strictly-prior-by-time with (ts, event_id) tiebreak — the LATERAL
    // top-1 mirrors the custom exec's merge semantics exactly
    "q_asof_custom" ->
      """SELECT l.event_id, l.user_id,
        |       CAST(floor(epoch(l.ts)) AS BIGINT) AS purchase_ep,
        |       r.entry_ep,
        |       CAST(floor(epoch(l.ts)) AS BIGINT) - r.entry_ep AS wait_secs
        |FROM events l, LATERAL (
        |  SELECT CAST(floor(epoch(r.ts)) AS BIGINT) AS entry_ep
        |  FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type IN ('view','click')
        |    AND r.ts < l.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) r
        |WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_nearest" ->
      """SELECT l.event_id, l.user_id,
        |       CAST(floor(epoch(l.ts)) AS BIGINT) AS purchase_ep,
        |       r.signup_ep,
        |       CASE WHEN r.signup_ep IS NOT NULL
        |            THEN abs(CAST(floor(epoch(l.ts)) AS BIGINT) - r.signup_ep)
        |       END AS dist_secs
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT CAST(floor(epoch(rr.ts)) AS BIGINT) AS signup_ep
        |  FROM events rr
        |  WHERE rr.user_id = l.user_id AND rr.event_type = 'signup'
        |    AND epoch_us(rr.ts) <> epoch_us(l.ts)
        |  ORDER BY abs(epoch_us(rr.ts) - epoch_us(l.ts)) ASC,
        |           (epoch_us(rr.ts) < epoch_us(l.ts)) DESC,
        |           CASE WHEN epoch_us(rr.ts) < epoch_us(l.ts)
        |                THEN -rr.event_id ELSE rr.event_id END ASC
        |  LIMIT 1) r ON true
        |WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_forward" ->
      """SELECT l.event_id, l.user_id,
        |       CAST(floor(epoch(l.ts)) AS BIGINT) AS view_ep,
        |       r.purchase_ep,
        |       CASE WHEN r.purchase_ep IS NOT NULL
        |            THEN r.purchase_ep - CAST(floor(epoch(l.ts)) AS BIGINT)
        |       END AS lag_secs
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT CAST(floor(epoch(rr.ts)) AS BIGINT) AS purchase_ep
        |  FROM events rr
        |  WHERE rr.user_id = l.user_id AND rr.event_type = 'purchase'
        |    AND epoch_us(rr.ts) > epoch_us(l.ts)
        |    AND epoch_us(rr.ts) - epoch_us(l.ts) <= 86400000000
        |  ORDER BY rr.ts ASC, rr.event_id ASC LIMIT 1) r ON true
        |WHERE l.event_type = 'view'
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_tolerance" ->
      """SELECT l.event_id, l.user_id,
        |       CAST(floor(epoch(l.ts)) AS BIGINT) AS purchase_ep,
        |       r.entry_ep,
        |       CASE WHEN r.entry_ep IS NOT NULL
        |            THEN CAST(floor(epoch(l.ts)) AS BIGINT) - r.entry_ep
        |       END AS wait_secs
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT CAST(floor(epoch(rr.ts)) AS BIGINT) AS entry_ep
        |  FROM events rr
        |  WHERE rr.user_id = l.user_id AND rr.event_type IN ('view','click')
        |    AND rr.ts < l.ts
        |    AND epoch_us(l.ts) - epoch_us(rr.ts) <= 3600000000
        |  ORDER BY rr.ts DESC, rr.event_id DESC LIMIT 1) r ON true
        |WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,

    "q_subquery_agg" ->
      """SELECT c_custkey, c_name,
        |       (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_tp
        |FROM customer
        |WHERE (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) > 400000.0
        |ORDER BY c_custkey""".stripMargin,

    "q_filter_pred" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_type LIKE 's%'
        |   OR (value > 150.0 AND event_type IN ('click','error'))
        |ORDER BY event_id""".stripMargin,

    "q_proj_json" ->
      """SELECT event_id,
        |       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |       upper(event_type) AS etype
        |FROM events ORDER BY event_id""".stripMargin,

    "q_proj_case" ->
      """SELECT event_id,
        |  CASE event_type WHEN 'purchase' THEN 'Buy'
        |                  WHEN 'view' THEN 'View'
        |                  WHEN 'click' THEN 'Click'
        |                  ELSE 'Other' END AS channel,
        |  substr(props, 1, 10) AS props10
        |FROM events ORDER BY event_id""".stripMargin,

    "q_coalesce_null" ->
      """SELECT doc_id,
        |  coalesce(nullif(lang, 'en'), nullif(source, 'src0'), 'fallback') AS resolved
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_array_ops" ->
      """SELECT doc_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ▸ ') AS head5,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dates" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS day_ep,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_lag" ->
      """SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT)
        |    - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_secs
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(row_number() OVER w AS BIGINT) AS rn
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_ntile" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_window_session" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, count(*) AS n_events,
        |       min(ep) AS sess_start, max(ep) AS sess_end
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,

    "q_session_kpis" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sess_id, CAST(count(*) AS BIGINT) AS n_events,
        |         min(ep) AS sess_start, max(ep) AS sess_end
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
        |  CAST(sum(sess_end - sess_start) AS BIGINT) AS total_duration_sec,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  (CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) * 1000000)
        |    // count(*) AS bounce_ppm,
        |  (CAST(sum(sess_end - sess_start) AS BIGINT) * 100) // count(*)
        |    AS avg_duration_x100,
        |  (CAST(sum(n_events) AS BIGINT) * 100) // count(*) AS avg_events_x100
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,

    "q_sql_tpch3" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS o_ep,
        |  o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_ep, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 20""".stripMargin,

    "q_sql_tpch5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_sql_tpch6" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_sql_tpch17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_small
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q_sql_tpch18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_ep, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180)
        |GROUP BY c_name, c_custkey, o_orderkey, o_ep, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_scd2_pit" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
        |  WHERE event_type <> 'purchase'),
        |c AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_type AS state, us,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS version
        |  FROM c WHERE prev IS NULL OR prev <> event_type)
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS purchase_ep,
        |  r.state AS state_at_purchase, r.version
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT ch.state, ch.version FROM ch
        |  WHERE ch.user_id = l.user_id AND ch.us < epoch_us(l.ts)
        |  ORDER BY ch.us DESC, ch.version DESC LIMIT 1) r ON true
        |WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,

    "q_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_type, us, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, us AS valid_from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS INT) AS version,
        |  CASE WHEN lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |       THEN 'Y' ELSE 'N' END AS is_current
        |FROM ch ORDER BY user_id, version""".stripMargin,

    "q_sql_tpch10" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_sql_tpch13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_sql_tpch14" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |                THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-08-01 00:00:00'""".stripMargin,

    "q_window_sliding" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         value
        |  FROM events)
        |SELECT event_id, user_id, ep,
        |  count(*) OVER w AS n_trailing_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ep
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_ri_audit" ->
      """SELECT 'lineitem->orders' AS fk_edge,
        |  (SELECT count(*) FROM lineitem) AS n_child,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY fk_edge""".stripMargin,

    "q_cep_pattern" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |s AS (
        |  SELECT *,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
        |  FROM e)
        |SELECT user_id, event_id, us AS view_us, next_us AS click_us,
        |       next_us - us AS gap_us
        |FROM s
        |WHERE event_type = 'view' AND next_type = 'click'
        |  AND next_us - us <= 86400000000
        |ORDER BY event_id""".stripMargin,

    // DuckDB has no width_bucket; the CASE is its exact definition
    // (interval = (500-0)/20 = 25, closed-open, overflow bucket 21)
    "q_histogram" ->
      """SELECT event_type,
        |  CASE WHEN value < 0.0 THEN 0
        |       WHEN value >= 500.0 THEN 21
        |       ELSE CAST(floor(value / 25.0) AS BIGINT) + 1 END AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "q_winsorize" ->
      """WITH vc AS (
        |  SELECT event_type, value, count(*) AS c FROM events GROUP BY event_type, value),
        |cc AS (
        |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY value
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM vc),
        |p AS (
        |  SELECT event_type,
        |    max(CASE WHEN cum - c < (5 * n + 99) // 100 AND (5 * n + 99) // 100 <= cum
        |             THEN value END) AS p05,
        |    max(CASE WHEN cum - c < (95 * n + 99) // 100 AND (95 * n + 99) // 100 <= cum
        |             THEN value END) AS p95
        |  FROM cc GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value, p.p05, p.p95,
        |  CASE WHEN e.value < p.p05 THEN p.p05
        |       WHEN e.value > p.p95 THEN p.p95
        |       ELSE e.value END AS clipped,
        |  CASE WHEN e.value < p.p05 THEN 'LO'
        |       WHEN e.value > p.p95 THEN 'HI'
        |       ELSE 'IN' END AS clip_flag
        |FROM events e JOIN p ON e.event_type = p.event_type
        |ORDER BY e.event_id""".stripMargin,

    "q_zorder" ->
      s"""WITH b AS (
         |  SELECT event_id,
         |    user_id % 1024 AS x,
         |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 1024 AS y
         |  FROM events),
         |z AS (
         |  SELECT event_id, x, y, ${graft.operators.ZOrder.zValueSql("x", "y")} AS z
         |  FROM b),
         |r AS (
         |  SELECT *, (row_number() OVER (ORDER BY z, event_id) - 1) // 1000 AS block_id
         |  FROM z)
         |SELECT block_id, count(*) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y,
         |  min(z) AS min_z, max(z) AS max_z
         |FROM r GROUP BY block_id ORDER BY block_id""".stripMargin,

    // the PLAIN semi-join: Bloom pruning must be indistinguishable
    "q_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_distribution" ->
      """SELECT event_id, event_type, value,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(event_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_id,
        |  nth_value(event_id, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_id
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin,

    "q_ts_fill" ->
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS day, value FROM events),
        |daily AS (SELECT user_id, day, sum(CAST(value AS DECIMAL(18,2))) AS dv,
        |          CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY user_id, day),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span)
        |SELECT g.user_id,
        |  CAST(floor(epoch(g.day)) AS BIGINT) AS day_ep,
        |  CAST(d.dv AS DOUBLE) AS day_value,
        |  CAST(last_value(d.dv IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_value,
        |  coalesce(d.n_events, 0) AS n_events,
        |  d.dv IS NULL AS gap
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, day_ep""".stripMargin,

    // Shared-text oracles: the SQL IS the Spark query (engines cannot drift)
    "q_sql_tpch4" -> tpch4Sql,
    "q_sql_tpch7" -> tpch7Sql,
    "q_sql_tpch8" -> tpch8Sql,
    "q_sql_tpch19" -> tpch19Sql,
    "q_sql_tpch21" -> tpch21Sql,
    "q_sql_tpch22" -> tpch22Sql,
    "q_sql_tpch15" -> tpch15Sql,
    "q_sql_tpch1" -> tpch1Sql,
    "q_sql_tpch2" -> tpch2Sql,
    "q_sql_tpch9" -> tpch9Sql,
    "q_sql_tpch11" -> tpch11Sql,
    "q_sql_tpch12" -> tpch12Sql,
    "q_sql_tpch16" -> tpch16Sql,
    "q_sql_tpch20" -> tpch20Sql,

    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        |  FROM events),
        |first AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id),
        |cells AS (
        |  SELECT cohort_day, d - cohort_day AS day_offset,
        |         count(*) AS n_users
        |  FROM (SELECT DISTINCT ev.user_id, cohort_day, ev.d
        |        FROM ev JOIN first ON ev.user_id = first.user_id)
        |  GROUP BY cohort_day, d - cohort_day),
        |sizes AS (SELECT cohort_day, n_users AS cohort_size FROM cells WHERE day_offset = 0)
        |SELECT cells.cohort_day, day_offset, n_users, cohort_size,
        |  CAST((n_users * 1000) // cohort_size AS BIGINT) AS retained_permille
        |FROM cells JOIN sizes ON cells.cohort_day = sizes.cohort_day
        |ORDER BY cells.cohort_day, day_offset""".stripMargin,

    "q_survival_hazard" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        |  FROM events),
        |spans AS (SELECT user_id, min(d) AS first_d, max(d) AS last_d
        |          FROM ev GROUP BY user_id),
        |w AS (SELECT max(d) AS w_end FROM ev),
        |lt AS (
        |  SELECT last_d - first_d AS t_day,
        |    CASE WHEN last_d < w.w_end - 14 THEN 1 ELSE 0 END AS churned
        |  FROM spans CROSS JOIN w),
        |pd AS (
        |  SELECT t_day, CAST(sum(churned) AS BIGINT) AS d_churn,
        |         CAST(count(*) - sum(churned) AS BIGINT) AS n_censored
        |  FROM lt GROUP BY t_day),
        |rk AS (
        |  SELECT *, CAST(sum(d_churn + n_censored) OVER (ORDER BY t_day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |  FROM pd),
        |hz AS (SELECT *, (d_churn * 1000000000) // n_risk AS hazard_step_ppb
        |       FROM rk)
        |SELECT t_day, n_risk, d_churn, n_censored, hazard_step_ppb,
        |  CAST(sum(hazard_step_ppb) OVER (ORDER BY t_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumhaz_ppb
        |FROM hz ORDER BY t_day""".stripMargin,

    "q_event_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |p AS (SELECT event_type AS prev_type, next_type, count(*) AS n
        |      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, sum(n) AS tot FROM p GROUP BY prev_type)
        |SELECT p.prev_type, p.next_type, n,
        |  CAST((n * 1000) // tot AS BIGINT) AS share_permille
        |FROM p JOIN t ON p.prev_type = t.prev_type
        |ORDER BY p.prev_type, p.next_type""".stripMargin,

    // the incremental view must be indistinguishable from the batch
    // rollup — SAME oracle, so the driver hash compares both to one SQL
    "q_revenue_monthly" -> revenueMonthlyOracle,
    "q_revenue_monthly_inc" -> revenueMonthlyOracle,

    "q_gini_revenue" ->
      """WITH rev AS (
        |  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |    AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |cust AS (
        |  SELECT c_nationkey, c_custkey, COALESCE(rev.cents, 0) AS x
        |  FROM customer LEFT JOIN rev ON c_custkey = rev.o_custkey),
        |r AS (
        |  SELECT c_nationkey, x,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |         ORDER BY x, c_custkey) AS BIGINT) AS i
        |  FROM cust),
        |g AS (
        |  SELECT c_nationkey,
        |    CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(x) AS BIGINT) AS total_cents,
        |    CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS rank_weighted
        |  FROM r GROUP BY c_nationkey)
        |SELECT c_nationkey, n_customers, total_cents,
        |  CASE WHEN total_cents = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(((CAST(2 AS HUGEINT) * rank_weighted
        |                   - CAST(n_customers + 1 AS HUGEINT) * total_cents)
        |                  * 1000000)
        |            // (CAST(n_customers AS HUGEINT) * total_cents) AS BIGINT) END
        |    AS gini_x1e6
        |FROM g ORDER BY c_nationkey""".stripMargin,

    "q_rfm_segments" -> {
      def cutsCte(metric: String): String =
        s"""${metric}_vc AS (
           |  SELECT __v, c,
           |    CAST(sum(c) OVER (ORDER BY __v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |    CAST(sum(c) OVER () AS BIGINT) AS n
           |  FROM (SELECT $metric AS __v, CAST(count(*) AS BIGINT) AS c
           |        FROM per GROUP BY $metric)),
           |${metric}_t AS (
           |  SELECT
           |${(1 to 4).map(k =>
              s"    max(CASE WHEN cum - c < ($k * n) // 5 AND ($k * n) // 5 <= cum" +
                s" THEN __v END) AS ${metric}_t$k").mkString(",\n")}
           |  FROM ${metric}_vc)""".stripMargin
      def scoreSql(metric: String): String =
        s"CAST(1 ${(1 to 4).map(k =>
          s"+ (CASE WHEN $metric > ${metric}_t$k THEN 1 ELSE 0 END)").mkString(" ")}" +
          s" AS BIGINT)"
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(max(floor(epoch(ts))) AS BIGINT) AS recency_ep,
         |    CAST(count(*) AS BIGINT) AS frequency,
         |    CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS monetary_cents
         |  FROM events GROUP BY user_id),
         |${cutsCte("recency_ep")},
         |${cutsCte("frequency")},
         |${cutsCte("monetary_cents")}
         |SELECT user_id, recency_ep, frequency, monetary_cents,
         |  ${scoreSql("recency_ep")} AS r_score,
         |  ${scoreSql("frequency")} AS f_score,
         |  ${scoreSql("monetary_cents")} AS m_score,
         |  ${scoreSql("recency_ep")} * 100 + ${scoreSql("frequency")} * 10
         |    + ${scoreSql("monetary_cents")} AS segment
         |FROM per, recency_ep_t, frequency_t, monetary_cents_t
         |ORDER BY user_id""".stripMargin
    },

    "q_markov_eval" ->
      """WITH tr AS (
        |  SELECT event_type, ts,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |t2 AS (SELECT * FROM tr WHERE next_type IS NOT NULL),
        |model AS (
        |  SELECT event_type, next_type AS predicted, n AS train_n FROM (
        |    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY count(*) DESC, next_type) AS r
        |    FROM t2 WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |    GROUP BY event_type, next_type)
        |  WHERE r = 1)
        |SELECT e.event_type, m.predicted, m.train_n,
        |  CAST(count(*) AS BIGINT) AS eval_n,
        |  CAST(count(*) FILTER (WHERE e.next_type = m.predicted) AS BIGINT) AS hits,
        |  (CAST(count(*) FILTER (WHERE e.next_type = m.predicted) AS BIGINT)
        |   * 1000000) // count(*) AS accuracy_ppm
        |FROM t2 e JOIN model m ON e.event_type = m.event_type
        |WHERE NOT e.ts < TIMESTAMP '2024-01-16 00:00:00'
        |GROUP BY e.event_type, m.predicted, m.train_n
        |ORDER BY e.event_type""".stripMargin,

    "q_rec_itemcf" ->
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM cp GROUP BY item),
        |pairs AS (SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS cij
        |          FROM cp a JOIN cp b ON a.cust = b.cust AND a.item < b.item
        |          GROUP BY a.item, b.item HAVING COUNT(*) >= 3),
        |sym AS (SELECT ia, ib, cij FROM pairs
        |        UNION ALL SELECT ib, ia, cij FROM pairs),
        |scored AS (SELECT sym.ia, sym.ib, sym.cij,
        |    CAST((CAST(sym.cij AS HUGEINT) * sym.cij * 1000000)
        |      // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS cos2_ppm
        |  FROM sym JOIN cnt ca ON sym.ia = ca.item
        |           JOIN cnt cb ON sym.ib = cb.item),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY ia
        |        ORDER BY cos2_ppm DESC, ib) AS BIGINT) AS rank FROM scored)
        |SELECT ia AS item, rank, ib AS neighbor, cij AS n_common, cos2_ppm
        |FROM r WHERE rank <= 5 ORDER BY item, rank""".stripMargin,

    "q_basket_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |s AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM li GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |             CAST(count(*) AS BIGINT) AS supp_ab
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, sa.supp AS supp_a, sb.supp AS supp_b, supp_ab,
        |  n.n_orders,
        |  (supp_ab * 1000000) // sa.supp AS conf_ab_x1e6,
        |  (n.n_orders * supp_ab * 1000000) // (sa.supp * sb.supp) AS lift_x1e6
        |FROM p
        |JOIN s sa ON p.part_a = sa.l_partkey
        |JOIN s sb ON p.part_b = sb.l_partkey
        |CROSS JOIN n
        |ORDER BY lift_x1e6 DESC, part_a, part_b""".stripMargin,

    "q_event_paths" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM o WHERE t3 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q_ts_sax_motif" ->
      """WITH ordered AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |paa AS (
        |  SELECT user_id, (rn - 1) // 4 AS seg, CAST(sum(cents) // 4 AS BIGINT) AS paa
        |  FROM ordered WHERE rn <= 16 GROUP BY user_id, (rn - 1) // 4),
        |norm AS (
        |  SELECT user_id, seg,
        |    CASE WHEN max(paa) OVER (PARTITION BY user_id) = min(paa) OVER (PARTITION BY user_id)
        |         THEN CAST(0 AS BIGINT)
        |         ELSE ((paa - min(paa) OVER (PARTITION BY user_id)) * 1000)
        |              // (max(paa) OVER (PARTITION BY user_id) - min(paa) OVER (PARTITION BY user_id))
        |    END AS norm
        |  FROM paa),
        |sax AS (
        |  SELECT user_id,
        |    CAST(sum(least(norm // 250, 3)
        |             * (CASE seg WHEN 0 THEN 1000 WHEN 1 THEN 100 WHEN 2 THEN 10 ELSE 1 END))
        |         AS BIGINT) AS sax_word,
        |    CAST(sum(CASE WHEN seg = 0 THEN norm ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN seg = 1 THEN norm ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN seg = 2 THEN norm ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN seg = 3 THEN norm ELSE 0 END) AS BIGINT) AS n3
        |  FROM norm GROUP BY user_id)
        |SELECT a.user_id AS user_a, b.user_id AS user_b, a.sax_word,
        |  abs(a.n0 - b.n0) + abs(a.n1 - b.n1) + abs(a.n2 - b.n2) + abs(a.n3 - b.n3) AS l1_dist
        |FROM sax a JOIN sax b ON a.sax_word = b.sax_word AND a.user_id < b.user_id
        |WHERE abs(a.n0 - b.n0) + abs(a.n1 - b.n1) + abs(a.n2 - b.n2) + abs(a.n3 - b.n3) <= 300
        |ORDER BY user_a, user_b""".stripMargin,

    "q_hhi_revenue" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |c AS (
        |  SELECT n.n_name AS nation, COALESCE(rev.cents, 0) AS cents
        |  FROM customer cu
        |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  LEFT JOIN rev ON cu.c_custkey = rev.o_custkey)
        |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |  CAST(CASE WHEN SUM(cents) = 0 THEN 0
        |    ELSE (SUM(CAST(cents AS HUGEINT) * cents) * 1000000)
        |         // (CAST(SUM(cents) AS HUGEINT) * SUM(cents)) END AS BIGINT)
        |    AS hhi_ppm
        |FROM c GROUP BY nation ORDER BY nation""".stripMargin,

    "q_pareto_revenue" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(cents) AS BIGINT) AS total FROM rev),
        |r AS (SELECT cents,
        |        CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS rank
        |      FROM rev),
        |d AS (SELECT ((rank - 1) * 10) // t.n AS decile,
        |        CAST(COUNT(*) AS BIGINT) AS n_customers,
        |        CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |        CAST(MAX(t.total) AS BIGINT) AS total
        |      FROM r CROSS JOIN t GROUP BY ((rank - 1) * 10) // t.n),
        |c AS (SELECT *, CAST(SUM(revenue_cents) OVER (ORDER BY decile
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |      FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers, revenue_cents,
        |  CAST((CAST(revenue_cents AS HUGEINT) * 1000000) // total AS BIGINT) AS share_ppm,
        |  CAST((CAST(cum_cents AS HUGEINT) * 1000000) // total AS BIGINT) AS cum_share_ppm
        |FROM c ORDER BY decile""".stripMargin,

    "q_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week_idx,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(week_idx) AS cm FROM ev GROUP BY user_id),
        |sizes AS (SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_users
        |          FROM cohort GROUP BY cm),
        |rev AS (
        |  SELECT c.cm, e.week_idx - c.cm AS "offset",
        |    CAST(SUM(e.cents) AS BIGINT) AS revenue_cents
        |  FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY c.cm, e.week_idx - c.cm),
        |cum AS (
        |  SELECT rev.cm, rev."offset", sizes.n_users, rev.revenue_cents,
        |    CAST(SUM(rev.revenue_cents) OVER (PARTITION BY rev.cm ORDER BY rev."offset"
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM rev JOIN sizes ON rev.cm = sizes.cm)
        |SELECT cm AS cohort_week_idx, "offset", n_users, revenue_cents,
        |  cum_cents, cum_cents // n_users AS ltv_cents_per_user
        |FROM cum ORDER BY cohort_week_idx, "offset"""".stripMargin,

    "q_forecast_mase" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, CAST(unnest(range(h0, h1 + 1)) AS BIGINT) AS hour
        |  FROM (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        |        FROM hourly GROUP BY event_type)),
        |dense AS (
        |  SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n
        |  FROM grid g LEFT JOIN hourly h
        |    ON h.event_type = g.event_type AND h.hour = g.hour),
        |scored AS (
        |  SELECT *,
        |    lag(n, 24) OVER (PARTITION BY event_type ORDER BY hour) AS prev_day,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY hour) AS prev_hour
        |  FROM dense),
        |f AS (SELECT * FROM scored WHERE prev_day IS NOT NULL
        |      AND prev_hour IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  CAST((SUM(abs(n - prev_day)) * 100) // COUNT(*) AS BIGINT)
        |    AS mae_seasonal_x100,
        |  CAST((SUM(abs(n - prev_hour)) * 100) // COUNT(*) AS BIGINT)
        |    AS mae_persist_x100,
        |  CAST(CASE WHEN SUM(abs(n - prev_hour)) = 0 THEN 0
        |    ELSE (SUM(abs(n - prev_day)) * 1000000) // SUM(abs(n - prev_hour))
        |  END AS BIGINT) AS skill_ppm
        |FROM f GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
        |  FROM events),
        |fl AS (
        |  SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |isl AS (
        |  SELECT *, CAST(SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM fl)
        |SELECT user_id, island,
        |  CAST(MIN(s) AS BIGINT) AS start_ep, CAST(MAX(e) AS BIGINT) AS end_ep,
        |  CAST(MAX(e) - MIN(s) AS BIGINT) AS span_secs,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,

    "q_ams_f2" -> {
      val sign = amsSign((x, b) => s"($x >> $b)")
      s"""WITH ev AS (SELECT user_id FROM events),
         |ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact FROM (
         |  SELECT count(*) AS cnt FROM ev GROUP BY user_id)),
         |sg AS (
         |  SELECT j, CAST(sum($sign) AS BIGINT) AS c
         |  FROM ev, range(0, 80) t(j) GROUP BY j),
         |gr AS (SELECT j // 16 AS g, CAST(sum(c * c) // 16 AS BIGINT) AS est
         |       FROM sg GROUP BY 1),
         |md AS (SELECT est AS f2_est FROM (
         |  SELECT est, row_number() OVER (ORDER BY est, g) AS rn FROM gr)
         |  WHERE rn = 3)
         |SELECT g, est, f2_est, f2_exact,
         |  (abs(f2_est - f2_exact) * 1000000) // f2_exact AS err_ppm
         |FROM gr CROSS JOIN md CROSS JOIN ex ORDER BY g""".stripMargin
    },

    "q_join_card_est" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS ca,
        |    CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS cb
        |  FROM events GROUP BY user_id),
        |exact AS (SELECT CAST(SUM(ca * cb) AS BIGINT) AS exact_size FROM pu),
        |cells AS (
        |  SELECT d, (((h1 * 16 + h2) * 16 + h3) * 16 + h4) % 64 AS bucket,
        |         SUM(ca) AS sa, SUM(cb) AS sb
        |  FROM (
        |    SELECT pu.ca, pu.cb, t.d,
        |      instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4*t.d + 1, 1)) - 1 AS h1,
        |      instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4*t.d + 2, 1)) - 1 AS h2,
        |      instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4*t.d + 3, 1)) - 1 AS h3,
        |      instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4*t.d + 4, 1)) - 1 AS h4
        |    FROM pu, (SELECT unnest(range(0, 4)) AS d) t)
        |  GROUP BY d, bucket),
        |ests AS (SELECT d, CAST(SUM(sa * sb) AS BIGINT) AS dot_est
        |         FROM cells GROUP BY d),
        |m AS (SELECT CAST(MIN(dot_est) AS BIGINT) AS est_min FROM ests)
        |SELECT CAST(ests.d AS BIGINT) AS d, ests.dot_est, exact.exact_size,
        |  m.est_min, ests.dot_est - exact.exact_size AS overcount
        |FROM ests CROSS JOIN exact CROSS JOIN m
        |ORDER BY d""".stripMargin,

    "q_skew_report" ->
      """WITH kc AS (
        |  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |stats AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |         CAST(COUNT(*) AS BIGINT) AS n_keys,
        |         CAST(MAX(cnt) AS BIGINT) AS max_cnt
        |  FROM kc),
        |dist AS (SELECT cnt, COUNT(*) AS freq FROM kc GROUP BY cnt),
        |cum AS (SELECT cnt, SUM(freq) OVER (ORDER BY cnt
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM dist),
        |pcts AS (
        |  SELECT
        |    CAST(MIN(CASE WHEN cum >= (stats.n_keys + 1) // 2 THEN cnt END)
        |      AS BIGINT) AS p50_cnt,
        |    CAST(MIN(CASE WHEN cum >= (99 * (stats.n_keys + 1)) // 100 THEN cnt END)
        |      AS BIGINT) AS p99_cnt
        |  FROM cum CROSS JOIN stats GROUP BY stats.n_keys),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS BIGINT)
        |        AS rank FROM kc)
        |SELECT r.rank, r.key, r.cnt,
        |  CAST((r.cnt * 1000000) // stats.total_rows AS BIGINT) AS share_ppm,
        |  stats.n_keys, pcts.p50_cnt, pcts.p99_cnt, stats.max_cnt
        |FROM r CROSS JOIN stats CROSS JOIN pcts
        |WHERE r.rank <= 10 ORDER BY r.rank""".stripMargin,

    "q_salted_agg" ->
      """SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(event_id) AS n,
        |  min(event_id) AS first_id,
        |  max(event_id) AS last_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the PLAIN join is the oracle: salting must be a drop-in
    "q_salted_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    "q_agg_percentiles" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = (cnt + 1) // 2 THEN l_quantity END) AS p50,
        |  max(CASE WHEN rn = (9 * cnt + 9) // 10 THEN l_quantity END) AS p90,
        |  max(CASE WHEN rn = (99 * cnt + 99) // 100 THEN l_quantity END) AS p99,
        |  CAST(max(cnt) AS BIGINT) AS n
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_join_range" ->
      """SELECT p.user_id, p.purchase_id, p.p_ep,
        |       count(CASE WHEN c.c_ep IS NOT NULL
        |                   AND c.c_ep < p.p_ep AND c.c_ep >= p.p_ep - 3600
        |                  THEN 1 END) AS clicks_prev_hour
        |FROM (SELECT user_id, event_id AS purchase_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS p_ep
        |      FROM events WHERE event_type = 'purchase') p
        |LEFT OUTER JOIN (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS c_ep
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |GROUP BY p.user_id, p.purchase_id, p.p_ep
        |ORDER BY purchase_id""".stripMargin,

    "q_explode_tokens" ->
      """SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, t.tok AS token
        |FROM documents,
        |     LATERAL (SELECT unnest(list_slice(string_split(text, ' '), 1, 3)) AS tok,
        |              generate_subscripts(list_slice(string_split(text, ' '), 1, 3), 1) AS i) t
        |ORDER BY doc_id, pos""".stripMargin,

    "q_window_tumbling" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    "q_setops" ->
      """SELECT nationkey, 'both' AS op FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS op FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |ORDER BY op, nationkey""".stripMargin
  )
}
