package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's read-only parquet tables (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and resolve tables
  * through here, so the same code runs at sf0.001 (smoke), sf0.01
  * (duckdb-oracle correctness) and sf0.1+ (bench). At cluster scale the
  * same call sites would point at a partitioned table root instead of a
  * single file — nothing else changes because all plans are declarative.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fact tables served through a once-per-(session, dir) multi-file
    * relayout. The driver corpora ship as ONE parquet file with ONE
    * row group per table, so every scan is a single task and all
    * pre-shuffle per-row work (synthesis, tokenization, explodes,
    * quantization) runs single-threaded — measured 12-14% CPU across
    * the bench's query leg on 32 cores. Parquet can only split at row-
    * group boundaries, so no split-size config can parallelize these
    * scans; re-laying a fact table out once per session as
    * defaultParallelism files is the honest fix (at 100 TB the same
    * tables arrive as thousands of files and every scan is wide — the
    * single-file shape is a small-scale artifact, guide §6).
    *
    * DOSAGE (r16, measured): only lineitem and documents carry enough
    * per-row scan-side work (600k-row decimal decode / long-text
    * tokenization) to pay for the wide scan — the r15 all-five spread
    * taxed every consumer of the other three ~0.1-0.5 s of per-task
    * and per-file overhead per query with NO heavy consumer winning.
    * Back-to-back subset A/B (same 23 cells, 32 cores, sf0.1):
    * spread-all-5 55.4 s vs spread-these-2 44.3 s, with every
    * orders/events/embeddings consumer faster unspread (pca_power
    * 5.14→3.45, ab_bootstrap 3.49→2.48, rfm 3.23→2.00, active_users
    * 1.92→1.27) and the two real wins retained (rollhash 0.9 vs 3.3
    * unspread, dup_chars 3.8 vs 7.3, q1_agg 1.17 vs 2.14). Dimension
    * tables likewise stay single-file: 32-way tiny-file scans would
    * ADD per-file open cost to every join for no map-side work worth
    * spreading. */
  private val SpreadTables =
    Set("lineitem", "documents")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val files = spark.sparkContext.defaultParallelism
    if (SpreadTables(name) && files > 1)
      SessionCache.checkpointed(spark, s"tables.spread|$dir|$name|$files")(
        loadRaw(spark, dir, name).repartition(files))
    else loadRaw(spark, dir, name)
  }

  /** The driver file as shipped, without the relayout. */
  private[graft] def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped in two driver generations: parquet
      // TIMESTAMP(NANOS) — which Spark refuses to read natively
      // (PARQUET_TYPE_ILLEGAL), so it arrives as a raw long under
      // nanosAsLong and is integer-divided to micros (identical to
      // DuckDB's own ns→µs truncation) — and plain TIMESTAMP_MICROS,
      // which arrives as TIMESTAMP_NTZ and only needs the cast to the
      // session-tz (UTC) TimestampType every downstream query expects.
      // Both paths yield the same µs instants, bit-exact vs the oracle.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
        case _ =>
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType)
      }
      raw.withColumn("ts", ts)
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }

  // Weak keys on the session OBJECT: a GC'd session can never collide
  // with a live one (an identityHashCode string key could, within one
  // live app), and entries die with their session.
  private val registeredDir =
    new java.util.WeakHashMap[SparkSession, String]()

  /** Register every table as a temp view for spark.sql(...) surfaces.
    * Skipped when this SESSION's views already point at `dir` (each
    * registration re-reads ten parquet footers on the driver, which
    * the SQL-surface queries would otherwise pay repeatedly); a dir
    * CHANGE re-registers. Weak-keyed by the session object itself —
    * temp views are session-scoped so a `newSession()` registers its
    * own, and a collected session's entry vanishes with it (no hash
    * collision can suppress registration). The memo is only written
    * AFTER registration succeeds: a failed registration stays
    * retryable instead of wedging the session.
    *
    * Contract: the driver corpora under `dir` are IMMUTABLE. If a dir
    * were rewritten in place, the memoized views' file listings would
    * go stale — re-register via a fresh session (or drop the memo)
    * after any such mutation. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    registeredDir.synchronized {
      if (registeredDir.get(spark) != dir) {
        names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
        registeredDir.put(spark, dir)
        ()
      }
    }
}
