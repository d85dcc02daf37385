package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming IVF index maintenance (r7, VERDICT item 7) — the online
  * half of the stored-index work from r6: the inverted lists live as a
  * parquet directory PARTITIONED BY cell, a foreachBatch sink merges
  * each new-vectors micro-batch incrementally (assign against the
  * STORED centroids → append one file per touched cell), and
  * `sources.Compaction` compacts a cell's directory when micro-batches
  * accrete small files.
  *
  * Invariant (IvfIndexSpec): search-after-merge ≡ search-over-rebuilt
  * index — because merge and rebuild share ONE assignment function and
  * the index layout carries no batch lineage, an index grown by N
  * micro-batches is row-identical to one rebuilt from scratch.
  *
  * Scale shapes:
  *  - assignment is a broadcast-codebook map-side fan-out (no shuffle
  *    of the vectors beyond the one `repartition(cell)` that gives one
  *    output file per touched cell per batch — the MergeSink fan-out
  *    fix applied at index-build time);
  *  - the search plan scans ONLY inverted lists: probes join the index
  *    on the cell partition column, so Dynamic Partition Pruning skips
  *    unprobed cells at 100 TB;
  *  - compaction is per-cell-directory, so it never rewrites the
  *    whole index.
  */
object IvfIndex {

  /** Fixed-point squared L2 — same metric and op order as the k-means
    * trainer (Similarity.l2E6), so assignment agrees with the fit. */
  private def l2E6(a: String, b: String): Column =
    round(expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "0D, (acc, v) -> acc + v)") * 1e6).cast("long")

  /** Fixed-point cosine via the codegen'd Catalyst expression, with
    * the NaN guard (zero-norm vector → NULL, not an ANSI cast fail). */
  private def cosE6(a: String, b: String): Column = {
    val c = graft.functions.CosineSimilarity.cosine_sim(col(a), col(b))
    when(isnan(c), lit(null)).otherwise(round(c * 1e6).cast("long"))
  }

  /** Nearest stored centroid per vector — THE shared assignment used
    * by both [[rebuild]] and [[merge]]; equivalence of the two index
    * paths reduces to this function being deterministic (L2 argmin,
    * ties to the smallest cell id).
    *
    * `vecs`: (vec_id, nv: array<double>); `cents`: (cell, centv). */
  def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d"), col("cell"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("d", l2E6("nv", "centv"))
      .withColumn("arank", row_number().over(w))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("nv"), col("cell"))
  }

  /** Full index (re)build: assign every vector, overwrite the
    * cell-partitioned inverted lists. */
  def rebuild(vecs: DataFrame, cents: DataFrame, path: String): Unit =
    assignCells(vecs, cents)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Incremental merge of one (micro-)batch keyed by a batch id,
    * idempotent under replay: assign against the SAME stored centroids,
    * stage under `_staging/batch=<id>` and publish with
    * [[graft.sources.Publish.files]]. The published layout is identical
    * to [[rebuild]]'s, so readers, [[search]] and [[compactCell]] never
    * see batch structure. */
  def mergeBatch(batch: DataFrame, cents: DataFrame, path: String,
      batchId: Long): Unit = {
    val staging = s"$path/_staging/batch=$batchId"
    assignCells(batch, cents)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    graft.sources.Publish.files(batch.sparkSession, staging, path, batchId)
  }

  /** Attach the maintenance sink to a stream of new vectors
    * (vec_id, nv): every micro-batch merges into the index,
    * idempotently per batch id. */
  def streamingMerge(stream: DataFrame, cents: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, cents, path, batchId)
      }
      .start()

  /** Compact one cell's inverted-list directory (small files from many
    * micro-batches → ~target-sized files) with `sources.Compaction`.
    * Returns (filesBefore, filesAfter). */
  def compactCell(spark: SparkSession, path: String, cell: Long,
      targetBytes: Long = 128L << 20): (Int, Int) =
    graft.sources.Compaction.compact(spark, s"$path/cell=$cell", targetBytes)

  /** IVF search over the stored index: each query probes its `nProbe`
    * nearest centroids, pays exact cosine only inside those inverted
    * lists, returns top-`k`. The probe→index join is on the cell
    * partition column — DPP prunes unprobed cells. */
  def search(spark: SparkSession, queries: DataFrame, cents: DataFrame,
      path: String, nProbe: Int = 2, k: Int = 3): DataFrame = {
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d"), col("cell"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("d", l2E6("qv", "centv"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val index = spark.read.parquet(path)
      .select(col("vec_id").as("neighbor_id"), col("nv").as("cv"), col("cell"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_e6").desc, col("neighbor_id"))
    broadcast(probes).join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_e6", cosE6("qv", "cv"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        // partition-column inference narrows cell to int; pin BIGINT
        col("neighbor_id"), col("cell").cast("long").as("cell"), col("cos_e6"))
      .orderBy(col("query_id"), col("rank"))
  }

  // -----------------------------------------------------------------
  // driver-checked query: search over an index grown by BOTH paths
  // -----------------------------------------------------------------

  private val Dim = 64
  private val IdxCentroids = 8

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "embeddings")
      .withColumn("nv", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id"), col("nv"))

  private def centroidsOf(n: DataFrame): DataFrame =
    n.filter(col("vec_id") < IdxCentroids)
      .select(col("vec_id").as("cell"), col("nv").as("centv"))

  private val built = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build the cell-partitioned index once per (session, dir):
    * bootstrap HALF the corpus via [[rebuild]], then grow the other
    * half via [[mergeBatch]] — the exact per-batch call the
    * foreachBatch sink makes — so the driver-checked search below
    * verifies the incremental path, not just the one-shot build. */
  private def indexPath(spark: SparkSession, dir: String): String = {
    val key = spark.sparkContext.applicationId + "|ivfincr|" + dir
    built.getOrElseUpdate(key, {
      val n = vectors(spark, dir)
      val cents = centroidsOf(n)
      val p = Paths.indexDir(spark, "ivfincr|" + dir)
      rebuild(n.filter(col("vec_id") % 2 === 0), cents, p)
      mergeBatch(n.filter(col("vec_id") % 2 === 1), cents, p, batchId = 0L)
      p
    })
  }

  /** IVF top-3 (nprobe=2) over the incrementally-grown stored index —
    * same query/centroid conventions as `Similarity.qSimAnnIvf` (first
    * 8 vectors are centroids, queries are vec_id % 100 == 0) but
    * assignment is L2 argmin against the STORED codebook and the
    * search scans cell-partitioned inverted lists. */
  def qSimIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val n = vectors(spark, dir)
    val queries = n.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("nv").as("qv"))
    search(spark, queries, centroidsOf(n), indexPath(spark, dir), nProbe = 2, k = 3)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_ivf_incremental" -> qSimIvfIncremental)

  private def duckL2(a: String, b: String): String =
    s"CAST(round(list_sum(list_transform(range(1, ${Dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) * 1e6) AS BIGINT)"

  private def duckCos(a: String, b: String): String =
    (s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))" +
      s" / (sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $a[i])))" +
      s" * sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> $b[i] * $b[i]))))")

  val oracles: Map[String, String] = Map(
    "q_sim_ivf_incremental" ->
      s"""WITH n AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv FROM embeddings),
         |cent AS (SELECT vec_id AS cell, nv AS centv FROM n WHERE vec_id < $IdxCentroids),
         |asg AS (
         |  SELECT v.vec_id, v.nv, c.cell,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${duckL2("nv", "centv")}, c.cell) AS arank
         |  FROM n v CROSS JOIN cent c),
         |cells AS (SELECT vec_id, nv, cell FROM asg WHERE arank = 1),
         |pr AS (
         |  SELECT q.vec_id AS query_id, q.nv AS qv, c.cell,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${duckL2("qv", "centv")}, c.cell) AS prank
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
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |       CAST(cell AS BIGINT) AS cell, cos_e6
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  /** Session-scoped stage dir under the SessionCache root so stale-app
    * purging applies to index dirs too. */
  private object Paths {
    def indexDir(spark: SparkSession, key: String): String = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.nio.file.Paths.get("target", "graft-stage",
        spark.sparkContext.applicationId, "ivf_" + md5).toString
    }
  }
}
