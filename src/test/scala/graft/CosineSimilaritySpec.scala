package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity.cosine_sim

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)),   // identical → 1
    (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),   // orthogonal → 0
    (3L, Array(1.0, 2.0, 3.0), Array(-1.0, -2.0, -3.0)), // opposite → -1
    (4L, Array(1.0, 2.0, 2.0), Array(2.0, 1.0, 2.0))    // 8/9
  )

  test("interpreted and codegen paths agree with analytic values") {
    val df = vecs.toDF("id", "a", "b")
      .select($"id", cosine_sim($"a", $"b").as("cos"))
    val got = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("cos")).toMap
    assert(math.abs(got(1L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
    assert(math.abs(got(3L) + 1.0) < 1e-12)
    assert(math.abs(got(4L) - 8.0 / 9.0) < 1e-12)
  }

  test("matches the higher-order-function formulation bit-for-bit") {
    val emb = Tables.load(spark, sf0001, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .limit(50)
    val a = emb.select($"vec_id".as("ia"), $"v".as("qv"))
    val b = emb.select($"vec_id".as("ib"), $"v".as("cv"))
    val pairs = a.crossJoin(b).filter($"ia" < $"ib")
    val hof = expr(
      "aggregate(zip_with(qv, cv, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)" +
        " / (sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v))" +
        " * sqrt(aggregate(zip_with(cv, cv, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)))")
    val diff = pairs.select(
      (cosine_sim($"qv", $"cv") - hof).as("d")).agg(max(abs($"d"))).head.getDouble(0)
    assert(diff == 0.0, s"max |native - hof| = $diff")
  }

  test("null inputs propagate null") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
      .select(cosine_sim($"a", $"b").as("cos"))
    assert(df.head.isNullAt(0))
  }

  test("registers for SQL via the shared function descriptor") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
