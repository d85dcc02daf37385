package graft

import org.apache.spark.sql.functions._

import graft.functions.SortedIntersectCount.sorted_intersect_count

class SortedIntersectCountSpec extends SparkSpec {
  import spark.implicits._

  test("merge count matches analytic values on hand cases") {
    val rows = Seq(
      (1L, Array(1L, 3L, 5L), Array(1L, 3L, 5L), 3L),      // identical
      (2L, Array(1L, 2L, 3L), Array(4L, 5L, 6L), 0L),      // disjoint
      (3L, Array(-5L, 0L, 7L, 9L), Array(0L, 9L, 11L), 2L), // partial, negatives
      (4L, Array.empty[Long], Array(1L, 2L), 0L)            // empty side
    )
    val got = rows.toDF("id", "a", "b", "expect")
      .select($"id", sorted_intersect_count($"a", $"b").as("c"), $"expect")
      .collect()
    got.foreach(r => assert(r.getAs[Long]("c") == r.getAs[Long]("expect"), r))
  }

  test("registers as a SQL function alongside cosine_sim") {
    val n = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS c")
      .head.getLong(0)
    assert(n == 2L)
  }

  test("agrees with array_intersect on sorted hashed shingles of real docs") {
    val d = Tables.load(spark, sf0001, "documents")
      .withColumn("toks", split($"text", " "))
      .withColumn("sh", array_distinct(expr(
        "CASE WHEN size(toks) < 3 THEN CAST(array() AS array<string>) " +
          "ELSE transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2))) END")))
      .withColumn("shs", array_sort(expr("transform(sh, s -> xxhash64(s))")))
      .limit(40)
    val a = d.select($"doc_id".as("ia"), $"shs".as("sa"))
    val b = d.select($"doc_id".as("ib"), $"shs".as("sb"))
    val diff = a.crossJoin(b).filter($"ia" < $"ib")
      .select((sorted_intersect_count($"sa", $"sb") -
        size(array_intersect($"sa", $"sb")).cast("long")).as("d"))
      .agg(max(abs($"d"))).head.getLong(0)
    assert(diff == 0L)
  }
}
