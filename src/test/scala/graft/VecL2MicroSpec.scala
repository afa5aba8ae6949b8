package graft

import org.apache.spark.sql.functions._

/** The native codegen'd vec_l2sq must agree exactly with the
  * interpreted higher-order-function fold (integer arithmetic —
  * associativity makes this strict equality), handle nulls, and stay
  * inside whole-stage codegen.
  */
class VecL2MicroSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val foldExpr =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  test("vec_l2sq equals the HOF fold on micro-quantized embeddings") {
    val e = Tables.embeddings(spark, sf)
      .select(expr("transform(CAST(embedding AS array<double>), " +
        "x -> CAST(floor(x * 1000000) AS BIGINT))").as("a"))
      .withColumn("b", reverse($"a"))
    val diff = e
      .withColumn("native", expr("vec_l2sq(a, b)"))
      .withColumn("fold", expr(foldExpr))
      .filter($"native" =!= $"fold")
      .count()
    assert(diff === 0)
  }

  test("vec_l2sq null and simple-value behavior") {
    val rows = spark.sql(
      """SELECT vec_l2sq(array(1L, 5L), array(4L, 3L)) AS d1,
        |       vec_l2sq(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d2""".stripMargin)
      .head()
    assert(rows.getLong(0) === 13L)
    assert(rows.isNullAt(1))
  }

  test("vec_l2sq is NULL on length mismatch and null elements (HOF parity)") {
    val r = spark.sql(
      """SELECT vec_l2sq(array(1L, 2L, 3L), array(1L, 2L)) AS mismatch,
        |       vec_l2sq(array(1L, NULL), array(1L, 2L)) AS nullElem,
        |       aggregate(zip_with(array(1L, NULL), array(1L, 2L),
        |         (x, y) -> (x - y) * (x - y)),
        |         CAST(0 AS BIGINT), (acc, x) -> acc + x) AS hofNullElem""".stripMargin)
      .head()
    assert(r.isNullAt(0), "length mismatch must be NULL, not a truncated sum")
    assert(r.isNullAt(1) && r.isNullAt(2), "null element matches the HOF fold")
  }

  test("vec_l2sq stays inside whole-stage codegen") {
    val plan = Tables.embeddings(spark, sf)
      .select(expr("transform(CAST(embedding AS array<double>), " +
        "x -> CAST(floor(x * 1000000) AS BIGINT))").as("a"))
      .select(expr("vec_l2sq(a, a)"))
      .queryExecution.executedPlan
    assert(plan.toString.contains("vec_l2sq"), plan.toString)
    assert(plan.toString.contains("WholeStageCodegen") ||
      plan.toString.contains("*("), plan.toString)
  }
}
