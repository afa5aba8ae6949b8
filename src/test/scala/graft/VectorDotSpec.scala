package graft

import org.apache.spark.sql.functions._

/** The native codegen'd vec_dot must agree bit-for-bit with the
  * interpreted higher-order-function fold (same index-ordered
  * summation) and handle nulls.
  */
class VectorDotSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val foldExpr =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"

  test("vec_dot equals the HOF fold on real embeddings") {
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("a"))
      .withColumn("b", reverse($"a"))
    val diff = e
      .withColumn("native", expr("vec_dot(a, b)"))
      .withColumn("fold", expr(foldExpr))
      .filter($"native" =!= $"fold")
      .count()
    assert(diff === 0)
  }

  test("vec_dot null and simple-value behavior") {
    val rows = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d1,
        |       vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d2""".stripMargin)
      .head()
    assert(rows.getDouble(0) === 11.0)
    assert(rows.isNullAt(1))
  }

  test("vec_dot is NULL on length mismatch and null elements (HOF parity)") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d)) AS mismatch,
        |       vec_dot(array(1.0d, NULL), array(1.0d, 2.0d)) AS nullElem""".stripMargin)
      .head()
    assert(r.isNullAt(0), "length mismatch must be NULL, not a truncated sum")
    assert(r.isNullAt(1), "null element matches the HOF fold")
  }

  test("vec_dot stays inside whole-stage codegen") {
    val plan = Tables.embeddings(spark, sf)
      .select(expr("vec_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>))"))
      .queryExecution.executedPlan
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.toString.contains("*(1) Project [vec_dot"), plan.toString)
  }
}
