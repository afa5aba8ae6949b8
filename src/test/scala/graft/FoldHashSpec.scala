package graft

import org.apache.spark.sql.functions._

/** The native codegen'd fold_hash must agree bit-for-bit with the
  * interpreted HOF character fold it replaced in the signature
  * operators (same fold order, same modular arithmetic).
  */
class FoldHashSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def hofExpr(mult: Long, add: Long, mod: Long) =
    s"aggregate(transform(split(w, ''), c -> CAST(ascii(c) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (a, b) -> (a * $mult + b + $add) % $mod)"

  test("fold_hash equals the HOF fold on every fixture word, all parameterizations") {
    val words = Tables.documents(spark, sf)
      .select(explode(expr("array_distinct(split(text, ' '))")).as("w"))
    val params = Seq((31L, 0L, 1000000007L), (31L, 0L, 4294967291L),
      (37L, 17L, 4294967279L))
    params.foreach { case (m, a, p) =>
      val diff = words
        .withColumn("native", expr(s"fold_hash(w, $m, $a, $p)"))
        .withColumn("fold", expr(hofExpr(m, a, p)))
        .filter($"native" =!= $"fold")
        .count()
      assert(diff === 0, s"divergence for ($m, $a, $p)")
    }
  }

  test("fold_hash null/empty behavior") {
    val row = spark.sql(
      """SELECT fold_hash('', 31, 0, 1000000007) AS empty,
        |       fold_hash(CAST(NULL AS STRING), 31, 0, 1000000007) AS nul,
        |       fold_hash('ab', 31, 0, 1000000007) AS ab""".stripMargin).head()
    assert(row.getLong(0) === 0L)
    assert(row.isNullAt(1))
    assert(row.getLong(2) === 97L * 31 + 98) // 'a'*31 + 'b'
  }

  test("fold_hash stays inside whole-stage codegen") {
    val plan = Tables.documents(spark, sf)
      .select(expr("fold_hash(text, 31, 0, 1000000007)"))
      .queryExecution.executedPlan
    assert(plan.toString.contains("*(1) Project [fold_hash"), plan.toString)
  }
}
