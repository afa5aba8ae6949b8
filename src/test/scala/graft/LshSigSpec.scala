package graft

import graft.Cols.dsum
import org.apache.spark.sql.functions._

/** The per-row `lsh_sig4` hyperplane signature (r17) must agree
  * bit-for-bit with the posexplode/double-groupBy form it replaced in
  * `graft.ops.Similarity` — same integer hyperplane weights, same
  * DECIMAL(38,6)-exact dot accumulation (Spark's own Cast +
  * Decimal-sum code path), same `dot >= 0` sign rule per bit.
  */
class LshSigSpec extends SparkSpec {

  test("lsh_sig4 equals the posexplode/groupBy signature on the fixture") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // The pre-r17 exploded/aggregated form, verbatim.
    val dims = e.select(col("vec_id"), posexplode(col("v")))
      .select(col("vec_id"), (col("pos") + 1).as("i"), col("col").as("val"))
    val old = dims
      .withColumn("j", explode(sequence(lit(1), lit(4))))
      .withColumn("w", expr("((1000003 * j + 7919 * i) % 2001) - 1000"))
      .groupBy(col("vec_id"), col("j"))
      .agg(dsum(col("val") * col("w")).as("dot"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dot") >= 0,
        expr("CAST(power(2, j - 1) AS BIGINT)")).otherwise(0L)).as("sig"))
    val neu = e.select(col("vec_id"), expr("lsh_sig4(v)").as("sig"))
    assert(old.count() === neu.count())
    assert(old.exceptAll(neu).count() === 0)
    assert(neu.exceptAll(old).count() === 0)
  }

  test("lsh_sig4 edge cases: null array, empty array, null elements, zeros") {
    val row = spark.sql(
      """SELECT lsh_sig4(CAST(NULL AS ARRAY<DOUBLE>)) AS n,
        |       lsh_sig4(CAST(array() AS ARRAY<DOUBLE>)) AS e,
        |       lsh_sig4(array(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))) AS an,
        |       lsh_sig4(array(CAST(0 AS DOUBLE))) AS z""".stripMargin)
      .head()
    // NULL and [] mirror "no sigs row" (every equi-join on sig drops
    // them); an all-null array had a sigs row with four NULL dots →
    // sig 0; an all-zero vector has dot 0 per plane → all bits set.
    assert(row.isNullAt(0))
    assert(row.isNullAt(1))
    assert(row.getLong(2) === 0L)
    assert(row.getLong(3) === 15L)
  }

  test("lsh_sig4 matches the exploded form on null-bearing and mixed vectors") {
    import SparkSpec.spark.implicits._
    val vecs = Seq(
      (1L, Seq[java.lang.Double](1.5, -2.25, 3.125, null)),
      (2L, Seq[java.lang.Double](-0.1, -0.2, -0.3)),
      (3L, Seq[java.lang.Double](0.007, 123456.789, -98765.4321)))
      .toDF("vec_id", "vraw")
      .select(col("vec_id"), col("vraw").cast("array<double>").as("v"))
    val dims = vecs.select(col("vec_id"), posexplode(col("v")))
      .select(col("vec_id"), (col("pos") + 1).as("i"), col("col").as("val"))
    val old = dims
      .withColumn("j", explode(sequence(lit(1), lit(4))))
      .withColumn("w", expr("((1000003 * j + 7919 * i) % 2001) - 1000"))
      .groupBy(col("vec_id"), col("j"))
      .agg(dsum(col("val") * col("w")).as("dot"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dot") >= 0,
        expr("CAST(power(2, j - 1) AS BIGINT)")).otherwise(0L)).as("sig"))
    val neu = vecs.select(col("vec_id"), expr("lsh_sig4(v)").as("sig"))
    assert(old.exceptAll(neu).count() === 0)
    assert(neu.exceptAll(old).count() === 0)
  }
}
