package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Bucketed co-located execution: the join and the per-key aggregate
  * over `bucketBy(8, orderkey)` tables must plan WITHOUT any
  * ShuffleExchange — the bucket layout already satisfies the
  * join/agg distribution. Broadcast is disabled inside the spec so
  * the join cannot sidestep the claim at fixture scale.
  */
class BucketedSpec extends SparkSpec {

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect { case e: ShuffleExchangeExec => e }

  test("bucketed lineitem⋈orders joins with zero Exchange") {
    queries.Bucketed.register(spark, sf)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("tpch_b.lineitem")
        .join(spark.table("tpch_b.orders"),
          col("l_orderkey") === col("o_orderkey"))
      assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
        joined.queryExecution.executedPlan.toString)
    }
  }

  test("per-order aggregate on the bucket key plans shuffle-free") {
    queries.Bucketed.register(spark, sf)
    val agg = spark.table("tpch_b.lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
    assert(shuffles(agg.queryExecution.executedPlan).isEmpty,
      agg.queryExecution.executedPlan.toString)
  }

  test("bucketed results equal plain-scan results") {
    queries.Bucketed.register(spark, sf)
    val bucketed = queries.Bucketed.bucketedJoin(spark, sf).collect()
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        Cols.dsum(Cols.revenue(col("l_extendedprice"), col("l_discount")))
          .as("rev"))
      .orderBy(col("o_orderstatus"))
      .collect()
    assert(bucketed.toSeq === plain.toSeq)
  }
}
