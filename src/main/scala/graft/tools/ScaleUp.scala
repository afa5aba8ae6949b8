package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a K×-scaled fixture from an existing one, for
  * SCALING measurement only (VERDICT r16 #3 — at sf0.1 every query is
  * sub-3-seconds and scheduling-bound, so 8-vs-32-core ratios cannot
  * evidence parallelism; a 10× fixture gives the probe something to
  * chew on). Never used for correctness: the oracle runs on the
  * driver's own fixtures.
  *
  * Construction: each table is unioned K times with replica index r;
  * every primary/foreign key domain is shifted by `r * (max(key)+1)`
  * CONSISTENTLY across tables, so joins behave like a corpus with K×
  * the entities (orders↔lineitem, part/supplier/customer FKs, doc and
  * vector ids). Dates are kept, so time-filtered scans grow K× rows
  * per date — the warehouse-growth shape. Document text gets a
  * per-replica word prefix for r>0 (every word distinct across
  * replicas): token/chunk/bigram domains scale K× and the NEAR-DUP
  * RATE stays constant instead of every doc gaining K−1 exact copies
  * (which would square the dedup candidate volume and measure an
  * artifact, not scaling). Embedding element 0 is nudged by r·1e-6
  * for the same reason (cosine near-dups don't explode); labels and
  * the vec_id<8 k-means seeds keep their semantics.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <k>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = args(2).toInt
    val spark = graft.GraftSession.local()

    def load(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L

    // One offset per key DOMAIN (not per table), so foreign keys stay
    // consistent across the replicas.
    val orderOff = maxOf(load("orders"), "o_orderkey")
    val partOff = maxOf(load("part"), "p_partkey")
    val suppOff = maxOf(load("supplier"), "s_suppkey")
    val custOff = maxOf(load("customer"), "c_custkey")
    val docOff = maxOf(load("documents"), "doc_id")
    val vecOff = maxOf(load("embeddings"), "vec_id")
    val evOff = maxOf(load("events"), "event_id")
    val userOff = maxOf(load("events"), "user_id")

    val reps = spark.range(0, k).toDF("r")

    def shift(c: String, off: Long) =
      (col(c) + col("r") * off).as(c)

    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] wrote $t")
    }

    write("nation", load("nation"))
    write("region", load("region"))
    write("lineitem", load("lineitem").crossJoin(reps).select(
      shift("l_orderkey", orderOff), shift("l_partkey", partOff),
      shift("l_suppkey", suppOff), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    write("orders", load("orders").crossJoin(reps).select(
      shift("o_orderkey", orderOff), shift("o_custkey", custOff),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    write("customer", load("customer").crossJoin(reps).select(
      shift("c_custkey", custOff), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))
    write("part", load("part").crossJoin(reps).select(
      shift("p_partkey", partOff), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))
    write("supplier", load("supplier").crossJoin(reps).select(
      shift("s_suppkey", suppOff), col("s_name"), col("s_nationkey"),
      col("s_acctbal")))
    write("documents", load("documents").crossJoin(reps)
      .withColumn("text2", when(col("r") === 0, col("text")).otherwise(
        expr("concat_ws(' ', transform(split(text, ' '), " +
          "w -> concat('z', CAST(r AS STRING), w)))")))
      .select(shift("doc_id", docOff), col("text2").as("text"), col("lang"),
        col("source"), length(col("text2")).cast("long").as("n_chars")))
    write("embeddings", load("embeddings").crossJoin(reps).select(
      shift("vec_id", vecOff),
      expr("transform(embedding, (x, i) -> " +
        "IF(i = 0, CAST(x + r * CAST(1e-6 AS DOUBLE) AS FLOAT), x))")
        .as("embedding"),
      col("label")))
    write("events", load("events").crossJoin(reps).select(
      shift("event_id", evOff), col("ts"), shift("user_id", userOff),
      col("event_type"), col("value"), col("props")))
    spark.stop()
  }
}
