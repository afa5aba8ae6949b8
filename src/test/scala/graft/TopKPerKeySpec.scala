package graft

import graft.plans.{RankMode, TopK, TopKPerKeyExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom TopKPerKey operator: value-equal to the sort-based
  * rank-window forms, physically sort-free, planned as partial →
  * exchange → final, spill-safe past the force-spill threshold, and
  * (opt-in) substituted for window+filter by the rewrite rule.
  */
class TopKPerKeySpec extends SparkSpec {

  private def events = Tables.events(spark, sf)
    .select(col("user_id"), col("event_id"), col("value"))

  /** Final physical plan with the AQE wrapper peeled off. */
  private def physical(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Collect TopKPerKeyExec nodes, descending into AQE query stages
    * (which hide their subtree from a plain `collect`).
    */
  private def topkExecs(p: SparkPlan): Seq[TopKPerKeyExec] = {
    val here = p match { case t: TopKPerKeyExec => Seq(t); case _ => Nil }
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(topkExecs)
  }

  test("TopK.perKey equals the row_number window form") {
    val got = plans.TopKQueries.topkPerUser(spark, sf).collect()
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val want = events
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("user_id"), col("event_id"), col("value"), col("rnk"))
      .orderBy(col("user_id"), col("rnk"))
      .collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
  }

  test("rank mode keeps ties and equals the rank() window form") {
    val bucketed = events.withColumn(
      "bucket", expr("CAST(FLOOR(value) AS BIGINT) DIV 10"))
    val got = TopK.perKey(bucketed, Seq("user_id"),
      Seq(("bucket", false)), 3, mode = RankMode.Rnk)
      .select(col("user_id"), col("event_id"), col("bucket"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("user_id"), col("rnk"), col("event_id")).collect()
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket").desc)
    val want = bucketed
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("user_id"), col("event_id"), col("bucket"), col("rnk"))
      .orderBy(col("user_id"), col("rnk"), col("event_id")).collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
    // Ties actually occur (otherwise this proves nothing).
    assert(got.length > got.map(r => (r.getLong(0), r.getLong(3))).distinct.length)
  }

  test("dense_rank mode equals the dense_rank() window form") {
    val bucketed = events.withColumn(
      "bucket", expr("CAST(FLOOR(value) AS BIGINT) DIV 10"))
    val got = TopK.perKey(bucketed, Seq("user_id"),
      Seq(("bucket", false)), 2, mode = RankMode.DenseRnk)
      .select(col("user_id"), col("event_id"), col("bucket"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("user_id"), col("rnk"), col("event_id")).collect()
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket").desc)
    val want = bucketed
      .withColumn("rnk", dense_rank().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .select(col("user_id"), col("event_id"), col("bucket"), col("rnk"))
      .orderBy(col("user_id"), col("rnk"), col("event_id")).collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
  }

  test("plan is a partial+final exec pair with no Sort") {
    val df = TopK.perKey(events, Seq("user_id"),
      Seq(("value", false), ("event_id", true)), 3)
    val plan = physical(df)
    val execs = topkExecs(plan)
    assert(execs.map(_.partial).sorted === Seq(false, true), plan.toString)
    assert(execs.forall(_.k == 3))
    val rendered = plan.toString
    assert(!rendered.contains("Sort "), rendered)
    assert(rendered.contains("Exchange hashpartitioning(user_id"), rendered)
  }

  test("results survive forced spilling through the external map") {
    // Force the spillable map to spill every 200 inserts: the 10k
    // event rows then exercise the disk round-trip (UnsafeRow
    // buffers through the serializer) and the merge path.
    org.apache.spark.SparkEnv.get.conf
      .set("spark.shuffle.spill.numElementsForceSpillThreshold", "200")
    try {
      val got = plans.TopKQueries.topkPerUser(spark, sf).collect()
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      val want = events
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rnk"))
        .orderBy(col("user_id"), col("rnk")).collect()
      assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
    } finally org.apache.spark.SparkEnv.get.conf
      .remove("spark.shuffle.spill.numElementsForceSpillThreshold")
  }

  test("opt-in rewrite rule substitutes window+filter top-k") {
    TopK.register(spark)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    def windowed = events
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
    // Flag off: the normal window plan, no custom exec.
    val baseline = withConf("spark.graft.topk.rewrite" -> "false") {
      assert(!windowed.queryExecution.executedPlan.toString
        .contains("TopKPerKey"))
      windowed.orderBy("user_id", "rnk").collect()
    }
    withConf("spark.graft.topk.rewrite" -> "true") {
      val rewritten = windowed
      val plan = physical(rewritten)
      val execs = topkExecs(plan)
      assert(execs.map(_.partial).sorted === Seq(false, true), plan.toString)
      assert(execs.forall(e => e.k == 2 && e.mode == RankMode.RowNum))
      // The heap operator subsumes Spark's sort-based
      // WindowGroupLimit — neither it nor any Sort may remain.
      assert(!plan.toString.contains("WindowGroupLimit"), plan.toString)
      assert(!plan.toString.contains("Sort "), plan.toString)
      assert(rewritten.orderBy("user_id", "rnk").collect()
        .map(_.toString).toSeq === baseline.map(_.toString).toSeq)
    }
  }

  test("rewrite covers rank() with tie-keeping, sort-free") {
    TopK.register(spark)
    events.withColumn("bucket", expr("CAST(FLOOR(value) AS BIGINT) DIV 10"))
      .createOrReplaceTempView("topk_rank_events")
    // The corpus window shape (tpcds q44/q47/q67 use rank()).
    def ranked = spark.sql(
      """SELECT user_id, event_id, bucket, rnk FROM (
        |  SELECT user_id, event_id, bucket,
        |    rank() OVER (PARTITION BY user_id ORDER BY bucket DESC) AS rnk
        |  FROM topk_rank_events) r
        |WHERE rnk <= 3""".stripMargin)
    val baseline = withConf("spark.graft.topk.rewrite" -> "false") {
      ranked.orderBy("user_id", "rnk", "event_id").collect()
    }
    withConf("spark.graft.topk.rewrite" -> "true") {
      val plan = physical(ranked)
      val execs = topkExecs(plan)
      assert(execs.map(_.partial).sorted === Seq(false, true), plan.toString)
      assert(execs.forall(e => e.k == 3 && e.mode == RankMode.Rnk))
      assert(!plan.toString.contains("Sort "), plan.toString)
      assert(ranked.orderBy("user_id", "rnk", "event_id").collect()
        .map(_.toString).toSeq === baseline.map(_.toString).toSeq)
    }
  }
}
