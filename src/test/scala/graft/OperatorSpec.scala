package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-family unit tests on tiny exact-expectation frames
  * (SURVEY.md §5 item 3).
  */
class OperatorSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("null-aware NOT IN differs from left_anti when subquery has NULL") {
    val l = Seq(Some(1), Some(2), None).toDF("x")
    val r = Seq(Some(2), None).toDF("y")
    l.createOrReplaceTempView("naL")
    r.createOrReplaceTempView("naR")
    // NOT IN over a set containing NULL is empty (three-valued logic)…
    val notIn = spark.sql("SELECT x FROM naL WHERE x NOT IN (SELECT y FROM naR)")
    assert(notIn.count() === 0)
    // …while left_anti keeps non-matching rows.
    val anti = l.join(r, l("x") === r("y"), "left_anti")
    assert(anti.count() === 2)
  }

  test("rollup emits groups + per-prefix subtotals + grand total") {
    val df = Seq(("a", "x", 1), ("a", "y", 2), ("b", "x", 3)).toDF("g1", "g2", "v")
    val out = df.rollup("g1", "g2").agg(sum("v")).collect()
    // 3 leaf groups + 2 g1 subtotals + 1 grand total
    assert(out.length === 6)
    val grand = df.rollup("g1", "g2").agg(sum($"v").as("s"))
      .where($"g1".isNull && $"g2".isNull).select("s").as[Long].head()
    assert(grand === 6L)
  }

  test("grouping() marks subtotal rows after rollup") {
    val df = Seq(("a", 1), ("b", 2)).toDF("g", "v")
    val out = df.rollup("g").agg(sum("v").as("s"), grouping("g").as("gflag"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.get(2).toString.toInt)).toSet
    assert(out === Set((Some("a"), 1L, 0), (Some("b"), 2L, 0), (None, 3L, 1)))
  }

  test("intersect and except use distinct-set semantics") {
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(1, 3, 3, 4).toDF("x")
    assert(a.intersect(b).as[Int].collect().sorted === Array(1, 3))
    assert(a.except(b).as[Int].collect().sorted === Array(2))
    assert(a.union(b).distinct().as[Int].collect().sorted === Array(1, 2, 3, 4))
  }

  test("running-total ROWS frame accumulates in order") {
    val df = Seq((1, 10.0), (2, 20.0), (3, 5.0)).toDF("k", "v")
    val w = Window.orderBy($"k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = df.withColumn("c", sum($"v").over(w)).orderBy($"k")
      .select($"c").as[Double].collect()
    assert(cums === Array(10.0, 30.0, 35.0))
  }

  test("rank assigns equal ranks to ties with gaps") {
    val df = Seq(("a", 3), ("b", 3), ("c", 1)).toDF("k", "v")
    val r = df.withColumn("r", rank().over(Window.orderBy($"v".desc)))
      .select($"k", $"r").as[(String, Int)].collect().toMap
    assert(r === Map("a" -> 1, "b" -> 1, "c" -> 3))
  }

  test("date interval arithmetic matches day addition") {
    val df = Seq("1998-12-01").toDF("d")
      .select(to_date($"d").as("d"))
      .select(date_sub($"d", 90).as("minus"), expr("d - INTERVAL '90' DAY").as("ival"))
    val row = df.head()
    assert(row.getDate(0).toString === "1998-09-02")
    assert(row.get(1).toString.startsWith("1998-09-02"))
  }

  test("left semi/anti joins partition matched vs unmatched exactly") {
    val l = Seq(1, 2, 3, 4).toDF("x")
    val r = Seq(2, 4, 4).toDF("y")
    val semi = l.join(r, l("x") === r("y"), "left_semi").as[Int].collect().sorted
    val anti = l.join(r, l("x") === r("y"), "left_anti").as[Int].collect().sorted
    assert(semi === Array(2, 4))
    assert(anti === Array(1, 3))
    assert(semi.length + anti.length === 4)
  }

  test("stddev expanded form agrees with stddev_samp") {
    val li = Tables.lineitem(spark, sf)
    val row = li.agg(
      stddev_samp($"l_quantity").as("builtin"),
      count(lit(1)).as("n"),
      sum($"l_quantity").as("sx"),
      sum($"l_quantity" * $"l_quantity").as("sxx")).head()
    val (builtin, n, sx, sxx) =
      (row.getDouble(0), row.getLong(1), row.getDouble(2), row.getDouble(3))
    val expanded = math.sqrt((sxx - sx * sx / n) / (n - 1))
    assert(math.abs(builtin - expanded) / builtin < 1e-9)
  }

  test("broadcast hint produces a broadcast join for small dims") {
    val plan = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)), $"o_custkey" === $"c_custkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("filter + projection push into the parquet scan") {
    val q = Tables.lineitem(spark, sf)
      .filter($"l_quantity" > 45.0)
      .select($"l_orderkey", $"l_quantity")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"scan was: $scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan was: $scan")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    // The 100 TB pattern for repeated big-fact joins: bucket both
    // sides on the join key so the sort-merge join reads co-located
    // buckets with NO Exchange (SURVEY §7 "pre-partitioning").
    val wh = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bkt LOCATION '$wh'")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("bkt.lineitem_b")
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("bkt.orders_b")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bkt.lineitem_b")
        .join(spark.table("bkt.orders_b"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      val plan = joined.queryExecution.executedPlan.toString
      // The tree prints top-down, so the join's INPUTS are everything
      // after the join operator's line: that section must hold no
      // Exchange (the groupBy's exchange sits above the join).
      val joinIdx = plan.indexOf("SortMergeJoin") max plan.indexOf("ShuffledHashJoin")
      assert(joinIdx >= 0, plan)
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"join inputs were shuffled despite bucketing: $plan")
      val totalRows = joined.agg(sum($"count")).as[Long].head()
      assert(totalRows === Tables.lineitem(spark, sf).count())
    }
  }

  test("dynamic partition pruning fires on a date-partitioned fact") {
    // The reference ships partitioned_runner.sh solely to exercise
    // partition pruning. The 100 TB pattern: facts partitioned by
    // their date key, dimension filters reach the fact scan at
    // RUNTIME through DPP — the fact side never lists, opens, or
    // reads partitions outside the dim's selected dates.
    val root = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString
    val ev = Tables.events(spark, sf)
      .withColumn("event_date", to_date($"ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(root)
    val fact = spark.read.parquet(root)
    // Tiny date dimension; the filter selects 7 of ~30 days.
    val dim = ev.select($"event_date").distinct()
      .withColumn("dow", dayofweek($"event_date"))
    val q = fact.join(dim.filter($"dow" === 2), Seq("event_date"))
      .groupBy($"event_date").agg(count(lit(1)).as("cnt"))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains(root)).getOrElse("")
    assert(scan.contains("dynamicpruning"),
      s"no DPP filter on the partitioned fact scan: $scan")
    // Value check vs the unpartitioned plan.
    val want = ev.withColumn("dow", dayofweek($"event_date"))
      .filter($"dow" === 2)
      .groupBy($"event_date").agg(count(lit(1)).as("cnt"))
      .collect().map(_.toString).sorted.toSeq
    assert(q.collect().map(_.toString).sorted.toSeq === want)
  }
}
