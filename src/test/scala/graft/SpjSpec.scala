package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.SnapStore

/** Storage-partitioned joins (SPARK-37377 — the Iceberg SPJ face):
  * when `spark.sql.sources.v2.bucketing.enabled` is on and a snap
  * table's layout proves every file single-valued on an identity
  * partition column, the native scan reports KeyGroupedPartitioning
  * and key-tagged partitions, and Spark aligns the key groups — a
  * join of two co-partitioned tables and a GROUP BY on the partition
  * column then run with ZERO shuffle exchanges. At 100 TB that is
  * the fact-fact join without shuffling either fact table.
  */
class SpjSpec extends SparkSpec {

  /** Exchange count in the FINAL physical plan — materialize, then
    * the SHARED AQE-unwrapping walker the registry entries also gate
    * on ([[graft.plans.PlanShape.exchangeCount]]; ADVICE r10: one
    * definition of "no shuffle" for both the bench entries and this
    * spec).
    */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    graft.plans.PlanShape.exchangeCount(df.queryExecution.executedPlan)
  }

  /** Per-value appends guarantee every data file holds exactly one
    * partition value — the layout the eligibility proof requires.
    */
  private def build(t: java.nio.file.Path, rows: DataFrame): Unit = {
    SnapStore.create(spark, t, rows.filter(col("part") === 0L), "part")
    (1L to 3L).foreach(p =>
      SnapStore.append(spark, t, rows.filter(col("part") === p), "part"))
  }

  test("co-partitioned snap tables join and aggregate with ZERO " +
    "shuffles under v2 bucketing; results match the shuffled plan") {
    val dir = Files.createTempDirectory("graft-spj")
    dir.toFile.deleteOnExit()
    val left = spark.range(0, 400).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 3).as("x"))
    val right = spark.range(0, 120).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") + 7).as("y"))
    build(dir.resolve("ta"), left)
    build(dir.resolve("tb"), right)
    spark.conf.set("spark.graft.catalog.dir.spjspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

    val joinSql =
      """SELECT a.part, COUNT(*) AS n, SUM(a.x + b.y) AS s
        |FROM graft.spjspec.ta a JOIN graft.spjspec.tb b ON a.part = b.part
        |GROUP BY a.part ORDER BY a.part""".stripMargin
    // Baseline: conf off → normal shuffled plan; its result is the
    // correctness oracle for the shuffle-free one.
    val expected = spark.sql(joinSql).collect().toSeq
    assert(expected.map(_.getLong(1)).sum == 400L * 30L)

    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // Force a non-broadcast join so "no shuffle" is a real claim.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      val got = j.collect().toSeq
      assert(got == expected, "SPJ result must equal the shuffled plan's")
      // The join itself runs shuffle-free: the ONLY exchange allowed
      // is the final single-partition ORDER BY collect.
      val plan = j.queryExecution.executedPlan.toString()
      val exch = shuffles(j)
      assert(exch <= 1, s"expected at most the ORDER BY exchange:\n$plan")
      assert(plan.contains("KeyGroupedPartitioning") ||
        !plan.contains("hashpartitioning"),
        s"join must consume the reported key grouping:\n$plan")

      // GROUP BY on the partition column: zero shuffles before the
      // final ordering.
      val g = spark.sql("SELECT part, COUNT(*) AS n FROM " +
        "graft.spjspec.ta GROUP BY part")
      assert(shuffles(g) == 0,
        s"partition-column agg must be shuffle-free:\n" +
          g.queryExecution.executedPlan)
      assert(g.collect().map(_.getLong(1)).sum == 400L)

      // The PROGRAMMATIC native route (SnapReadSource — the explicit
      // opt-in; SnapStore.read keeps the file-source relation for its
      // `_metadata` columns) reports the same key grouping.
      val v = SnapStore.currentManifest(dir.resolve("ta")).version
      val pg = spark.read.format("graft.sources.SnapReadSource")
        .option("dir", dir.resolve("ta").toString)
        .option("version", v.toString)
        .load()
        .groupBy(col("part")).count()
      assert(shuffles(pg) == 0,
        s"programmatic partition-column agg must be shuffle-free:\n" +
          pg.queryExecution.executedPlan)
      assert(pg.collect().map(_.getLong(1)).sum == 400L)
    }
  }

  test("ineligible layouts degrade safely: multi-valued files report " +
    "unknown partitioning, plans shuffle, results stay correct") {
    val dir = Files.createTempDirectory("graft-spj-ineligible")
    dir.toFile.deleteOnExit()
    val rows = spark.range(0, 400).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 3).as("x"))
    // One range-clustered create over few files: files SPAN partition
    // values (partMin != partMax), so the eligibility proof fails.
    SnapStore.create(spark, dir.resolve("tm"), rows, "part", numFiles = 2)
    spark.conf.set("spark.graft.catalog.dir.spjbad", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // The eligibility proof must refuse: at least one file spans
      // two partition values, so keyed planning would mis-group.
      val m = SnapStore.currentManifest(dir.resolve("tm"))
      assert(m.files.exists(f => f.partMin != f.partMax),
        "fixture must actually produce a multi-valued file")
      assert(graft.sources.SnapSpj.eligibleKey(spark, m).isEmpty,
        "a multi-valued layout must NOT claim key grouping")
      val g = spark.sql("SELECT part, COUNT(*) AS n FROM " +
        "graft.spjbad.tm GROUP BY part ORDER BY part")
      assert(g.collect().map(_.getLong(1)).toSeq ==
        Seq(100L, 100L, 100L, 100L))
      assert(!g.queryExecution.executedPlan.toString()
        .contains("KeyGroupedPartitioning"),
        "no key grouping may surface in the plan")
    }
  }

  test("BUCKETED storage-partitioned join: tables partitioned by " +
    "bucket(4,id) join on id with no scan-side shuffle (the catalog's " +
    "FunctionCatalog resolves the transform)") {
    val dir = Files.createTempDirectory("graft-spj-bucket")
    dir.toFile.deleteOnExit()
    def bucketed(rows: org.apache.spark.sql.DataFrame, t: java.nio.file.Path)
        : Unit = {
      // Per-bucket writes guarantee single-valued files on the
      // TRANSFORMED value (bounds store the bucket number).
      val b = pmod(hash(col("id")), lit(4))
      SnapStore.create(spark, t, rows.filter(b === 0), "bucket(4,id)")
      (1 to 3).foreach(k =>
        SnapStore.append(spark, t, rows.filter(b === k), "bucket(4,id)"))
    }
    bucketed(spark.range(0, 400).select(col("id"), (col("id") * 3).as("x")),
      dir.resolve("ba"))
    bucketed(spark.range(0, 120).select(col("id"), (col("id") + 7).as("y")),
      dir.resolve("bb"))
    spark.conf.set("spark.graft.catalog.dir.spjbkt", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val joinSql =
      """SELECT COUNT(*) AS n, SUM(a.x + b.y) AS s
        |FROM graft.spjbkt.ba a JOIN graft.spjbkt.bb b ON a.id = b.id""".stripMargin
    val expected = spark.sql(joinSql).collect().toSeq
    assert(expected.head.getLong(0) == 120L)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      assert(j.collect().toSeq == expected)
      // The join consumes both sides' bucket(4,id) key grouping: the
      // only exchange left is the global COUNT's single-partition one.
      assert(shuffles(j) <= 1,
        s"bucketed SPJ must not shuffle either fact side:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("DATE-transform storage-partitioned join: days(d)-partitioned " +
    "tables join on the DATE column with no scan-side shuffle") {
    val dir = Files.createTempDirectory("graft-spj-days")
    dir.toFile.deleteOnExit()
    def daily(rows: org.apache.spark.sql.DataFrame, t: java.nio.file.Path)
        : Unit = {
      // One commit per day: files single-valued on the transform
      // output (epoch-day ints in the bounds).
      SnapStore.create(spark, t,
        rows.filter(col("d") === lit("2024-03-01").cast("date")), "days(d)")
      Seq("2024-03-02", "2024-03-03", "2024-03-04").foreach(day =>
        SnapStore.append(spark, t,
          rows.filter(col("d") === lit(day).cast("date")), "days(d)"))
    }
    val left = spark.range(0, 400).select(col("id"),
      expr("date_add(DATE'2024-03-01', CAST(id % 4 AS INT))").as("d"),
      (col("id") * 3).as("x"))
    val right = spark.range(0, 120).select(col("id"),
      expr("date_add(DATE'2024-03-01', CAST(id % 4 AS INT))").as("d"),
      (col("id") + 7).as("y"))
    daily(left, dir.resolve("da"))
    daily(right, dir.resolve("db"))
    spark.conf.set("spark.graft.catalog.dir.spjdays", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val joinSql =
      """SELECT a.d, COUNT(*) AS n
        |FROM graft.spjdays.da a JOIN graft.spjdays.db b ON a.d = b.d
        |GROUP BY a.d ORDER BY a.d""".stripMargin
    val expected = spark.sql(joinSql).collect().toSeq
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      assert(j.collect().toSeq == expected)
      assert(shuffles(j) <= 1,
        s"days-partitioned SPJ must not shuffle the fact sides:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("runtime V2 filtering prunes whole files by manifest bounds on " +
    "the native read scan (dynamic partition pruning, Iceberg-style)") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft-dpp")
    dir.toFile.deleteOnExit()
    val rows = spark.range(0, 400).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 3).as("x"))
    val t = dir.resolve("td")
    build(t, rows)
    val m = graft.sources.SnapStore.currentManifest(t)
    val brt = new graft.sources.BridgedReadTable("dpp-test", t, m)
    val scan = brt.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val before = scan.toBatch.planInputPartitions().length
    assert(before >= 4, s"per-value layout must plan >=4 partitions, " +
      s"got $before")
    // The runtime filter a dimension join would push: part IN (1).
    scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("IN", Array(Expressions.column("part"),
        Expressions.literal(1L)))))
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before,
      s"runtime IN-filter must drop whole files: $before -> $after")
    // The surviving partitions still read correctly through the
    // factory Spark cached BEFORE the filter (re-planning contract).
    val factory = scan.toBatch.createReaderFactory()
    var n = 0L
    scan.toBatch.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      while (r.next()) {
        assert(r.get().getLong(1) == 1L, "only part=1 rows may survive")
        n += 1
      }
      r.close()
    }
    assert(n == 100L, s"part=1 holds 100 rows, read $n")
  }

  test("SPJ survives merge-on-read debt: a pending equality delete " +
    "keeps the key grouping and the shuffle-free join stays correct") {
    val dir = Files.createTempDirectory("graft-spj-mor")
    dir.toFile.deleteOnExit()
    val left = spark.range(0, 400).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 3).as("x"))
    val right = spark.range(0, 120).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") + 7).as("y"))
    build(dir.resolve("ta"), left)
    build(dir.resolve("tb"), right)
    // MOR equality delete on the left: deletes only remove rows, so
    // each file (and each keyed partition) still holds one value.
    SnapStore.deleteEquality(spark,
      dir.resolve("ta"), spark.range(0, 40).select(col("id")), "id")
    spark.conf.set("spark.graft.catalog.dir.spjmor", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val joinSql =
      """SELECT a.part, COUNT(*) AS n
        |FROM graft.spjmor.ta a JOIN graft.spjmor.tb b ON a.part = b.part
        |GROUP BY a.part ORDER BY a.part""".stripMargin
    val expected = spark.sql(joinSql).collect().toSeq
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      assert(j.collect().toSeq == expected)
      assert(shuffles(j) <= 1,
        s"MOR debt must not reintroduce the join shuffle:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("a mid-session v2-bucketing conf flip takes effect WITHOUT " +
    "clearCache: the route is layout-decided, the conf is consulted " +
    "at scan build") {
    val dir = Files.createTempDirectory("graft-spjflip")
    dir.toFile.deleteOnExit()
    val rows = spark.range(0, 200).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 3).as("x"))
    build(dir.resolve("tf"), rows)
    spark.conf.set("spark.graft.catalog.dir.spjflip", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val aggSql = "SELECT part, COUNT(*) AS n FROM graft.spjflip.tf GROUP BY part"
    // Small maxPartitionBytes so the tiny files don't pack into ONE
    // scan partition (a single-partition scan needs no agg shuffle
    // conf-off either, which would make the flip assertions vacuous).
    // The bucketing conf is set EXPLICITLY both ways: Spark 4 defaults
    // it to true, so "unset" is not "off".
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.sources.v2.bucketing.enabled" -> "false") {
      // Conf OFF: resolve and run once (normal shuffled agg) —
      // deliberately NO clearCache before the flipped re-run.
      val off = spark.sql(aggSql)
      assert(off.collect().map(_.getLong(1)).sum == 200L)
      assert(shuffles(off) == 1, "conf off: the agg shuffles:\n" +
        off.queryExecution.executedPlan)
    }
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val on = spark.sql(aggSql)
      assert(on.collect().map(_.getLong(1)).sum == 200L)
      assert(shuffles(on) == 0,
        "the flip must reach the NEXT scan build without clearCache:\n" +
          on.queryExecution.executedPlan)
    }
    // And back off again, same relation, still no clearCache.
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.sources.v2.bucketing.enabled" -> "false") {
      val off2 = spark.sql(aggSql)
      assert(off2.collect().map(_.getLong(1)).sum == 200L)
      assert(shuffles(off2) == 1, "flip back off must also take effect")
    }
  }

  test("SPJ composes with runtime file pruning: a selective dim " +
    "filter prunes ONE side's key groups at runtime, the " +
    "co-partitioned fact-fact join stays shuffle-free and correct") {
    val dir = Files.createTempDirectory("graft-spjdpp")
    dir.toFile.deleteOnExit()
    build(dir.resolve("fa"), spark.range(0, 400).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 3).as("x")))
    build(dir.resolve("fb"), spark.range(0, 200).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"), (col("id") * 5).as("y")))
    spark.conf.set("spark.graft.catalog.dir.spjdpp", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.range(0, 4).select(col("id").as("part"),
      concat(lit("p-"), col("id")).as("name"))
      .createOrReplaceTempView("spjdpp_dim")
    val sql =
      """SELECT a.part, COUNT(*) AS n, SUM(a.x + b.y) AS s
        |FROM graft.spjdpp.fa a
        |JOIN graft.spjdpp.fb b ON a.part = b.part
        |JOIN spjdpp_dim d ON a.part = d.part
        |WHERE d.name = 'p-2'
        |GROUP BY a.part ORDER BY a.part""".stripMargin
    var expected: Seq[org.apache.spark.sql.Row] = Seq.empty
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      expected = spark.sql(sql).collect().toSeq
    }
    assert(expected.size == 1)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      // Between the dim's size and the facts': the dim broadcasts
      // (so DPP fires) while the fact-fact join stays non-broadcast.
      "spark.sql.autoBroadcastJoinThreshold" -> "2048") {
      spark.catalog.clearCache()
      val j = spark.sql(sql)
      val got = j.collect().toSeq
      assert(got == expected,
        s"runtime-pruned SPJ must match the shuffled plan:\n$got\n$expected")
      val plan = j.queryExecution.executedPlan.toString()
      assert(plan.contains("dynamicpruningexpression"),
        s"the dim filter must reach the fact scans at runtime:\n$plan")
      val below = graft.plans.PlanShape
        .exchangesBelowJoin(j.queryExecution.executedPlan)
      assert(below.contains(0),
        s"the fact-fact join must stay shuffle-free under runtime " +
          s"pruning:\n$plan")
    }
  }

  test("partially-clustered SPJ: MISMATCHED partition-value sets join " +
    "shuffle-free under pushPartValues with outer-complete rows; " +
    "without the conf the plan degrades to shuffles, never to wrong " +
    "rows") {
    val dir = Files.createTempDirectory("graft-spjpart")
    dir.toFile.deleteOnExit()
    // A covers parts 0..5, B covers 2..7: overlap {2..5}, and EACH
    // side holds values the other lacks — the layout a skewed or
    // lagging 100-TB fact-fact join actually has.
    def mk(name: String, lo: Long, hi: Long, valCol: String): Unit = {
      val t = dir.resolve(name)
      val rows = spark.range(0, 400).select(col("id"),
        pmod(col("id"), lit(8L)).as("part"),
        (col("id") * 3).as(valCol))
        .filter(col("part") >= lo && col("part") <= hi)
      SnapStore.create(spark, t, rows.filter(col("part") === lo), "part")
      ((lo + 1) to hi).foreach(p =>
        SnapStore.append(spark, t, rows.filter(col("part") === p), "part"))
    }
    mk("ta", 0, 5, "x")
    mk("tb", 2, 7, "y")
    spark.conf.set("spark.graft.catalog.dir.spjpart", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val joinSql =
      """SELECT COALESCE(a.part, b.part) AS part,
        |  COUNT(a.id) AS n_a, COUNT(b.id) AS n_b, SUM(a.x + b.y) AS s
        |FROM graft.spjpart.ta a FULL OUTER JOIN graft.spjpart.tb b
        |  ON a.part = b.part
        |GROUP BY COALESCE(a.part, b.part) ORDER BY part""".stripMargin
    // Baseline (conf off): normal shuffled plan is the oracle.
    val expected = spark.sql(joinSql).collect().toSeq
    assert(expected.size == 8, "outer-complete: all 8 parts present")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      val got = j.collect().toSeq
      assert(got == expected, "pushed-part-values join must match the " +
        s"shuffled plan:\n$got\nvs\n$expected")
      j.collect()
      val below = graft.plans.PlanShape
        .exchangesBelowJoin(j.queryExecution.executedPlan)
      assert(below.contains(0),
        s"mismatched value sets must still join with ZERO scan-side " +
          s"shuffles (got $below):\n${j.queryExecution.executedPlan}")
    }
    // Degrade path: grouping reported but pushPartValues OFF — Spark
    // cannot align mismatched value sets, falls back to shuffles,
    // rows stay correct.
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      assert(j.collect().toSeq == expected)
      val below = graft.plans.PlanShape
        .exchangesBelowJoin(j.queryExecution.executedPlan)
      assert(below.exists(_ > 0),
        "without pushPartValues the mismatched layouts must fall back " +
          s"to shuffles:\n${j.queryExecution.executedPlan}")
    }

    // Partially-clustered DISTRIBUTION (the skew-replication mode):
    // an INNER join under the conf may replicate one side's groups —
    // rows must stay exactly the shuffled plan's, still with no
    // shuffle below the join.
    val innerSql =
      """SELECT a.part, COUNT(*) AS n, SUM(a.x + b.y) AS s
        |FROM graft.spjpart.ta a JOIN graft.spjpart.tb b ON a.part = b.part
        |GROUP BY a.part ORDER BY a.part""".stripMargin
    var expInner: Seq[org.apache.spark.sql.Row] = Seq.empty
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      expInner = spark.sql(innerSql).collect().toSeq
    }
    assert(expInner.size == 4, "inner overlap is parts {2..5}")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(innerSql)
      assert(j.collect().toSeq == expInner,
        "partially-clustered distribution must not change results")
      val below = graft.plans.PlanShape
        .exchangesBelowJoin(j.queryExecution.executedPlan)
      assert(below.contains(0),
        s"skew-replicated SPJ must stay shuffle-free below the join:\n" +
          j.queryExecution.executedPlan)
    }
  }
}
