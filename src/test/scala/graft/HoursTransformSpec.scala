package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.sources.{PartTransforms, SnapStore}

/** The `hours(ts)` hidden partition transform (VERDICT r13 #3) —
  * Iceberg's `hour` transform: TIMESTAMP → hours since epoch (Int).
  * Event-grade warehouses partition at this grain; the spec pins the
  * driver/distributed agreement, bound-based pruning, the SQL
  * `PARTITIONED BY (hours(ts))` face, spec evolution, and the SPJ
  * FunctionCatalog route.
  */
class HoursTransformSpec extends SparkSpec {

  private def shuffles(df: DataFrame): Int = {
    df.collect()
    graft.plans.PlanShape.exchangeCount(df.queryExecution.executedPlan)
  }

  // ----------------------------------------------------------------
  test("hours eval and toColumnFor agree over random instants, hour " +
    "boundaries, and pre-1970 values; parse and renameSource round-trip") {
    val spec = PartTransforms.parse("hours(ts)")
    assert(spec == PartTransforms.Hours("ts") && spec.monotonic)
    assert(PartTransforms.renameSource("hours(ts)", "ts", "event_ts") ==
      "hours(event_ts)")
    // A source literally named like the function must not corrupt.
    assert(PartTransforms.renameSource("hours(hours)", "hours", "h") ==
      "hours(h)")

    val rnd = new scala.util.Random(42)
    val micros = Seq(0L, -1L, 3599999999L, 3600000000L, -3600000000L,
      -3599999999L, 253402300799000000L) ++
      (1 to 60).map(_ => rnd.nextLong() % 4102444800000000L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(micros.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("us",
          org.apache.spark.sql.types.LongType))))
      .select(col("us"), timestamp_micros(col("us")).as("ts"))
    val dist = df.select(col("us"),
      spec.toColumnFor(TimestampType).as("h")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    micros.foreach { us =>
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      val viaTs = spec.eval(java.sql.Timestamp.from(inst), TimestampType)
      val viaInstant = spec.eval(inst, TimestampType)
      assert(viaTs == dist(us) && viaInstant == dist(us),
        s"eval/column disagree at $us micros: $viaTs vs ${dist(us)}")
      assert(dist(us) == Math.floorDiv(us, 3600000000L).toInt)
    }
  }

  // ----------------------------------------------------------------
  test("an hours(ts)-partitioned table stores transformed int bounds " +
    "and prunes equality and range predicates to the matching hours") {
    val root = Files.createTempDirectory("graft-hours")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    def hourRows(h: Int): DataFrame = spark.range(0, 20).select(
      col("id"),
      timestamp_micros(lit(h.toLong * 3600000000L) +
        col("id") * 60000000L).as("ts"),
      (col("id") * 2).as("v"))
    // One commit per hour: files single-valued on the transform.
    SnapStore.create(spark, t, hourRows(473000), "hours(ts)")
    (473001 to 473005).foreach(h =>
      SnapStore.append(spark, t, hourRows(h), "hours(ts)"))
    val m = SnapStore.currentManifest(t)
    assert(m.files.nonEmpty && m.files.forall(f =>
      f.partMin == f.partMax && f.partMin.toInt >= 473000 &&
        f.partMin.toInt <= 473005),
      s"bounds must be transformed hour ints: ${m.files.map(_.partMin)}")

    // Equality prune: a timestamp inside hour 473002 touches only
    // that hour's files.
    val probe = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(473002L * 3600 + 1234))
    val eqFiles = SnapStore.prunedFiles(m, Seq(probe))
    assert(eqFiles.nonEmpty && eqFiles.forall(_.partMin.toInt == 473002),
      s"equality prune leaked: ${eqFiles.map(_.partMin)}")

    // Range prune: [473001h, 473003h) intersects exactly 3 hours.
    val lo = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(473001L * 3600))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(473003L * 3600))
    val rangeFiles = SnapStore.prunedFilesRange(m, lo, hi)
    assert(rangeFiles.map(_.partMin.toInt).toSet == Set(473001, 473002, 473003),
      s"range prune wrong: ${rangeFiles.map(_.partMin)}")

    // The pruned read serves exactly the matching rows.
    val n = SnapStore.readPrunedRange(spark, t, lo, hi)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count()
    assert(n == 40L)

    // DML probe pruning (r14): a time-range condition prunes the
    // probe candidates in the TRANSFORMED domain — a time-scoped
    // DELETE on an hours layout opens only that window's footers.
    // The strict `<` upper bound stays INCLUSIVE after the transform
    // (monotonic, not injective), so hour 473003 is conservatively
    // kept.
    val cand = SnapStore.probeCandidates(spark, m,
      col("ts") >= lit(lo) && col("ts") < lit(hi))
    assert(cand.map(_.partMin.toInt).toSet == Set(473001, 473002, 473003),
      s"probe range prune wrong: ${cand.map(_.partMin).sorted}")
  }

  // ----------------------------------------------------------------
  test("SQL CREATE TABLE PARTITIONED BY (hours(ts)) routes to the " +
    "transform; evolve_spec accepts hours; SPJ joins hours tables on " +
    "the timestamp column without a scan-side shuffle") {
    val root = Files.createTempDirectory("graft-hoursddl")
    root.toFile.deleteOnExit()
    spark.conf.set("spark.graft.catalog.dir.hoursddl", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql("""CREATE TABLE graft.hoursddl.e
      (id BIGINT, ts TIMESTAMP, v BIGINT) PARTITIONED BY (hours(ts))""")
    assert(SnapStore.currentManifest(root.resolve("e")).partCol == "hours(ts)")

    // evolve_spec: an identity table evolves onto the hour transform.
    spark.sql("CREATE TABLE graft.hoursddl.ev (id BIGINT, ts TIMESTAMP)")
    SnapStore.evolveSpec(root.resolve("ev"), "hours(ts)")
    assert(SnapStore.currentManifest(root.resolve("ev")).partCol ==
      "hours(ts)")

    // SPJ: per-hour commits → single-valued files → KeyGrouped scan
    // resolved through the catalog's hours V2 function.
    def hourly(t: java.nio.file.Path, rows: DataFrame): Unit = {
      SnapStore.create(spark, t,
        rows.filter(col("h") === 473000L).drop("h"), "hours(ts)")
      (473001L to 473003L).foreach(h =>
        SnapStore.append(spark, t,
          rows.filter(col("h") === h).drop("h"), "hours(ts)"))
    }
    def mk(n: Int, mult: Long): DataFrame = spark.range(0, n.toLong).select(
      col("id"),
      (lit(473000L) + col("id") % 4).as("h"),
      timestamp_micros((lit(473000L) + col("id") % 4) *
        lit(3600000000L)).as("ts"),
      (col("id") * mult).as("v"))
    hourly(root.resolve("fa"), mk(400, 3L))
    hourly(root.resolve("fb"), mk(120, 7L))
    val joinSql =
      """SELECT a.ts, COUNT(*) AS n
        |FROM graft.hoursddl.fa a JOIN graft.hoursddl.fb b ON a.ts = b.ts
        |GROUP BY a.ts ORDER BY a.ts""".stripMargin
    val expected = spark.sql(joinSql).collect().toSeq
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      assert(j.collect().toSeq == expected)
      assert(shuffles(j) <= 1,
        s"hours-partitioned SPJ must not shuffle the fact sides:\n" +
          j.queryExecution.executedPlan)
    }
  }
}
