package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapStore

/** `compute_table_stats` + CBO wiring (Iceberg's ANALYZE face): the
  * CALL computes per-column NDV/null/bounds stats in one distributed
  * agg; the scan serves them as DSv2 column statistics; Spark's CBO
  * then estimates filter selectivity — a filtered dimension whose
  * post-filter size falls under the broadcast threshold plans a
  * BroadcastHashJoin WITH stats and a SortMergeJoin WITHOUT.
  */
class TableStatsSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf).select(
    col("doc_id"),
    pmod(col("doc_id"), lit(4L)).as("part"),
    col("source"), col("text"))

  private def mountAs(db: String, root: java.nio.file.Path): Unit = {
    spark.conf.set(s"spark.graft.catalog.dir.$db", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  }

  // ----------------------------------------------------------------
  test("compute_table_stats: NDV/null/bounds computed distributed, " +
    "persisted, returned by the CALL, and reload exactly") {
    val root = Files.createTempDirectory("graft-stats")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")
    mountAs("stats", root)

    val res = spark.sql(
      "CALL graft.system.compute_table_stats('stats.t')").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(res.keySet == Set("doc_id", "part", "source", "text"))
    val n = docs.count()
    // approx NDV of a unique key is within HLL tolerance of n.
    val (ndvId, nullsId) = res("doc_id")
    assert(math.abs(ndvId - n) <= n / 10, s"doc_id ndv $ndvId vs $n")
    assert(nullsId == 0L)
    val (ndvPart, _) = res("part")
    assert(ndvPart == 4L, s"part ndv must be exact-ish small: $ndvPart")

    val (ver, rows, stored) = SnapStore.tableColStats(t).get
    assert(ver == 1 && rows == n)
    assert(stored("doc_id").min.contains("0"))
    assert(stored("doc_id").max.contains((n - 1).toString))
    // String columns carry length stats, no bounds.
    assert(stored("text").min.isEmpty && stored("text").avgLen > 0)
  }

  // ----------------------------------------------------------------
  test("CBO join-strategy flip: a filtered dimension sort-merge-joins " +
    "without stats and broadcasts with them (static planning, AQE off)") {
    val root = Files.createTempDirectory("graft-cbo")
    root.toFile.deleteOnExit()
    val td = root.resolve("dim")
    SnapStore.create(spark, td, docs, "part")
    val tf = root.resolve("fact")
    SnapStore.create(spark, tf, docs, "part")
    mountAs("cbo", root)

    // CBO estimates the post-filter DIM size from row count × output
    // width. WITHOUT column stats the equality filter's selectivity
    // is unknown (kept at 1), so the estimate stays ~rows×width —
    // above the threshold below. WITH stats, `doc_id = 37` estimates
    // 1/NDV of the rows → a few bytes → broadcast.
    withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "2048") {
      def joinPlan(): String = spark.sql(
        """SELECT f.part, d.source
          |FROM graft.cbo.fact f
          |JOIN graft.cbo.dim d ON f.doc_id = d.doc_id
          |WHERE d.doc_id = 37""".stripMargin)
        .queryExecution.executedPlan.toString

      val before = joinPlan()
      assert(before.contains("SortMergeJoin") &&
        !before.contains("BroadcastHashJoin"),
        s"without stats the join must SMJ:\n$before")

      spark.sql("CALL graft.system.compute_table_stats('cbo.dim')")
      // The route decision is made at loadTable: refresh the cached
      // relation so the stats-bearing scan plans.
      spark.catalog.refreshTable("graft.cbo.dim")

      val after = joinPlan()
      assert(after.contains("BroadcastHashJoin"),
        s"with stats the filtered dim must broadcast:\n$after")

      // The stats change PLANNING only, never results.
      val n = spark.sql("SELECT COUNT(*) AS n FROM graft.cbo.fact f " +
        "JOIN graft.cbo.dim d ON f.doc_id = d.doc_id WHERE d.doc_id = 37")
        .collect()(0).getLong(0)
      assert(n == 1L)
    }
  }
}
