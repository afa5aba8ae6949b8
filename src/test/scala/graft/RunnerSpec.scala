package graft

import java.nio.file.Files

/** Harness-parity behaviors: discovery order, templating, noop
  * execution, continue-on-failure with truncation, results CSV shape
  * (`IcebergBenchmark.java:149-222,388-399` semantics).
  */
class RunnerSpec extends SparkSpec {

  private def writeQueries(): String = {
    val dir = Files.createTempDirectory("graft-queries")
    Files.writeString(dir.resolve("q02_count.sql"),
      "SELECT COUNT(*) AS c FROM ${database}${schema}lineitem")
    Files.writeString(dir.resolve("q01_agg.sql"),
      "SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem GROUP BY 1")
    Files.writeString(dir.resolve("q03_bad.sql"),
      "SELECT no_such_column FROM lineitem")
    Files.writeString(dir.resolve("notes.txt"), "ignored")
    dir.toString
  }

  test("discovery lists only .sql files, sorted by filename") {
    val dir = writeQueries()
    val names = Runner.discoverQueries(dir).map(_._1)
    assert(names === Seq("q01_agg", "q02_count", "q03_bad"))
  }

  test("a query or sweep directory that does not exist throws, naming it") {
    val missing = Files.createTempDirectory("graft-nodir")
      .resolve("no-such-dir").toString
    val q = intercept[IllegalArgumentException](Runner.discoverQueries(missing))
    assert(q.getMessage.contains(missing))
    val sw = intercept[IllegalArgumentException](Runner.listSfDirs(missing))
    assert(sw.getMessage.contains(missing))
  }

  test("templating replaces placeholders verbatim") {
    assert(Runner.template("USE ${database}.${schema}; SELECT '${database}'", "cat", "db")
      === "USE cat.db; SELECT 'cat'")
  }

  test("named CLI options parse like the reference's picocli surface") {
    val opts = Runner.parseArgs(Array(
      "--tpch-dir", "/q/tpch", "--tpcds-dir", "/q/tpcds",
      "--tpch-data-db", "tpch_sf1", "--tpcds-data-db", "tpcds_sf1",
      "--catalog-name", "cat", "--output-path", "/out", "--run-id", "r1"))
    assert(opts("tpch-dir") === "/q/tpch")
    assert(opts("tpcds-data-db") === "tpcds_sf1")
    assert(opts("catalog-name") === "cat")
    assert(opts("run-id") === "r1")
  }

  test("conf-derived flags: analytics-core + client type per catalog") {
    assert(Runner.confFlags(spark, "nosuchcat") === (false, "HTTP"))
    spark.conf.set("spark.sql.catalog.fcat.gcs.analytics-core.enabled", "true")
    spark.conf.set("spark.sql.catalog.fcat.gcs.client.type", "GRPC_CLIENT")
    assert(Runner.confFlags(spark, "fcat") === (true, "GRPC"))
    val dir = Files.createTempDirectory("graft-flagq")
    Files.writeString(dir.resolve("q1.sql"), "SELECT 1 AS one")
    val rows = Runner.runSuite(spark, "TEST", dir.toString, "", "", "run_f",
      flags = Runner.confFlags(spark, "fcat"))
    assert(rows.head.getBoolean(8) === true)   // analytics_core_enabled
    assert(rows.head.getString(9) === "GRPC")  // client_type
  }

  test("two-suite run resolves unqualified names via distinct namespaces") {
    // Same query file, two databases: the per-suite USE
    // (IcebergBenchmark.java:153) must steer the unqualified name.
    spark.sql("CREATE DATABASE IF NOT EXISTS ns_a")
    spark.sql("CREATE DATABASE IF NOT EXISTS ns_b")
    spark.sql("CREATE OR REPLACE VIEW ns_a.probe AS SELECT 'a' AS side")
    spark.sql("CREATE OR REPLACE VIEW ns_b.probe AS SELECT 'b' AS side")
    val dir = Files.createTempDirectory("graft-nsq")
    Files.writeString(dir.resolve("q1.sql"), "SELECT side FROM probe")
    def run(db: String) = Runner.runSuite(spark, "TEST", dir.toString,
      "spark_catalog", db, "run_ns")
    // `probe` exists only inside the namespaces, so suite success
    // itself proves the USE resolved the unqualified name; the
    // current database must track each suite's USE.
    assert(run("ns_a").forall(_.getString(5) == "SUCCESS"))
    assert(spark.catalog.currentDatabase === "ns_a")
    assert(run("ns_b").forall(_.getString(5) == "SUCCESS"))
    assert(spark.catalog.currentDatabase === "ns_b")
    spark.sql("USE default")
  }

  test("reference TPC-H corpus: 22 files discovered and run VERBATIM") {
    val dir = queries.CorpusFiles.tpch.dir
    val discovered = Runner.discoverQueries(dir)
    assert(discovered.length === 22)
    assert(discovered.map(_._1) === (1 to 22).map(i => f"q$i%02d"))
    // Raw file text (trailing semicolons and all) through the noop
    // sink, exactly as IcebergBenchmark.java:162-183 executes it.
    queries.Corpus.register(spark, sf)
    val rows = Runner.runSuite(spark, "TPC-H", dir,
      queries.Corpus.catalog, queries.Corpus.db, "run_corpus")
    assert(rows.length === 22)
    val failed = rows.filter(_.getString(5) != "SUCCESS").map(r =>
      r.getString(3) + ": " + r.getString(6))
    assert(failed.isEmpty, s"corpus failures: ${failed.mkString("; ")}")
  }

  test("reference TPC-DS corpus: 103 files discovered and run VERBATIM") {
    val dir = queries.CorpusFiles.tpcds.dir
    val discovered = Runner.discoverQueries(dir)
    assert(discovered.length === 103)
    queries.TpcdsCorpus.register(spark, sf)
    val rows = Runner.runSuite(spark, "TPC-DS", dir,
      queries.TpcdsCorpus.catalog, queries.TpcdsCorpus.db, "run_ds")
    assert(rows.length === 103)
    val failed = rows.filter(_.getString(5) != "SUCCESS").map(r =>
      r.getString(3) + ": " + r.getString(6).take(120))
    assert(failed.isEmpty, s"corpus failures: ${failed.mkString("; ")}")
  }

  test("catalog-routed corpus: USE graft.<db> runs all 125 files SUCCESS") {
    // The reference resolves every table through a NAMED catalog
    // (`USE catalog.db`, IcebergBenchmark.java:153) mounted via
    // spark.sql.catalog.* (spark_submit_with_analytics_core.sh:11-14).
    // Same path here: Materialize mounts the warehouse dirs, the
    // GraftCatalog plugin serves them as DSv2 ParquetTables, and both
    // corpora run verbatim with ${database} -> graft.
    queries.Corpus.register(spark, sf)
    queries.TpcdsCorpus.register(spark, sf)
    assert(spark.conf.getOption("spark.graft.catalog.dir.tpch").isDefined)
    assert(spark.conf.getOption("spark.graft.catalog.dir.tpcds").isDefined)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    try {
      assert(spark.sql("SHOW TABLES IN graft.tpcds").count() === 24)
      val rowsH = Runner.runSuite(spark, "TPC-H", queries.CorpusFiles.tpch.dir,
        "graft", "tpch", "run_cat")
      val rowsD = Runner.runSuite(spark, "TPC-DS", queries.CorpusFiles.tpcds.dir,
        "graft", "tpcds", "run_cat")
      assert(rowsH.length === 22 && rowsD.length === 103)
      val failed = (rowsH ++ rowsD).filter(_.getString(5) != "SUCCESS").map(r =>
        r.getString(3) + ": " + r.getString(6).take(120))
      assert(failed.isEmpty, s"catalog-routed failures: ${failed.mkString("; ")}")
    } finally spark.sql("USE spark_catalog.default")
  }

  test("multi-sf sweep: one pass per fixture, schema_size per sf, one CSV") {
    val qdir = Files.createTempDirectory("graft-sweepq")
    Files.writeString(qdir.resolve("q1.sql"),
      "SELECT COUNT(*) AS c FROM lineitem")
    val suites = Seq(("TPC-H", Some(qdir.toString), ""))
    val tags = Runner.listSfDirs("/root/testdata")
      .map(d => java.nio.file.Paths.get(d).getFileName.toString)
    assert(tags.size >= 2) // the driver ships sf0.001/sf0.01/sf0.1
    val rows = Runner.runSweep(spark, "/root/testdata", suites,
      "spark_catalog", "run_sweep")
    assert(rows.length === tags.size)
    assert(rows.map(_.getString(1)) === tags) // schema_size carries the sf
    assert(rows.forall(_.getString(5) == "SUCCESS"))
    // All grid rows land in ONE results CSV, like runner.sh's single
    // output file across its sf loop.
    val out = Files.createTempDirectory("graft-sweep-results").toString
    Runner.writeResultsCsv(spark, rows, out, "run_sweep")
    val files = new java.io.File(s"$out/run_sweep").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val content = Files.readString(files.head.toPath)
    tags.foreach(t => assert(content.contains("\"" + t + "\"")))
    Tables.registerAll(spark, sf) // re-point shared-session views
  }

  test("client-variant grid: three passes, flags attributed, two IO paths") {
    // runner.sh's full grid = 3 submit variants × sf sweep. One
    // symlinked fixture keeps the spec fast; the analytics-core
    // variants route ${database} through the graft DSv2 catalog, the
    // disabled variant through spark_catalog — a real second IO path.
    // TWO fixtures, not one: the second pass re-registers the corpus
    // warehouse while the session still sits on `USE graft.tpch` from
    // the first — the registration DDL must pin spark_catalog
    // explicitly or it resolves against the read-only DSv2 catalog
    // (the exact failure the first full CLI grid run hit).
    val root = Files.createTempDirectory("graft-varroot")
    Files.createSymbolicLink(root.resolve("sf0.001"),
      java.nio.file.Paths.get(sf))
    Files.createSymbolicLink(root.resolve("sf0.01"),
      java.nio.file.Paths.get("/root/testdata/sf0.01"))
    val qdir = Files.createTempDirectory("graft-varq")
    Files.writeString(qdir.resolve("q1.sql"),
      "SELECT COUNT(*) AS c FROM ${database}.${schema}.lineitem")
    val suites = Seq(("TPC-H", Some(qdir.toString), "tpch"))
    try {
      val rows = Runner.runVariantGrid(spark, root.toString, suites,
        "graft", "run_grid")
      assert(rows.length === 6)
      assert(rows.map(_.getBoolean(8)) ===
        Seq(true, true, false, false, true, true))
      assert(rows.map(_.getString(9)) ===
        Seq("HTTP", "HTTP", "HTTP", "HTTP", "GRPC", "GRPC"))
      val failed = rows.filter(_.getString(5) != "SUCCESS").map(r =>
        r.getString(3) + ": " + r.getString(6).take(120))
      assert(failed.isEmpty, s"variant failures: ${failed.mkString("; ")}")
    } finally spark.sql("USE spark_catalog.default")
  }

  test("suite runs all queries, failures recorded and truncated, CSV written") {
    val dir = writeQueries()
    Tables.registerAll(spark, sf)
    val listener = new MetricListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = Runner.runSuite(spark, "TEST", dir, "", "", "run_test", Some(listener))
      assert(rows.length === 3)
      val byName = rows.map(r => r.getString(3) -> r).toMap
      assert(byName("q01_agg").getString(5) == "SUCCESS")
      assert(byName("q02_count").getString(5) == "SUCCESS")
      assert(byName("q03_bad").getString(5) == "FAILED")
      assert(byName("q03_bad").getString(6).nonEmpty)
      assert(byName("q03_bad").getString(6).length <= 2000)
      assert(byName("q01_agg").getString(7).contains("executor_run_time_ms"))

      val out = Files.createTempDirectory("graft-results").toString
      Runner.writeResultsCsv(spark, rows, out, "run_test")
      val files = new java.io.File(s"$out/run_test").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(files.length === 1) // repartition(1) → one part file
      val content = Files.readString(files.head.toPath)
      assert(content.startsWith("\"run_id\""))
      assert(content.contains("\"q03_bad\""))
      // Reference parity: the CSV status column carries the literal
      // string enum, not a stringified boolean.
      assert(content.contains("\"SUCCESS\"") && content.contains("\"FAILED\""))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("catalog-routed MOR read emits custom_scan_time: the " +
    "total_batch_scan_time_ms rollup is non-zero on the native path") {
    // A pending-MOR snapshot (eq + pos delete files) mounted at
    // graft.maint — the read routes through the native snap scan,
    // whose readers stamp the reference's custom_scan_time_ms metric
    // (IcebergBenchmark.java:306-309), not just the synthetic
    // connector's.
    ops.Maintenance.ensureDocsPdel(spark, sf)
    val dir = Files.createTempDirectory("graft-morq")
    Files.writeString(dir.resolve("q01_mor.sql"),
      "SELECT part, COUNT(*) AS n, SUM(tok) AS t " +
        "FROM graft.maint.docs_pdel GROUP BY part ORDER BY part;")
    val listener = new MetricListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = Runner.runSuite(spark, "MORQ", dir.toString, "", "",
        "run_mor", Some(listener))
      assert(rows.length === 1)
      assert(rows.head.getString(5) == "SUCCESS", rows.head.getString(6))
      assert(rows.head.getLong(10) > 0,
        s"native MOR scan must roll up a non-zero " +
          s"total_batch_scan_time_ms, got ${rows.head.getLong(10)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
