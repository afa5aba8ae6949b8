package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Harness parity (SURVEY.md §7 step 5): the reference's benchmark
  * orchestration re-expressed in Scala — query-file discovery and
  * templating (`IcebergBenchmark.java:162-175`), noop-sink execution
  * (`:183`), per-query wall-clock timing with continue-on-failure and
  * 2000-char error truncation (`:177-190`), listener-driven metric
  * attribution (`:216-267`), and the quoted/escaped results CSV
  * (`:131-147,388-399`).
  */
object Runner {

  /** One result row — the reference's results schema
    * (`IcebergBenchmark.java:131-147`).
    */
  val resultsSchema: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("schema_size", StringType),
    StructField("benchmark_type", StringType),
    StructField("query_name", StringType),
    StructField("execution_time_sec", DoubleType),
    StructField("status", StringType),
    StructField("error_message", StringType),
    StructField("metrics_json", StringType),
    StructField("analytics_core_enabled", BooleanType),
    StructField("client_type", StringType),
    StructField("total_batch_scan_time_ms", LongType),
    StructField("timestamp", TimestampType)))

  /** The entries of directory `dir`. A path that is not a directory
    * throws, naming it, as the reference's `Files.list` does — a
    * mistyped `--tpch-dir` must not run an empty suite and exit 0.
    */
  private def listDir(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p))
      throw new IllegalArgumentException(s"not a directory: $p")
    val stream = Files.list(p)
    try stream.iterator.asScala.toSeq finally stream.close()
  }

  /** Discover `*.sql` files sorted by filename
    * (`IcebergBenchmark.java:162-167`).
    */
  def discoverQueries(dir: String): Seq[(String, String)] =
    listDir(dir).filter(_.toString.endsWith(".sql"))
      .sortBy(_.getFileName.toString)
      .map(f => f.getFileName.toString.stripSuffix(".sql") -> Files.readString(f))

  /** `${database}`/`${schema}` substitution — plain string replace,
    * applying even inside string literals, exactly like
    * `IcebergBenchmark.java:175`.
    */
  def template(sql: String, database: String, schema: String): String =
    sql.replace("${database}", database).replace("${schema}", schema)

  /** Materialize fully through the built-in noop sink — forces
    * execution without collecting (`IcebergBenchmark.java:183`).
    */
  def executeNoop(spark: SparkSession, sql: String): Unit =
    GraftSession.noop(spark.sql(sql))

  /** Conf-derived result flags (`IcebergBenchmark.java:107-118`):
    * analytics-core enablement and HTTP/GRPC client type read from
    * the catalog's configuration namespace.
    */
  def confFlags(spark: SparkSession, catalogName: String): (Boolean, String) = {
    val enabled = spark.conf
      .get(s"spark.sql.catalog.$catalogName.gcs.analytics-core.enabled", "false")
      .toBoolean
    val clientType =
      if (spark.conf.get(s"spark.sql.catalog.$catalogName.gcs.client.type",
        "HTTP_CLIENT") == "GRPC_CLIENT") "GRPC"
      else "HTTP"
    (enabled, clientType)
  }

  /** Run one suite: `USE catalog.db`, then time each query,
    * SUCCESS/FAILED with truncated error, keep going on failure
    * (`IcebergBenchmark.java:149-222`). `schemaSize` overrides the
    * recorded schema_size column (sweep mode tags it with the
    * fixture, like the reference's `tpch_sf1…sf1000` db names).
    */
  def runSuite(
      spark: SparkSession,
      benchmarkType: String,
      queryDir: String,
      database: String,
      schema: String,
      runId: String,
      listener: Option[MetricListener] = None,
      flags: (Boolean, String) = (false, "HTTP"),
      schemaSize: Option[String] = None): Seq[Row] = {
    // Per-suite namespace, exactly `IcebergBenchmark.java:153` —
    // unqualified table names in the suite resolve against it.
    if (database.nonEmpty && schema.nonEmpty)
      spark.sql(s"USE $database.$schema")
    discoverQueries(queryDir).map { case (name, rawSql) =>
      val sql = template(rawSql, database, schema)
      listener.foreach(_.reset())
      val t0 = System.nanoTime()
      val (ok, err) =
        try { executeNoop(spark, sql); (true, "") }
        catch { case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          (false, msg.take(2000)) // truncation per IcebergBenchmark.java:186
        }
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      val (metricsJson, scanMs) = listener
        .flatMap(l => l.awaitExecutionId(10000).map(l.metrics))
        .getOrElse(("{}", 0L))
      // `status` is the reference's literal string enum, not a boolean
      // (`IcebergBenchmark.java:139,177,185` record "SUCCESS"/"FAILED").
      Row(runId, schemaSize.getOrElse(schema), benchmarkType, name, elapsedSec,
        if (ok) "SUCCESS" else "FAILED", err, metricsJson,
        flags._1, flags._2, scanMs,
        new java.sql.Timestamp(System.currentTimeMillis()))
    }
  }

  /** Results CSV exactly as the reference writes it: single
    * partition, header, quoteAll, `"` escape, Append into a per-run
    * directory (`IcebergBenchmark.java:388-399`).
    */
  def writeResultsCsv(spark: SparkSession, rows: Seq[Row], outputPath: String,
      runId: String): Unit =
    spark.createDataFrame(rows.asJava, resultsSchema)
      .repartition(1)
      .write
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .mode("append")
      .csv(s"$outputPath/$runId")

  /** Scale-factor fixture dirs under `root`, sorted by name — the
    * local analogue of the reference's sweep grid (`runner.sh:26-41`
    * loops `tpch_sf1…sf1000`; here the grid is `sf0.001…sf0.1`).
    */
  def listSfDirs(root: String): Seq[String] =
    listDir(root)
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("sf"))
      .sortBy(_.getFileName.toString).map(_.toString)

  /** Multi-sf sweep (`runner.sh:26-41`): one suite pass per fixture
    * dir, every row in ONE result set with `schema_size` tagged
    * `<db>_<sfTag>` — the reference emits one results CSV across its
    * whole `sf × variant` grid. Table/corpus registration re-points
    * at each fixture (the per-session register cache keys on the
    * dir); corpus databases register only when a suite addresses a
    * named db, so bare-view sweeps stay light.
    */
  def runSweep(
      spark: SparkSession,
      sfRoot: String,
      suites: Seq[(String, Option[String], String)],
      catalog: String,
      runId: String,
      listener: Option[MetricListener] = None,
      flags: (Boolean, String) = (false, "HTTP")): Seq[Row] =
    listSfDirs(sfRoot).flatMap { dir =>
      val tag = Paths.get(dir).getFileName.toString
      Tables.registerAll(spark, dir)
      if (suites.exists { case (_, d, db) => d.isDefined && db.nonEmpty }) {
        queries.Corpus.register(spark, dir)
        queries.TpcdsCorpus.register(spark, dir)
      }
      suites.flatMap {
        case (kind, Some(qdir), db) =>
          runSuite(spark, kind, qdir, catalog, db, runId, listener, flags,
            schemaSize = Some(if (db.isEmpty) tag else s"${db}_$tag"))
        case _ => Seq.empty
      }
    }

  /** The reference's three submit variants (`runner.sh:28-41`):
    * analytics-core enabled (`spark_submit_with_analytics_core.sh`),
    * disabled (`spark_submit_without_analytics_core.sh`), and
    * enabled-with-gRPC (`spark_submit_grpc_enabled.sh:17`), as
    * (name, analytics-core enabled, client type).
    */
  val clientVariants: Seq[(String, Boolean, String)] = Seq(
    ("with_analytics_core", true, "HTTP_CLIENT"),
    ("without_analytics_core", false, "HTTP_CLIENT"),
    ("grpc_enabled", true, "GRPC_CLIENT"))

  /** The full reference grid: variant outer loop × sf sweep inner
    * loop (`runner.sh:28-41` runs each submit variant across
    * `sf1…sf1000`), one combined result set under ONE run id.
    *
    * The variants are not just recorded flags — they select a REAL
    * second IO path, the local analogue of swapping the Iceberg
    * FileIO client: analytics-core variants resolve every table
    * through the named DSv2 catalog ([[graft.sources.GraftCatalog]]
    * `ParquetTable` scans), the disabled variant resolves through
    * the session catalog's tables/views. The per-variant catalog
    * confs are re-pointed exactly where the submit scripts set them
    * (`spark.sql.catalog.<cat>.gcs.*`), so the results rows carry
    * the same `analytics_core_enabled`/`client_type` attribution the
    * reference CSV has (`IcebergBenchmark.java:107-118,131-147`).
    */
  def runVariantGrid(
      spark: SparkSession,
      sfRoot: String,
      suites: Seq[(String, Option[String], String)],
      catalog: String,
      runId: String,
      listener: Option[MetricListener] = None): Seq[Row] = {
    // Each variant's confs are set only for its own sweep (ADVICE
    // r4): the grid must not leave the session pinned on its LAST
    // variant (GRPC + catalog-routed), silently changing the IO path
    // of any suite run that follows in the same session.
    val savedNs = spark.sql("SELECT current_catalog(), current_schema()")
      .head()
    try clientVariants.flatMap { case (_, enabled, client) =>
      GraftSession.withConf(spark,
        s"spark.sql.catalog.$catalog.gcs.analytics-core.enabled" ->
          enabled.toString,
        s"spark.sql.catalog.$catalog.gcs.client.type" -> client) {
        if (enabled && spark.conf.getOption(s"spark.sql.catalog.$catalog").isEmpty)
          spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftCatalog")
        val database = if (enabled) catalog else "spark_catalog"
        runSweep(spark, sfRoot, suites, database, runId, listener,
          confFlags(spark, catalog))
      }
    } finally {
      // The grid's suites issue `USE <catalog>.<db>` per pass;
      // restoring the confs without the CURRENT CATALOG/NAMESPACE
      // would leave the session pinned on the last variant's (DSv2)
      // catalog, so any later unqualified name resolves against the
      // read-only plugin — the same state the conf restore exists to
      // clean up.
      spark.sql(s"USE ${savedNs.getString(0)}.${savedNs.getString(1)}")
    }
  }

  /** Named-option parsing, mirroring the reference's picocli surface
    * (`IcebergBenchmark.java:38-78`): `--key value` pairs.
    */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  /** CLI, same options as the reference plus `--sf-dir` for the local
    * fixtures:
    *
    * {{{
    * Runner --tpch-dir <dir> [--tpcds-dir <dir>]
    *   --tpch-data-db <db> [--tpcds-data-db <db>]
    *   [--catalog-name <cat>] --output-path <dir> --run-id <id>
    *   --sf-dir <fixtureDir> | --sweep-root <fixturesRoot>
    * }}}
    *
    * Suites run TPC-DS first then TPC-H (`IcebergBenchmark.java:
    * 121-122`); each issues `USE catalog.db`; results append to one
    * CSV under `--output-path/--run-id`.
    */
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
    val outDir = opts.getOrElse("output-path",
      opts.getOrElse("output-gcs-path", "/tmp/graft-results"))
    val catalog = opts.getOrElse("catalog-name", "spark_catalog")
    val runId = opts.getOrElse("run-id", s"run_${System.currentTimeMillis()}")
    val spark = GraftSession.local()
    // Reference parity: dynamic partition overwrite and untruncated
    // plan strings, both runtime SQL confs.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    val listener = new MetricListener
    spark.sparkContext.addSparkListener(listener)
    // A non-default --catalog-name mounts the GraftCatalog plugin
    // (unless the user already configured an implementation), so the
    // suites' `USE <catalog>.<db>` resolves through a real DSv2
    // TableCatalog over the materialized warehouse — the reference's
    // resolution path (spark_submit_with_analytics_core.sh:11-14).
    if (catalog != "spark_catalog" &&
      spark.conf.getOption(s"spark.sql.catalog.$catalog").isEmpty)
      spark.conf.set(s"spark.sql.catalog.$catalog",
        "graft.sources.GraftCatalog")
    try {
      val flags = confFlags(spark, catalog)
      val suites = Seq(
        ("TPC-DS", opts.get("tpcds-dir"), opts.getOrElse("tpcds-data-db", "")),
        ("TPC-H", opts.get("tpch-dir"), opts.getOrElse("tpch-data-db", "")))
      // `--sweep-root <dir>`: run the whole suite grid once per sf*
      // fixture under <dir>, all rows in one CSV (runner.sh:26-41).
      // Adding `--variant-grid true` wraps the sweep in the three
      // client-variant passes (runner.sh's full submit grid).
      val rows = (opts.get("sweep-root"), opts.get("variant-grid")) match {
        case (Some(root), Some("true")) =>
          runVariantGrid(spark, root, suites, catalog, runId, Some(listener))
        case (Some(root), _) =>
          runSweep(spark, root, suites, catalog, runId, Some(listener), flags)
        case _ =>
          Tables.registerAll(spark, sfDir)
          queries.Corpus.register(spark, sfDir)
          queries.TpcdsCorpus.register(spark, sfDir)
          suites.flatMap {
            case (kind, Some(dir), db) =>
              runSuite(spark, kind, dir, catalog, db, runId, Some(listener), flags)
            case _ => Seq.empty
          }
      }
      Thread.sleep(2000) // drain listener bus (reference sleeps 10s, :217)
      writeResultsCsv(spark, rows, outDir, runId)
      rows.foreach(r => println(f"[runner] ${r.getString(3)} " +
        f"${r.getString(5)} ${r.getDouble(4)}%.3f"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.stop()
    }
  }
}
