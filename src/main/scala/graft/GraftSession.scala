package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and the one entry-run loop of the engine:
  * Bench, Verify, Runner, Explain, the dev tools and the test suites
  * all build their session through [[local]], so every plan they
  * print, time or audit comes from the same policy.
  *
  * Each default goes in with `SparkConf.setIfMissing`: a `spark.*`
  * value from `spark-submit --conf` or a `-Dspark.…` system property
  * wins through Spark's own precedence. That is how a run A/Bs a
  * session conf, e.g. `-Dspark.sql.join.preferSortMergeJoin=false`.
  * The one exception is `spark.sql.extensions`: [[Extensions]]
  * installs the whole engine, so it is appended to a preset list
  * instead of yielding to it.
  */
object GraftSession {
  /** The extension class that installs the engine in a session. */
  val Extensions = "graft.sources.GraftSparkExtensions"

  /** Session defaults for a `local[cpus]` engine. */
  def defaults(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Join-planner policy, settled by a 10× fixture A/B
    // (plans/r17/shj_ab/README.md): estimate-driven shuffled-hash
    // planning was 2.35× faster on one entry and 3.4× slower on
    // another. Spark's conservative sort-merge planning plus AQE's
    // runtime rewrite turns a sort-merge join into shuffled-hash only
    // when every post-shuffle partition is MEASURED under the bound,
    // so a mis-estimated build side cannot OOM.
    "spark.sql.join.preferSortMergeJoin" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64MB",
    "spark.ui.enabled" -> "false",
    // The SQL status store keeps 1000 executions of plan/metric state
    // by default; over a whole-registry run its collection landed on
    // whichever entry allocated hardest (corpus_tpch_q01 read 13.2 s
    // in-suite vs 0.9 s isolated until retention was capped).
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.session.timeZone" -> "UTC",
    // The TopKPerKey rewrite is value-verified on its corpus hits
    // (q67/q70) and replaces their full window sorts with bounded
    // per-key heaps, so the gates exercise the operator the bench times.
    "spark.graft.topk.rewrite" -> "true")

  /** `conf` plus every default it does not already set, and with
    * [[Extensions]] added to its `spark.sql.extensions` list unless it
    * is already there (`conf` itself is left unchanged). */
  def withDefaults(conf: SparkConf, cpus: Int): SparkConf = {
    val merged = conf.clone()
    defaults(cpus).foreach { case (k, v) => merged.setIfMissing(k, v) }
    val exts = merged.get("spark.sql.extensions", "").split(",").map(_.trim)
      .filter(_.nonEmpty)
    if (!exts.contains(Extensions))
      merged.set("spark.sql.extensions", (exts :+ Extensions).mkString(","))
    merged
  }

  /** The deployment's core count, `SPARK_GRAFT_CPUS` (default 8:
    * at sf0.1 on a 32-core box local[8] beat local[32], 63 s vs 113 s,
    * because per-task scheduling dominates sub-second stages). */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(8) { v =>
    v.toIntOption.filter(_ > 0).getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The engine session: [[withDefaults]] over whatever the JVM's Spark
    * conf already holds, log level WARN, and the TopKPerKey rewrite rule
    * added by [[plans.TopK.register]]. */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .config(withDefaults(new SparkConf(), cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.TopK.register(spark)
    spark
  }

  /** Runs one registry entry under the contract [[Q]] documents:
    * `fn(spark, dir)` → `action` → `spark.catalog.clearCache()`, the
    * clear happening even when the entry fails. Both clocks start
    * before `fn` is called, so an entry that runs driver-side jobs
    * while it builds its frame is charged for them.
    *
    * @return (construction seconds, total seconds)
    */
  def runEntry(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String)(action: DataFrame => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      val built = System.nanoTime()
      action(df)
      ((built - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
    } finally spark.catalog.clearCache()
  }

  /** Materialize every row and column without keeping any — the
    * reference harness's `noop` sink (IcebergBenchmark.java:183). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
