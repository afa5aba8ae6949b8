package bench

import java.lang.management.ManagementFactory
import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed unit of work. `run` does the op's driver-side work and
  * returns the frame its final action writes, if any. `pre` runs
  * untimed just before it. `expect` is the known answer of a table
  * read; `ingested` the user bytes a table write carries in.
  */
final case class Op(name: String, run: () => Option[DataFrame],
    expect: Option[Expect] = None, ingested: Long = 0L,
    range: Boolean = false, pre: () => Unit = () => ())

/** What one pass measured: op latencies (`samples`) and SnapStore call
  * latencies (`calls`). */
final case class Pass(wall: Double, cpu: Double, samples: Seq[(String, Double)],
    calls: Seq[(String, Double)], traced: Boolean)

/** The benchmark harness: one JVM runs one workload for one seed.
  *
  * Set-up starts a Spark session with the engine's bench confs, builds
  * the engine fixtures the ops read and runs an untimed warm-up pass
  * that also fingerprints every op's result and checks it. Then it runs
  * passes over the workload's ops, each in a seeded order, until the
  * time budget is spent, and writes the metrics as JSON to `out`.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * work (a scratch directory it owns), data (the input tables) and
  * datagen_s (seconds spent making them), expected (pinned
  * fingerprints), out, t0 (epoch ms this JVM was launched, which is
  * where set-up starts), spans (trace
  * output file), and pin=1 to write fingerprints instead of timing.
  */
object Main {
  /** SQL analytics: executor, scan, shuffle and Catalyst bound, with
    * almost no driver-side construction. */
  val SqlOps = Seq("tpch_q01", "tpch_q05", "tpch_q06", "tpch_q18",
    "tpcds_rollup_grouping", "tpch_bucketed_join", "tpch_partitioned_scan",
    "plan_topk_per_key")
  /** LLM-pipeline operators: driver-looped and job-latency bound, or
    * built on the native `graft.functions` expressions. */
  val LlmOps = Seq("dedup_keep_best", "graph_pagerank_iter", "sim_topk_lsh",
    "text_tokens", "pipe_repetition")

  val Workloads: Map[String, Seq[String]] = Map(
    "queries" -> (SqlOps ++ LlmOps),
    "table_commits" -> Seq.empty)

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def now(): Long = System.currentTimeMillis()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val work = Paths.get(a("work")).toAbsolutePath
    val result = new Harness(workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", work, a("data"), a("datagen_s").toDouble,
      Paths.get(a("expected")), a("t0").toLong, a.get("pin").contains("1"),
      a.get("spans").map(Paths.get(_))).run()
    json.writeValue(Paths.get(a("out")).toFile, result)
  }

  // ------------------------------------------------------------------
  // Result fingerprints.

  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  private def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString

  /** Canonical text of one cell: numbers to nine significant digits
    * (summation order can move the last bits), times as UTC instants.
    */
  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else num(new java.math.BigDecimal(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else num(new java.math.BigDecimal(f.toDouble))
    case b: java.math.BigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case other => other.toString
  }

  /** The pinned fingerprints: op name → (rows, digest). */
  def pinned(path: Path): Map[String, (Long, String)] = {
    val root = json.readTree(path.toFile)
    root.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("sha").asText())
    }.toMap
  }

  /** Row count and order-independent digest of a result. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(r => r.toSeq.map(render).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}

final class Harness(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, dir: String, datagen: Double,
    expectedPath: Path, t0Ms: Long, pin: Boolean, spansPath: Option[Path]) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var opSeq = 0L

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[bench] FAILED $what")
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.extensions", "graft.sources.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.TopK.register(s)
    s.conf.set("spark.graft.topk.rewrite", "true")
    s
  }

  def run(): Map[String, Any] = {
    val spark = session()
    val sessionStart = (now() - t0Ms) / 1e3

    // Fixtures: the engine's own load-time layouts for the ops, or the
    // lineitem rows the table_commits script starts every table from.
    val f0 = System.nanoTime()
    if (Workloads(workload).contains("tpch_bucketed_join"))
      graft.queries.Bucketed.register(spark, dir)
    if (Workloads(workload).contains("tpch_partitioned_scan"))
      graft.queries.PartitionedWarehouse.register(spark, dir)
    val table = if (workload == "table_commits")
      Some(new TableCommits(spark, TableCommits.lineitem(spark, dir), seed))
    else None
    val fixtures = secs(f0)

    val registry = graft.SparkEntry.queries
    val names = Workloads(workload)
    val expected = if (pin) Map.empty[String, (Long, String)] else pinned(expectedPath)

    val spaceAmps = mutable.ArrayBuffer.empty[Double]
    var tableRoot: Path = work
    def passOps(pass: Int): Seq[Op] = table match {
      case Some(tc) =>
        tableRoot = work.resolve("tables").resolve(s"pass-$pass")
        val root = tableRoot
        tc.script(pass, root, () => spaceAmps += TableCommits.spaceAmp(root))
      case None =>
        new scala.util.Random(seed * 1000003L + pass).shuffle(names)
          .map(n => Op(n, () => Some(registry(n)(spark, dir))))
    }

    val tracer = new Tracer
    val pins = mutable.LinkedHashMap.empty[String, (Long, String)]

    val snap = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def snapStats(op: Op, before: Map[String, Long]): Unit = {
      val after = TableCommits.files(tableRoot)
      val added = after.filter { case (p, n) => !before.get(p).contains(n) }
      val (data, meta) = added.partition(_._1.startsWith("data"))
      snap("data_bytes") += data.values.sum
      snap("meta_bytes") += meta.values.sum
      snap("files_added") += data.size
      snap("ingested") += op.ingested
      if (op.range) {
        val m = graft.sources.SnapStore.currentManifest(tableRoot)
        val df = op.run().get
        snap("range_files") += df.inputFiles.length
        snap("range_total") += m.files.size
      }
    }

    /** Runs one op; returns its wall seconds, or None if it failed. */
    def runOp(op: Op, check: Boolean, traced: Boolean): Option[Double] = {
      op.pre()
      opSeq += 1
      attempted += 1
      val sc = spark.sparkContext
      val before =
        if (traced && table.isDefined) TableCommits.files(tableRoot)
        else Map.empty[String, Long]
      tracer.op = opSeq
      val startMs = now()
      val t0 = System.nanoTime()
      var constructEnd = startMs
      val ok = try {
        sc.setLocalProperty(Tracer.PhaseKey, "construct")
        val df = op.run()
        constructEnd = now()
        sc.setLocalProperty(Tracer.PhaseKey, "action")
        df.foreach { d =>
          if (!check) d.write.format("noop").mode("overwrite").save()
          else op.expect match {
            case Some(e) =>
              val r = d.agg(count(lit(1)), sum(col("k")), sum(col("qty"))).head()
              val got = Expect(r.getLong(0), r.getLong(1), r.getDouble(2).toLong)
              if (got != e) fail(s"${op.name}: read $got, model says $e")
            case None =>
              val fp = fingerprint(d)
              if (pin) pins(op.name) = fp
              else expected.get(op.name) match {
                case Some(want) if want == fp => ()
                case want => fail(s"${op.name}: result $fp, pinned $want")
              }
          }
        }
        true
      } catch { case NonFatal(e) =>
        fail(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      } finally {
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
      val dt = secs(t0)
      val endMs = now()
      spark.catalog.clearCache()
      if (traced) {
        Tracer.drain(spark)
        tracer.addSpan(Span(opSeq, 0L, opSeq, s"op:${op.name}", startMs, endMs))
        tracer.span(opSeq, "construct", startMs, constructEnd)
        tracer.span(opSeq, "action", constructEnd, endMs)
        tracer.addCount("construct_s", (constructEnd - startMs) / 1e3)
        tracer.addCount("driver_gap_s", tracer.gapSeconds(startMs, endMs))
        if (table.isDefined) snapStats(op, before)
      }
      if (ok) Some(dt) else None
    }

    /** Tracer counters of each traced pass. */
    val passCounts = mutable.ArrayBuffer.empty[Map[String, Double]]
    val bean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** One pass over the workload's ops. */
    def pass(i: Int, check: Boolean, traced: Boolean): Pass = {
      val ops = passOps(i)
      if (traced) tracer.attach(spark)
      val cpu0 = bean.getProcessCpuTime
      val t0 = System.nanoTime()
      val samples = ops.flatMap(op => runOp(op, check, traced).map(op.name -> _))
      val p = Pass(secs(t0), (bean.getProcessCpuTime - cpu0) / 1e9, samples,
        table.map(_.drainCalls()).getOrElse(Nil), traced)
      if (traced) {
        tracer.detach(spark)
        passCounts += tracer.counts.toMap
        tracer.counts.clear()
      }
      // The final state must match the model in every pass.
      ops.lastOption.filter(_.expect.isDefined && !check)
        .foreach(last => runOp(last, check = true, traced = false))
      if (table.isDefined) graft.sources.SnapStore.dropTable(tableRoot)
      p
    }

    // Warm-up: JIT, fixture caches and lazy set-up, checking results.
    val w0 = System.nanoTime()
    pass(0, check = true, traced = false)
    val warmup = secs(w0)
    if (pin) {
      val oracle = graft.SparkEntry.oracleSql
      spark.stop()
      return Map("workload" -> workload,
        "pinned" -> pins.map { case (k, (n, h)) =>
          k -> Map("rows" -> n, "sha" -> h, "oracle" -> oracle.getOrElse(k, null))
        })
    }
    val setup = (now() - t0Ms) / 1e3

    // Timed passes: whole passes, at least two, until the time is spent;
    // every pass holds the same op mix, so percentiles over the samples
    // do not shift with where the time ran out. A traced run interleaves
    // untraced and traced passes (untraced, traced, traced, untraced, ...),
    // at least two of each, so the difference of their medians is the
    // tracing overhead and JIT warm-up favours neither side.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Pass]
    while (System.nanoTime() < deadline || passes.size < (if (trace) 4 else 2))
      passes += pass(1 + passes.size, check = false,
        traced = trace && Set(1, 2)(passes.size % 4))

    // Heap in use after full collections. Spark's cleaner frees broadcast
    // and shuffle state only after a collection has cleared its weak
    // references, so collect until the reading stops falling.
    def heapMb(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var liveHeap = heapMb()
    var next = heapMb()
    var rounds = 2
    while (next < liveHeap * 0.99 && rounds < 5) { liveHeap = next; next = heapMb(); rounds += 1 }
    liveHeap = math.min(liveHeap, next)
    val probe = HostProbe.run()
    spark.stop()

    def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
    def quantile(xs: collection.Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

    val untraced = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val samples = untraced.flatMap(_.samples)
    val byOp = samples.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val geomean = math.exp(byOp.values.map(v => math.log(median(v))).sum / byOp.size)
    val commits = untraced.flatMap(_.calls)
      .filter(c => Set("append", "merge", "delete", "compact")(c._1)).map(_._2)
    val failed = failures.size.toLong

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "passes" -> passes.size, "samples" -> samples.size,
      "fail_ratio" -> failed.toDouble / math.max(1L, attempted),
      "failures" -> failures.take(20).toSeq,
      "host_probe_s" -> probe,
      "setup" -> Map("session_start_s" -> sessionStart,
        "datagen_s" -> datagen, "fixtures_s" -> fixtures, "warmup_s" -> warmup),
      "pass_walls_s" -> passes.map(_.wall).toSeq,
      "op_p50_s" -> byOp.map { case (k, v) => k -> median(v) })
    if (table.isDefined) {
      val t = mutable.LinkedHashMap[String, Any](
        "commit_p50_s" -> median(commits),
        "commit_p90_s" -> quantile(commits, 0.9),
        "read_p50_s" -> median(byOp("snap_read")),
        "space_amp" -> median(spaceAmps))
      if (trace) {
        t("write_amp") = (snap("data_bytes") + snap("meta_bytes")) / snap("ingested")
        t("range_files_ratio") = snap("range_files") / snap("range_total")
      }
      detail("table") = t
    }
    if (trace) {
      detail("trace_overhead_s") =
        median(traced.map(_.wall)) - median(untraced.map(_.wall))
      // A count is exact only if every traced pass saw the same value.
      detail("exact_counts") = Seq("jobs", "stages", "tasks", "construct_jobs")
        .filter(k => passCounts.map(_.getOrElse(k, 0.0)).distinct.size == 1)
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setup, "s"),
        ("pass_s", median(untraced.map(_.wall)), "s"),
        ("op_geomean_s", geomean, "s"),
        ("op_p90_s", quantile(samples.map(_._2), 0.9), "s"),
        ("cpu_s", median(untraced.map(_.cpu)), "s"),
        ("live_heap_mb", liveHeap, "MB"),
        ("ok_ratio", 1.0 - failed.toDouble / math.max(1L, attempted), "ratio"))
      else {
        // Every layer figure is a total per traced pass. A workload that
        // never enters a layer (queries never calls SnapStore) spends a
        // measured zero there.
        val nt = traced.size.toDouble
        def c(k: String): Double = passCounts.map(_.getOrElse(k, 0.0)).sum / nt
        def inCalls(o: String): Double =
          traced.flatMap(_.calls).filter(_._1 == o).map(_._2).sum / nt
        def inOps(o: String): Double =
          traced.flatMap(_.samples).filter(_._1 == o).map(_._2).sum / nt
        Seq(("session_start_s", sessionStart, "s"), ("fixtures_s", fixtures, "s"),
          ("warmup_s", warmup, "s")) ++
        Seq("construct_s" -> "s", "construct_jobs" -> "count",
          "analysis_s" -> "s", "optimizer_s" -> "s", "planning_s" -> "s",
          "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
          "driver_gap_s" -> "s", "exec_run_s" -> "s", "exec_cpu_s" -> "s",
          "exec_gc_s" -> "s").map { case (k, u) => (k, c(k), u) } ++
        Seq(("exec_util", c("exec_run_s") / (median(traced.map(_.wall)) * cores),
          "ratio")) ++
        Seq("shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
          "spill_mb" -> "MB", "input_mb" -> "MB", "input_rows" -> "count")
          .map { case (k, u) => (k, c(k), u) } ++
        Seq("append", "merge", "delete", "compact", "expire")
          .map(o => (s"snap.${o}_s", inCalls(o), "s")) ++
        Seq(("snap.read_s", inOps("snap_read"), "s"),
          ("snap.read_range_s", inOps("snap_read_range"), "s"),
          ("snap.data_bytes_written", snap("data_bytes") / nt, "bytes"),
          ("snap.meta_bytes_written", snap("meta_bytes") / nt, "bytes"),
          ("snap.files_added", snap("files_added") / nt, "count"))
      }
    spansPath.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      json.writeValue(p.toFile, tracer.spans)
    }

    Map("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
        .toMap,
      "detail" -> detail)
  }
}

