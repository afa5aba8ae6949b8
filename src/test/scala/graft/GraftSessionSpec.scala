package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import graft.functions.GraftFunctions
import graft.plans.{TopK, TopKPerKeyStrategy, TopKRewrite}
import org.apache.spark.SparkConf

/** The session factory and the entry-run contract every harness goes
  * through (Bench, Verify, Runner, Explain and these suites). */
class GraftSessionSpec extends SparkSpec {
  import GraftSessionSpec.engineSourcesMatching

  private def cacheManager = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  test("a preset conf survives the defaults merge") {
    val preset = new SparkConf(false)
      .set("spark.sql.join.preferSortMergeJoin", "false")
    val merged = GraftSession.withDefaults(preset, 4)
    assert(merged.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(merged.get("spark.sql.shuffle.partitions") === "4")
    assert(!preset.contains("spark.sql.shuffle.partitions"),
      "the merge must not modify its input")
  }

  test("every default is present when nothing is preset") {
    val merged = GraftSession.withDefaults(new SparkConf(false), 3)
    val defaults = GraftSession.defaults(3)
    assert(defaults.toMap.size === defaults.size, "duplicate default key")
    defaults.foreach { case (k, v) => assert(merged.get(k) === v, k) }
    assert(merged.get("spark.master") === "local[3]")
  }

  test("the graft extension is appended to a preset extension list") {
    val ext = GraftSession.Extensions
    Seq(
      None -> ext,
      Some("other.Ext") -> s"other.Ext,$ext",
      Some(s"$ext, other.Ext") -> s"$ext, other.Ext"
    ).foreach { case (preset, expected) =>
      val conf = new SparkConf(false)
      preset.foreach(conf.set("spark.sql.extensions", _))
      assert(GraftSession.withDefaults(conf, 4).get("spark.sql.extensions") ===
        expected, preset)
    }
  }

  test("the shared test session carries the factory defaults") {
    GraftSession.defaults(4)
      .filterNot { case (k, _) => k == "spark.master" }
      .foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("TopK.register twice leaves one strategy and one rule") {
    TopK.register(spark)
    TopK.register(spark)
    assert(spark.sessionState.planner.strategies
      .count(_ == TopKPerKeyStrategy) === 1)
    assert(spark.experimental.extraOptimizations
      .count(_ == TopKRewrite) === 1)
  }

  test("every graft function resolves in SQL without registration") {
    Seq(spark, spark.newSession()).foreach { s =>
      GraftFunctions.all.foreach { case (ident, info, _) =>
        val described = s.sql(s"DESCRIBE FUNCTION ${ident.funcName}")
          .collect().map(_.getString(0)).mkString("\n")
        assert(described.contains(info.getClassName), ident.funcName)
      }
    }
  }

  test("runEntry clears the frames an entry caches") {
    spark.catalog.clearCache()
    var cachedDuringAction = false
    val (build, total) = GraftSession.runEntry(spark,
      SparkEntry.queries("graph_source_rank"), sf) { df =>
      cachedDuringAction = !cacheManager.isEmpty
      GraftSession.noop(df)
    }
    assert(cachedDuringAction, "graph_source_rank no longer caches a frame")
    assert(cacheManager.isEmpty)
    assert(build >= 0 && build <= total)
  }

  test("runEntry clears the cache when the action fails") {
    intercept[IllegalStateException] {
      GraftSession.runEntry(spark, (s, _) => s.range(10).toDF().cache(), sf) {
        _ => throw new IllegalStateException("action failed")
      }
    }
    assert(cacheManager.isEmpty)
  }

  test("no engine source outside GraftSession builds its own session") {
    val offenders = engineSourcesMatching("""SparkSession\.builder""".r)
      .filterNot(_ == Paths.get("graft", "GraftSession.scala").toString)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.local: ${offenders.mkString(", ")}")
  }

  test("no engine source registers the graft functions itself") {
    val offenders = engineSourcesMatching(
      """GraftFunctions\s*\.\s*register|createOrReplaceTempFunction""".r)
    assert(offenders.isEmpty,
      s"GraftSparkExtensions injects the functions: ${offenders.mkString(", ")}")
  }
}

object GraftSessionSpec {

  /** Engine sources (paths relative to `src/main/scala`) whose text
    * matches `pattern` — the source scans that pin one owner for a
    * mechanism. */
  def engineSourcesMatching(pattern: Regex): List[String] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root is not the engine source root")
    val stream = Files.walk(root)
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toList
    finally stream.close()
  }
}
