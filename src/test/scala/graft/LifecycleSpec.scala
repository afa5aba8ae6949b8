package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.ops.Maintenance
import graft.sources.SnapStore

/** The one lifecycle driver behind the `maint_*` fixtures
  * ([[Maintenance.drive]]): a build cut after any step resumes to the
  * uninterrupted build, a built lifecycle commits nothing, and the
  * driver is the only place that locks, mounts and gates. Each build
  * runs on a private copy of the `documents` fixture, so its `maint`
  * root is this suite's alone.
  */
class LifecycleSpec extends SparkSpec with BeforeAndAfterAll {
  import GraftSessionSpec.engineSourcesMatching

  private var made = List.empty[Path]

  /** A fresh fixture directory holding only `documents`. */
  private def fixture(): String = {
    val d = Files.createTempDirectory("graft-lifecycle")
    Files.copy(Paths.get(sf, "documents.parquet"),
      d.resolve("documents.parquet"))
    made = d :: Maintenance.root(d.toString) :: made
    d.toString
  }

  override def afterAll(): Unit = {
    made.filter(Files.exists(_)).foreach { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    super.afterAll()
  }

  private def tablesOf(result: Any): Seq[Path] = result match {
    case t: Path => Seq(t)
    case (a: Path, b: Path) => Seq(a, b)
  }

  /** Every file under each table: a commit adds or removes some. */
  private def files(tables: Seq[Path]): Seq[Set[String]] = tables.map { t =>
    val walk = Files.walk(t)
    try walk.iterator().asScala.map(p => t.relativize(p).toString).toSet
    finally walk.close()
  }

  /** Per table: the live versions, each branch's head, the tags and
    * the current rows. */
  private def state(tables: Seq[Path]) = tables.map { t =>
    (SnapStore.liveVersions(t),
      SnapStore.listBranches(t).map(b => b -> SnapStore.branchHead(t, b)).toMap,
      SnapStore.tags(t),
      SnapStore.read(spark, t).collect().map(_.toString).sorted.toSeq)
  }

  /** Drives `lc` twice and checks that the second run commits nothing;
    * returns the built state. */
  private def buildTwice(dir: String,
      lc: Maintenance.Lifecycle[_]) = {
    Maintenance.drive(spark, dir, lc)
    val tables = tablesOf(lc.result)
    val before = files(tables)
    Maintenance.drive(spark, dir, lc)
    assert(files(tables) === before, "a second run must commit nothing")
    state(tables)
  }

  private val mountKey = "spark.graft.catalog.dir.maint"

  Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      Maintenance.Lifecycle[_])](
    "docs" -> (Maintenance.docs(_, _)),
    "docs_cdc" -> (Maintenance.docsCdc(_, _)),
    "docs_br" -> (Maintenance.docsBr(_, _)),
    "docs_wap" -> (Maintenance.docsWap(_, _)),
    "docs_wapc" -> (Maintenance.docsWapConf(_, _)),
    "docs_spj" -> (Maintenance.docsSpj(_, _))
  ).foreach { case (name, lifecycle) =>
    test(s"$name: resuming after any step, or running twice, gives the " +
      "uninterrupted build") {
      withConf(mountKey -> "unset") {
        val dir0 = fixture()
        val whole = lifecycle(spark, dir0)
        val want = buildTwice(dir0, whole)
        val n = whole.steps.size
        (1 until n).foreach { k =>
          val dir = fixture()
          val lc = lifecycle(spark, dir)
          Maintenance.drive(spark, dir, lc.copy(steps = lc.steps.take(k)))
          assert(buildTwice(dir, lc) === want, s"resumed after step $k of $n")
        }
      }
    }
  }

  test("a docs_spj build cut after its first commit finishes on the next " +
    "call") {
    withConf(mountKey -> "unset") {
      val dir = fixture()
      val rows = Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(3L)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("part"),
          col("source"), col("text"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("tok"))
      val t = Maintenance.root(dir).resolve("docs_spj_a")
      SnapStore.create(spark, t, rows.filter(col("part") === 0L), "part")
      val (ta, _) = Maintenance.ensureDocsSpj(spark, dir)
      assert(SnapStore.liveVersions(ta) === (1 to 8))
      assert(SnapStore.read(spark, ta).count() === rows.count())
    }
  }

  test("the SPJ entries leave their join confs unset") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    keys.foreach(spark.conf.unset)
    Maintenance.spjPartialJoin(spark, sf).collect()
    Maintenance.multiSpec(spark, sf).collect()
    assert(keys.filter(spark.conf.getAll.contains).isEmpty)
  }

  test("only the driver locks, mounts and gates in Maintenance; only " +
    "GraftSession.withConf restores a conf") {
    val src = Files.readString(Paths.get(sys.props("user.dir"), "src",
      "main", "scala", "graft", "ops", "Maintenance.scala"))
    val start = src.indexOf("def drive[")
    val end = src.indexOf("\n  }\n", start)
    assert(start >= 0 && end > start, "Maintenance.drive not found")
    val outside = src.take(start) + src.drop(end)
    Seq("synchronized", "mount(s, dir)", "if (SnapStore.").foreach(p =>
      assert(!outside.contains(p), s"'$p' outside Maintenance.drive"))
    val restores = engineSourcesMatching(
      """conf\.unset\(|(?s)finally.{0,120}conf\.set\(""".r)
      .filterNot(_ == Paths.get("graft", "GraftSession.scala").toString)
    assert(restores.isEmpty,
      s"restore confs through GraftSession.withConf: ${restores.mkString(", ")}")
  }
}
