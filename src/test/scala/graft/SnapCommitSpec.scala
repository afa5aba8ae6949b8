package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{SnapCommit, SnapStore}

/** The one commit path of the table layer ([[SnapCommit]]): what it
  * guarantees to every operation, and that no operation installs
  * metadata any other way. */
class SnapCommitSpec extends SparkSpec {
  import GraftSessionSpec.engineSourcesMatching

  private def freshTable(name: String): Path = {
    val dir = Files.createTempDirectory(s"graft-commitspec-$name")
    dir.toFile.deleteOnExit()
    dir.resolve("t")
  }

  /** Regular files under `t/data`, as table-relative paths. */
  private def dataFiles(t: Path): Set[String] = {
    val dir = t.resolve("data")
    if (!Files.isDirectory(dir)) return Set.empty
    val stream = Files.list(dir)
    try stream.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => s"data/${p.getFileName}").toSet
    finally stream.close()
  }

  test("a branch commit reads its retry budget from commit.retry.num-retries") {
    val t = freshTable("budget")
    SnapStore.createEmpty(t, StructType(Seq(
      StructField("id", LongType), StructField("part", LongType))), "part")
    SnapStore.createBranch(t, "b")
    SnapStore.setProperties(t, Map("commit.retry.num-retries" -> "0"))
    var attempts = 0
    val attemptFile = "data/attempt.parquet"
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapCommit.commit(t, Some("b")) { h =>
        attempts += 1
        Files.createDirectories(t.resolve("data"))
        Files.write(t.resolve(attemptFile), Array[Byte](1))
        // A competing writer publishes the same branch version first.
        SnapCommit.commit(t, Some("b")) { h2 =>
          (h2.cur.copy(version = h2.v, parent = h2.cur.version,
            operation = "rival"), Nil)
        }
        (h.cur.copy(version = h.v, parent = h.cur.version,
          operation = "loser"), Seq(attemptFile))
      }
    }
    assert(attempts === 1, e.getMessage)
    assert(!Files.exists(t.resolve(attemptFile)),
      "the losing attempt's file must be deleted")
    assert(SnapStore.branchHeadManifest(t, "b").operation === "rival")
  }

  test("racing creates of one table: one winner, the loser leaves no file") {
    val t = freshTable("create")
    val rows = spark.range(0, 2000).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"))
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val outcomes =
      try (1 to 2).map(_ => pool.submit(new Callable[Try[SnapStore.Manifest]] {
        def call(): Try[SnapStore.Manifest] = {
          barrier.await(60, TimeUnit.SECONDS)
          Try(SnapStore.create(spark, t, rows, "part", numFiles = 2))
        }
      })).map(_.get(300, TimeUnit.SECONDS))
      finally pool.shutdown()
    assert(outcomes.count(_.isSuccess) === 1, outcomes)
    val winner = SnapStore.currentManifest(t)
    assert(winner.version === 1)
    assert(dataFiles(t) === winner.files.map(_.path).toSet,
      "files on disk must be exactly the winner's")
    assert(SnapStore.read(spark, t).count() === 2000)
  }

  test("every metadata install goes through SnapCommit") {
    val linkers = engineSourcesMatching("""Files\s*\.\s*createLink""".r)
    assert(linkers === List(Paths.get("graft", "sources", "SnapCommit.scala").toString),
      "only SnapCommit may hard-link an install into place")
    val retired = engineSourcesMatching(
      """withCommitRetry|withBranchCommitRetry|tryCommitManifest|commitManifest""".r)
    assert(retired.isEmpty,
      s"commit through SnapCommit.commit: ${retired.mkString(", ")}")
  }
}
