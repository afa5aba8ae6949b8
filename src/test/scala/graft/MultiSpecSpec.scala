package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{PartTransforms, SnapStore, SnapSpj}

/** Multi-field partition specs (VERDICT r15 #1 — Iceberg's
  * `PARTITIONED BY (days(ts), bucket(4, id))` compound layouts):
  * per-field FileEntry bounds, conjunctive pruning, write-side
  * clustering on the compound transform, multi-transform SPJ, MOR
  * DML, and spec evolution to/from single-field specs.
  */
class MultiSpecSpec extends SparkSpec {

  private def rows(n: Long): DataFrame =
    spark.range(0, n).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      (col("id") * 3).as("x"))

  private def tempDir(tag: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d
  }

  // ----------------------------------------------------------------
  test("compound create stores PER-FIELD bounds and probeCandidates " +
    "prunes on the CONJUNCTION of both fields") {
    val t = tempDir("mspec").resolve("t")
    // part (identity, 4 values) × truncate(100, id): both monotonic
    // groups range-cluster, so per-field bounds stay tight.
    SnapStore.create(spark, t, rows(400), "part,truncate(100,id)",
      numFiles = 8)
    val m = SnapStore.currentManifest(t)
    assert(m.partCol == "part,truncate(100,id)")
    m.files.foreach { f =>
      assert(SnapStore.splitBounds(f.partMin).length == 2 &&
        SnapStore.splitBounds(f.partMax).length == 2,
        s"per-field bounds expected, got '${f.partMin}'/'${f.partMax}'")
    }
    assert(SnapStore.read(spark, t).count() == 400L)

    val all = m.files.size
    val byPart = SnapStore.probeCandidates(spark, m,
      col("part") === 1L).size
    val byBoth = SnapStore.probeCandidates(spark, m,
      col("part") === 1L && col("id") >= 0L && col("id") < 100L).size
    assert(byPart < all, "field-0 equality must prune")
    // Lexicographic range clustering keeps trailing-field bounds
    // tight only inside lead-value-pure files, so the conjunction is
    // asserted two ways: never looser than the lead field alone, and
    // DECISIVE when the trailing field's value is impossible.
    assert(byBoth <= byPart,
      s"conjunction looser than field-0 alone ($byBoth > $byPart)")
    val impossible = SnapStore.probeCandidates(spark, m,
      col("part") === 1L && col("id") === 999999L)
    assert(impossible.isEmpty,
      s"field-1 bounds must refute an impossible value, kept " +
        s"${impossible.size}")
  }

  // ----------------------------------------------------------------
  test("MOR DML on a compound table: deleteWhere suppresses exactly " +
    "the matching rows and carries non-matching files untouched") {
    val t = tempDir("msdml").resolve("t")
    SnapStore.create(spark, t, rows(400), "part,truncate(100,id)",
      numFiles = 8)
    val before = SnapStore.currentManifest(t)
    SnapStore.deleteWhere(spark, t,
      col("part") === 2L && col("id") < 100L)
    val after = SnapStore.currentManifest(t)
    val got = SnapStore.read(spark, t)
    assert(got.count() == 400L - 25L,
      "part=2 & id<100 is 25 rows of 400")
    assert(got.filter(col("part") === 2L && col("id") < 100L).count() == 0L)
    // Files provably outside the probe carried by identical path.
    val beforePaths = before.files.map(_.path).toSet
    val carried = after.files.map(_.path).count(beforePaths)
    assert(carried > 0, "bound-pruned files must carry untouched")
  }

  // ----------------------------------------------------------------
  test("multi-transform SPJ: tables co-partitioned on (identity, " +
    "bucket) join shuffle-free on both keys and match the shuffled " +
    "plan") {
    val dir = tempDir("msspj")
    def build(name: String, n: Long): Unit = {
      val t = dir.resolve(name)
      val data = rows(n)
      // Per-(part, bucket) appends guarantee every file single-valued
      // on BOTH fields — the layout the eligibility proof requires.
      var first = true
      (0L to 1L).foreach { p =>
        (0 until 4).foreach { b =>
          val slice = data.filter(col("part") === p &&
            pmod(hash(col("id")), lit(4)) === b)
          if (first) {
            SnapStore.create(spark, t, slice, "part,bucket(4,id)",
              numFiles = 1)
            first = false
          } else SnapStore.append(spark, t, slice, "part,bucket(4,id)",
            numFiles = 1)
        }
      }
    }
    build("ta", 200)
    build("tb", 120)
    // The layout is eligible: two transforms, one per spec field.
    val key = SnapSpj.layoutKey(SnapStore.currentManifest(dir.resolve("ta")))
    assert(key.exists(_.transforms.length == 2),
      s"expected a two-transform SPJ key, got $key")

    spark.conf.set("spark.graft.catalog.dir.msspj", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val joinSql =
      """SELECT a.part, a.id, a.x + b.x AS s
        |FROM graft.msspj.ta a JOIN graft.msspj.tb b
        |  ON a.part = b.part AND a.id = b.id
        |ORDER BY a.id""".stripMargin
    // tb holds the ids of parts 0–1 only: 60 of its 120 ids.
    val expected = spark.sql(joinSql).collect().toSeq
    assert(expected.size == 60)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.catalog.clearCache()
      val j = spark.sql(joinSql)
      val got = j.collect().toSeq
      assert(got == expected, "SPJ result must equal the shuffled plan's")
      val exch = graft.plans.PlanShape.exchangeCount(
        j.queryExecution.executedPlan)
      val plan = j.queryExecution.executedPlan.toString()
      assert(exch <= 1,
        s"expected at most the ORDER BY exchange, got $exch:\n$plan")
    }
  }

  // ----------------------------------------------------------------
  test("spec evolution to/from compound: old-spec files stay " +
    "conservative, post-evolution writes carry per-field bounds, " +
    "and reads are exact throughout") {
    val t = tempDir("msevo").resolve("t")
    SnapStore.create(spark, t, rows(100), "part", numFiles = 4)
    SnapStore.evolveSpec(t, "part,truncate(50,id)")
    assert(SnapStore.read(spark, t).count() == 100L)
    // Old files' single-field bounds under the compound spec: the
    // spec-mismatch guard keeps them in every probe (conservative).
    val m1 = SnapStore.currentManifest(t)
    val probed = SnapStore.probeCandidates(spark, m1,
      col("part") === 9L && col("id") === 999L)
    assert(probed.size == m1.files.size,
      "pre-evolution files must stay conservative under the new spec")
    // A post-evolution append writes compound bounds that DO prune.
    SnapStore.append(spark, t,
      rows(200).filter(col("id") >= 100), "part,truncate(50,id)",
      numFiles = 4)
    val m2 = SnapStore.currentManifest(t)
    val newFiles = m2.files.filter(_.specCol == "part,truncate(50,id)")
    assert(newFiles.nonEmpty &&
      newFiles.forall(f => SnapStore.splitBounds(f.partMin).length == 2))
    assert(SnapStore.read(spark, t).count() == 200L)
    // Back to a single field: the compound files turn conservative.
    SnapStore.evolveSpec(t, "part")
    assert(SnapStore.read(spark, t).count() == 200L)
    val m3 = SnapStore.currentManifest(t)
    assert(m3.partCol == "part")
    // Under the restored single-field spec the ORIGINAL files prune
    // again (their bounds are valid for it), while every compound-
    // bounded file stays conservative via the spec-mismatch guard.
    val probed3 = SnapStore.probeCandidates(spark, m3, col("part") === 0L)
    val compound = m3.files.filter(_.specCol == "part,truncate(50,id)")
    assert(compound.forall(f => probed3.exists(_.path == f.path)),
      "compound-bounded files must stay conservative under 'part'")
    assert(probed3.size < m3.files.size,
      "restored-spec files must prune under the restored spec")
  }

  // ----------------------------------------------------------------
  test("maint_multi_spec entry: the compound lifecycle's REQUIREs " +
    "hold and the delete-adjusted SPJ join aggregates per part") {
    val out = ops.Maintenance.multiSpec(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(out.map(_.getLong(1)).sum > 0, "the join must match pairs")
    // part2=1 lost its doc_id%3==0 rows to the MOR delete: fewer
    // pairs than the undeleted part2=0 side (both parts hold every
    // fifth doc_id on the b side, so the asymmetry is the delete).
    assert(out(1).getLong(1) < out(0).getLong(1),
      s"the MOR delete must shrink part2=1: ${out.toSeq}")
  }

  // ----------------------------------------------------------------
  test("parseMulti round-trips and renameSource rewrites one field " +
    "of a compound spec structurally") {
    val specs = PartTransforms.parseMulti("days(ts), bucket(4, id)")
    assert(specs.length == 2)
    assert(PartTransforms.rawMulti(specs) == "days(ts),bucket(4,id)")
    assert(!PartTransforms.isCompound("bucket(4,id)"),
      "the transform-internal comma is not a field separator")
    assert(PartTransforms.renameSource("days(ts),bucket(4,id)", "id",
      "doc") == "days(ts),bucket(4,doc)")
    assert(PartTransforms.renameSource("days(ts),bucket(4,id)", "ts",
      "t2") == "days(t2),bucket(4,id)")
  }
}
