package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.SnapStore

/** Round-12 Iceberg faces: `TIMESTAMP AS OF` + rollback_to_timestamp,
  * `add_files` onboarding, id-keyed WAP (`spark.wap.id` +
  * cherry-pick), the full MERGE clause surface, the `.all_*`
  * metadata-table family, and the four ADVICE r11 regressions
  * (no-op staged delete, early WAP-over-MOR refusal, streaming
  * option validation, entries-table gone delete files).
  */
class IcebergFacesSpec extends SparkSpec {

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
  test("TIMESTAMP AS OF resolves stamped instants to the latest " +
    "at-or-before snapshot; a pre-first-commit instant errors like " +
    "Iceberg; rollback_to_timestamp restores the resolved snapshot") {
    val root = Files.createTempDirectory("graft-tsspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")
    val i1 = SnapStore.commitInstantMs(t, 1)
    while (System.currentTimeMillis() <= i1) Thread.sleep(1L)
    SnapStore.append(spark, t,
      docs.filter(pmod(col("doc_id"), lit(9L)) === 0)
        .withColumn("doc_id", col("doc_id") + 100000L), "part")
    val i2 = SnapStore.commitInstantMs(t, 2)
    assert(i2 > i1, "distinct stamped instants required")
    mountAs("tsspec", root)

    val n1 = docs.count()
    val n9 = docs.filter(pmod(col("doc_id"), lit(9L)) === 0).count()
    // At v1's instant: the pre-append snapshot.
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.tsspec.t " +
      s"TIMESTAMP AS OF timestamp_millis(${i1}L)")
      .collect()(0).getLong(0) == n1)
    // At (and after) v2's instant: the head.
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.tsspec.t " +
      s"TIMESTAMP AS OF timestamp_millis(${i2 + 60000}L)")
      .collect()(0).getLong(0) == n1 + n9)
    // Before the first commit: the Iceberg-shaped error.
    val e = intercept[Exception] {
      spark.sql("SELECT COUNT(*) AS n FROM graft.tsspec.t " +
        s"TIMESTAMP AS OF timestamp_millis(${i1 - 60000}L)").collect()
    }
    assert(e.getMessage.contains("Cannot find a snapshot older than"),
      s"wrong error: ${e.getMessage}")

    // rollback_to_timestamp: resolve i1 → v1, commit a rollback.
    val res = spark.sql("CALL graft.system.rollback_to_timestamp(" +
      s"'tsspec.t', ${i1}L)").collect()(0)
    assert(res.getInt(1) == 3, "rollback commits a NEW version")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.tsspec.t")
      .collect()(0).getLong(0) == n1,
      "post-rollback contents must equal the v1 snapshot")
    // ancestors_of over the chain: 3 → 2 → 1.
    val anc = spark.sql("CALL graft.system.ancestors_of('tsspec.t', 0)")
      .collect().map(_.getInt(0)).toSeq
    assert(anc == Seq(3, 2, 1), s"ancestry walk wrong: $anc")
    // expire_snapshot_id drops exactly the named snapshot; the head
    // refuses.
    intercept[Exception] {
      spark.sql("CALL graft.system.expire_snapshot_id('tsspec.t', 3)")
        .collect()
    }
    val exp = spark.sql("CALL graft.system.expire_snapshot_id('tsspec.t', 2)")
      .collect()(0)
    assert(exp.getInt(0) == 1)
    assert(SnapStore.liveVersions(t) == Seq(1, 3))
  }

  // ----------------------------------------------------------------
  test("timestamp-travel property (seed-stable): after a random " +
    "commit sequence, every recorded instant resolves to exactly " +
    "the state that was current then") {
    val rnd = new scala.util.Random(0x715aee1L)
    val root = Files.createTempDirectory("graft-tsprop")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    var nextId = 0L
    def batch(n: Int) = {
      val ids = (nextId until nextId + n).toSeq; nextId += n
      spark.createDataFrame(ids.map(i => (i, s"v$i"))).toDF("id", "txt")
        .select(col("id"), pmod(col("id"), lit(4L)).as("part"), col("txt"))
    }
    SnapStore.create(spark, t, batch(20), "part")
    def tick(): Unit = {
      val head = SnapStore.commitInstantMs(t,
        SnapStore.currentVersion(t).get)
      while (System.currentTimeMillis() <= head) Thread.sleep(1L)
    }
    val states = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def record(): Unit = {
      val v = SnapStore.currentVersion(t).get
      states += ((SnapStore.commitInstantMs(t, v),
        SnapStore.read(spark, t).count()))
    }
    record()
    (1 to 6).foreach { _ =>
      tick()
      rnd.nextInt(3) match {
        case 0 => SnapStore.append(spark, t, batch(1 + rnd.nextInt(5)), "part")
        case 1 => SnapStore.deleteWhere(spark, t,
          col("id") % 7 === rnd.nextInt(7).toLong)
        case 2 => SnapStore.rollback(t,
          SnapStore.liveVersions(t).head) // back to v1, as a new commit
      }
      record()
    }
    spark.conf.set("spark.graft.catalog.dir.tsprop", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    states.foreach { case (ms, n) =>
      val got = spark.sql("SELECT COUNT(*) AS n FROM graft.tsprop.t " +
        s"TIMESTAMP AS OF timestamp_millis(${ms}L)")
        .collect()(0).getLong(0)
      assert(got == n, s"as-of $ms: got $got want $n")
    }
  }

  // ----------------------------------------------------------------
  test("add_files adopts external parquet metadata-only: mtimes " +
    "untouched, bounds prune, MOR deletes apply, name collisions " +
    "and empty sources refuse") {
    val root = Files.createTempDirectory("graft-addspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs.filter(col("part") < 2), "part",
      keyCol = "doc_id")
    val ext = root.resolve("ext")
    docs.filter(col("part") >= 2)
      .write.mode("overwrite").parquet(ext.toString)
    val extFiles = {
      val s = Files.list(ext)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      } finally s.close()
    }
    val mtimes = extFiles.map(p => p -> Files.getLastModifiedTime(p)).toMap

    val m = SnapStore.addFiles(spark, t, ext)
    assert(m.version == 2)
    // Metadata-only: the adopted bytes were never touched.
    extFiles.foreach(p =>
      assert(Files.getLastModifiedTime(p) == mtimes(p),
        s"adopted file rewritten: $p"))
    // Adopted entries carry absolute paths + real stats, and the
    // manifest bounds PRUNE them: a part<2 probe keeps no adopted
    // file (they hold parts 2–3 only).
    val adopted = m.files.filter(_.path.startsWith(ext.toString))
    assert(adopted.nonEmpty && adopted.forall(_.rows > 0))
    val cand = SnapStore.probeCandidates(spark, m, col("part") === 0L)
    assert(!cand.exists(_.path.startsWith(ext.toString)),
      "part=0 probe must prune every adopted (part>=2) file")
    // Reads serve owned + adopted alike.
    assert(SnapStore.read(spark, t).count() == docs.count())
    // A MOR equality delete applies to adopted files too (their seq
    // precedes the delete's).
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 0).select("doc_id"),
      "doc_id")
    val n7 = docs.filter(pmod(col("doc_id"), lit(7L)) === 0).count()
    assert(SnapStore.read(spark, t).count() == docs.count() - n7)
    assert(SnapStore.read(spark, t)
      .filter(pmod(col("doc_id"), lit(7L)) === 0 &&
        col("part") >= 2).count() == 0,
      "the delete must suppress rows in ADOPTED files")
    // Re-adopting the same directory collides on names → refuses.
    intercept[IllegalArgumentException] {
      SnapStore.addFiles(spark, t, ext)
    }
    // An empty source refuses.
    val empty = root.resolve("empty")
    Files.createDirectories(empty)
    intercept[IllegalArgumentException] {
      SnapStore.addFiles(spark, t, empty)
    }
  }

  // ----------------------------------------------------------------
  test("CREATE TABLE / CTAS / DROP TABLE: snapshot tables are born " +
    "empty under mounted warehouses, CTAS lands create+write, the " +
    "full DML surface works on created tables, corpus dirs stay " +
    "read-only") {
    val root = Files.createTempDirectory("graft-ddlspec")
    root.toFile.deleteOnExit()
    mountAs("ddl", root)

    // CREATE TABLE: empty v1, readable (0 rows), partitioned spec +
    // key column recorded.
    spark.sql("""CREATE TABLE graft.ddl.t (id BIGINT, part BIGINT,
      txt STRING) PARTITIONED BY (part)
      TBLPROPERTIES ('key.column' = 'id')""")
    val t = root.resolve("t")
    assert(SnapStore.isSnapTable(t))
    val m1 = SnapStore.currentManifest(t)
    assert(m1.version == 1 && m1.files.isEmpty &&
      m1.partCol == "part" && m1.keyCol == "id")
    assert(spark.table("graft.ddl.t").count() == 0,
      "a freshly created table must read as empty")

    // The normal write + DML faces work on a created table.
    spark.sql("INSERT INTO graft.ddl.t " +
      "SELECT id, pmod(id, 4), concat('d', id) FROM range(0, 32)")
    assert(spark.table("graft.ddl.t").count() == 32)
    spark.sql("UPDATE graft.ddl.t SET txt = 'u' WHERE id = 5")
    spark.sql("DELETE FROM graft.ddl.t WHERE id >= 30")
    assert(spark.table("graft.ddl.t").count() == 30)
    assert(spark.sql("SELECT txt FROM graft.ddl.t WHERE id = 5")
      .collect()(0).getString(0) == "u")

    // Creating over an existing table refuses with the analysis error.
    intercept[org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException] {
      spark.sql("CREATE TABLE graft.ddl.t (x INT)")
    }
    // CREATE TABLE IF NOT EXISTS is a no-op on the conflict.
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ddl.t (x INT)")
    assert(spark.table("graft.ddl.t").count() == 30)

    // Hidden-transform PARTITIONED BY round-trips onto the spec.
    spark.sql("""CREATE TABLE graft.ddl.tb (id BIGINT, d DATE)
      PARTITIONED BY (bucket(4, id))""")
    assert(SnapStore.currentManifest(root.resolve("tb"))
      .partCol == "bucket(4,id)")
    spark.sql("""CREATE TABLE graft.ddl.td (id BIGINT, d DATE)
      PARTITIONED BY (days(d))""")
    assert(SnapStore.currentManifest(root.resolve("td"))
      .partCol == "days(d)")

    // CTAS: create + write land together; contents queryable.
    spark.sql("CREATE TABLE graft.ddl.c PARTITIONED BY (part) AS " +
      "SELECT id, pmod(id, 4) AS part, concat('c', id) AS txt " +
      "FROM range(0, 16)")
    assert(spark.table("graft.ddl.c").count() == 16)
    assert(SnapStore.currentManifest(root.resolve("c")).partCol == "part")

    // DROP TABLE removes the tree; the name is reusable.
    spark.sql("DROP TABLE graft.ddl.c")
    assert(!Files.exists(root.resolve("c")))
    intercept[Exception] { spark.table("graft.ddl.c").count() }
    spark.sql("CREATE TABLE graft.ddl.c (x INT)")
    assert(spark.table("graft.ddl.c").count() == 0)

    // Corpus parquet warehouses stay read-only: a plain parquet dir
    // refuses DROP.
    val pq = root.resolve("plainpq")
    spark.range(4).write.parquet(pq.toString)
    val e = intercept[Exception] { spark.sql("DROP TABLE graft.ddl.plainpq") }
    assert(e.getMessage.contains("read-only"), e.getMessage)

    // TRUNCATE TABLE (the advertised capability) empties the table as
    // one COW commit; the pre-truncate contents still time-travel.
    val preVer = SnapStore.currentVersion(t).get
    spark.sql("TRUNCATE TABLE graft.ddl.t")
    assert(spark.table("graft.ddl.t").count() == 0,
      "TRUNCATE must empty the table")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ddl.t " +
      s"VERSION AS OF '$preVer'").collect()(0).getLong(0) == 30L,
      "pre-truncate contents must still time-travel")

    // CREATE OR REPLACE TABLE AS SELECT: drop + recreate compose.
    spark.sql("CREATE OR REPLACE TABLE graft.ddl.c PARTITIONED BY " +
      "(part) AS SELECT id, pmod(id, 4) AS part, 'r' AS txt " +
      "FROM range(0, 12)")
    assert(spark.table("graft.ddl.c").count() == 12,
      "CREATE OR REPLACE must land the replacement contents")
    assert(spark.table("graft.ddl.c").schema.fieldNames.toSeq ==
      Seq("id", "part", "txt"))

    // CALL evolve_spec: metadata-only partition-spec evolution via
    // the SQL procedure face.
    val res = spark.sql(
      "CALL graft.system.evolve_spec('ddl.c', 'bucket(4,id)')")
      .collect()(0)
    assert(res.getString(1) == "bucket(4,id)")
    assert(SnapStore.currentManifest(root.resolve("c"))
      .partCol == "bucket(4,id)")
    assert(spark.table("graft.ddl.c").count() == 12,
      "spec evolution must not touch contents")
  }

  // ----------------------------------------------------------------
  test("add_files composes with split manifests: adopting into a " +
    ">64-file table groups absolute-path entries and round-trips") {
    val root = Files.createTempDirectory("graft-addsplit")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    // >64 owned files → the manifest is already split (range-cluster
    // on doc_id so no range is empty at the small fixture).
    SnapStore.create(spark, t, docs, "part", numFiles = 80,
      clusterExprs = Seq(col("doc_id")))
    assert(SnapStore.currentManifest(t).groups.nonEmpty,
      "fixture must exercise the split-manifest layer")
    val ext = root.resolve("ext")
    docs.withColumn("doc_id", col("doc_id") + 40000L)
      .write.mode("overwrite").parquet(ext.toString)
    val m = SnapStore.addFiles(spark, t, ext)
    assert(m.files.count(_.path.startsWith(ext.toString)) > 0)
    // The committed split manifest round-trips the absolute paths.
    val reread = SnapStore.currentManifest(t)
    assert(reread.groups.nonEmpty)
    assert(reread.files.map(_.path).toSet == m.files.map(_.path).toSet)
    assert(SnapStore.read(spark, t).count() == docs.count() * 2)
  }

  // ----------------------------------------------------------------
  test("MERGE INTO a freshly created EMPTY table inserts through the " +
    "row-level path (no groups to replace)") {
    val root = Files.createTempDirectory("graft-emptymerge")
    root.toFile.deleteOnExit()
    mountAs("emt", root)
    spark.sql("""CREATE TABLE graft.emt.t (id BIGINT, part BIGINT,
      txt STRING) PARTITIONED BY (part)""")
    spark.sql(
      """MERGE INTO graft.emt.t t
        |USING (SELECT id, pmod(id, 4L) AS part,
        |  concat('m', id) AS txt FROM range(0, 10)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET txt = s.txt
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.emt.t").count() == 10,
      "MERGE into an empty table must insert every source row")
  }

  // ----------------------------------------------------------------
  test("compaction folds ADOPTED files into owned data/ files — the " +
    "second half of the 100 TB migration (adopt now, localize on " +
    "the table's own maintenance schedule)") {
    val root = Files.createTempDirectory("graft-addfold")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs.filter(col("part") < 2), "part")
    val ext = root.resolve("ext")
    docs.filter(col("part") >= 2)
      .write.mode("overwrite").parquet(ext.toString)
    SnapStore.addFiles(spark, t, ext)
    val total = SnapStore.currentManifest(t).files.map(_.bytes).sum
    val m = SnapStore.compact(spark, t, "part", targetBytes = total + 1)
    assert(!m.files.exists(_.path.startsWith(ext.toString)),
      "the full bin-pack must rewrite adopted files into owned ones")
    assert(m.files.forall(_.path.startsWith("data/")))
    assert(SnapStore.read(spark, t).count() == docs.count(),
      "the fold must preserve every adopted row")
    // The external source files are NOT ours to delete even after
    // the fold (older snapshots still reference them until expiry).
    assert(Files.list(ext).count() > 0)
  }

  // ----------------------------------------------------------------
  test("cherry-pick races a concurrent append: both effects land, " +
    "the version log stays gapless") {
    val root = Files.createTempDirectory("graft-cherryrace")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 24).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part")
    // Stage an append under an id.
    SnapStore.ensureBranch(t, SnapStore.wapStageBranch("race"))
    SnapStore.appendToBranch(spark, t, SnapStore.wapStageBranch("race"),
      spark.range(1000, 1008).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"), lit("staged").as("txt")),
      "part")
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val fs = Seq(
      () => { SnapStore.cherrypickSnapshot(spark, t, "race"); () },
      () => { SnapStore.append(spark, t,
        spark.range(2000, 2008).select(col("id"),
          pmod(col("id"), lit(4L)).as("part"), lit("app").as("txt")),
        "part"); () }
    ).map { f =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = { gate.await(); f() }
      })
    }
    gate.countDown()
    fs.foreach(_.get())
    pool.shutdown()
    assert(SnapStore.liveVersions(t) == Seq(1, 2, 3),
      "both racing commits must land, gapless")
    val after = SnapStore.read(spark, t)
    assert(after.filter(col("id") >= 1000 && col("id") < 1008).count() == 8,
      "the cherry-picked rows must land")
    assert(after.filter(col("id") >= 2000).count() == 8,
      "the racing append must land")
    assert(after.count() == 24 + 16)
  }

  // ----------------------------------------------------------------
  test("spark.wap.id stages INSERT as an unreferenced snapshot; " +
    "cherry-pick publishes onto a MOVED main; staged overwrite onto " +
    "a moved main refuses; DML under wap.id refuses") {
    val root = Files.createTempDirectory("graft-wapidspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 40).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part")
    mountAs("wapid", root)

    val confKey = "spark.graft.wap.id"
    spark.conf.set(confKey, "b1")
    try {
      spark.sql("INSERT INTO graft.wapid.t " +
        "SELECT id + 1000, part, concat(txt, '-s') FROM graft.wapid.t " +
        "WHERE id % 4 = 0")
      assert(SnapStore.currentVersion(t).contains(1),
        "id-staged INSERT must not move main")
      assert(SnapStore.branchHead(t, SnapStore.wapStageBranch("b1"))
        .contains(2), "stage must land on the id's hidden chain")
      // wap.id does NOT route reads (unlike wap.branch).
      assert(spark.sql(
        "SELECT COUNT(*) AS n FROM graft.wapid.t WHERE id >= 1000")
        .collect()(0).getLong(0) == 0L,
        "id-staged rows must stay invisible until published")
      // DML under wap.id refuses loudly — never a silent main commit.
      val e = intercept[Exception] {
        spark.sql("DELETE FROM graft.wapid.t WHERE id = 0")
      }
      assert(e.getMessage.contains("spark.wap.id"), e.getMessage)
      val e2 = intercept[Exception] {
        spark.sql("UPDATE graft.wapid.t SET txt = 'x' WHERE id = 0")
      }
      assert(e2.getMessage.contains("spark.wap.id"), e2.getMessage)
    } finally spark.conf.unset(confKey)

    // Main MOVES after staging — cherry-pick must still land the
    // staged append (the contract fast-forward cannot serve).
    SnapStore.append(spark, t,
      spark.range(100, 110).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"),
        concat(lit("post"), col("id")).as("txt")), "part")
    assert(SnapStore.currentVersion(t).contains(2))
    // Snapshot the staging chain's manifests so the crash-between-
    // publish-and-drop scenario can be simulated below.
    val bname = SnapStore.wapStageBranch("b1")
    val snapDir = t.resolve("_snapshots")
    val staleCopies = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(snapDir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"branch-$bname-"))
        .map(p => p.getFileName.toString -> Files.readAllBytes(p))
        .toSeq
      finally s.close()
    }
    assert(staleCopies.nonEmpty)
    val res = spark.sql(
      "CALL graft.system.cherrypick_snapshot('wapid.t', 'b1')")
      .collect()(0)
    assert(res.getString(0) == "b1" && res.getInt(1) == 3)
    // Crash simulation: the publish committed but the branch drop was
    // lost — restore the stale staging chain; a REPUBLISH must be an
    // idempotent no-op (no duplicate rows, no new version) and must
    // clear the stale branch.
    staleCopies.foreach { case (n, bytes) =>
      Files.write(snapDir.resolve(n), bytes) }
    val before = spark.table("graft.wapid.t").count()
    val again = SnapStore.cherrypickSnapshot(spark, t, "b1")
    assert(again.version == 3, "stale republish must not commit")
    assert(spark.table("graft.wapid.t").count() == before,
      "stale republish must not duplicate rows")
    assert(SnapStore.branchHead(t, bname).isEmpty,
      "stale republish must clear the leftover staging chain")
    // Harder still: a compaction REWRITES the published files into
    // fresh paths (a path-based check could no longer see them), yet
    // a republish of the stale chain must still no-op — the durable
    // already-published record is the cherrypick operation tag on the
    // live history, not file paths.
    val total = SnapStore.currentManifest(t).files.map(_.bytes).sum
    SnapStore.compact(spark, t, "part", targetBytes = total + 1)
    staleCopies.foreach { case (n, bytes) =>
      Files.write(snapDir.resolve(n), bytes) }
    val afterCompact = spark.table("graft.wapid.t").count()
    val again2 = SnapStore.cherrypickSnapshot(spark, t, "b1")
    assert(again2.version == SnapStore.currentVersion(t).get &&
      spark.table("graft.wapid.t").count() == afterCompact,
      "republish after a rewrite must no-op via the op-tag record")
    assert(SnapStore.branchHead(t, bname).isEmpty)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft.wapid.t WHERE id >= 1000")
      .collect()(0).getLong(0) == 10L,
      "cherry-pick must land exactly the staged rows")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft.wapid.t WHERE id >= 100 AND id < 110")
      .collect()(0).getLong(0) == 10L,
      "the interleaved main append must survive the cherry-pick")
    assert(SnapStore.branchHead(t, SnapStore.wapStageBranch("b1")).isEmpty,
      "the staging chain must drop on publish")
    // Publishing a missing id errors.
    intercept[Exception] {
      spark.sql("CALL graft.system.publish_changes('wapid.t', 'nope')")
        .collect()
    }

    // A staged OVERWRITE cherry-picks only from the fork point: once
    // main moves, it refuses (re-applying a replace would drop the
    // interleaved commits).
    spark.conf.set(confKey, "ow1")
    try spark.sql("INSERT OVERWRITE graft.wapid.t " +
      "SELECT id, part, txt FROM graft.wapid.t WHERE id < 5")
    finally spark.conf.unset(confKey)
    SnapStore.append(spark, t,
      spark.range(200, 204).select(col("id"),
        pmod(col("id"), lit(4L)).as("part"), lit("x").as("txt")), "part")
    val e3 = intercept[Exception] {
      spark.sql("CALL graft.system.cherrypick_snapshot('wapid.t', 'ow1')")
        .collect()
    }
    assert(e3.getMessage.contains("main moved"), e3.getMessage)
    // Un-published stage: drop it and its exclusive files become
    // orphan-collectable.
    SnapStore.dropBranch(t, SnapStore.wapStageBranch("ow1"))
    assert(SnapStore.removeOrphans(t, minAgeMs = 0L).isEmpty ||
      SnapStore.read(spark, t).count() > 0) // table stays readable
  }

  // ----------------------------------------------------------------
  test("MERGE drives WHEN MATCHED THEN DELETE and WHEN NOT MATCHED " +
    "BY SOURCE THEN UPDATE/DELETE through the row-level path") {
    val root = Files.createTempDirectory("graft-mrgclauses")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 20).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part", keyCol = "id")
    mountAs("mrgc", root)

    // Source: ids 0..9; kind 'del' for even, 'upd' for odd; id 100
    // inserts.
    spark.range(0, 10).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("s"), col("id")).as("txt"),
      when(col("id") % 2 === 0, lit("del")).otherwise(lit("upd"))
        .as("kind"))
      .union(spark.sql(
        "SELECT 100L AS id, 0L AS part, 'fresh' AS txt, 'ins' AS kind"))
      .createOrReplaceTempView("mrgc_src")
    spark.sql(
      """MERGE INTO graft.mrgc.t t
        |USING mrgc_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.kind = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.txt = s.txt
        |WHEN NOT MATCHED THEN INSERT (id, part, txt)
        |  VALUES (s.id, s.part, s.txt)
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 18
        |  THEN UPDATE SET t.txt = 'tail'""".stripMargin)
    val got = spark.table("graft.mrgc.t").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // Even ids 0..8 deleted; odd ids 1..9 updated to s<i>; 10..17
    // untouched; 18..19 'tail'; 100 inserted.
    assert(!(0 until 10 by 2).exists(i => got.contains(i.toLong)),
      "matched-del rows must be gone")
    (1 until 10 by 2).foreach(i => assert(got(i.toLong) == s"s$i"))
    (10 until 18).foreach(i => assert(got(i.toLong) == s"d$i"))
    Seq(18L, 19L).foreach(i => assert(got(i) == "tail",
      "NOT MATCHED BY SOURCE UPDATE must apply"))
    assert(got(100L) == "fresh")
    assert(got.size == 5 + 8 + 2 + 1)

    // NOT MATCHED BY SOURCE THEN DELETE, against an empty-ish source.
    spark.sql(
      """MERGE INTO graft.mrgc.t t
        |USING (SELECT 1L AS id) s
        |ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 100 THEN DELETE
        |""".stripMargin)
    assert(spark.table("graft.mrgc.t")
      .filter(col("id") >= 100).count() == 0,
      "NOT MATCHED BY SOURCE DELETE must apply")
  }

  // ----------------------------------------------------------------
  test("ADVICE r11 regressions: no-match DELETE commits nothing and " +
    "never materializes the WAP branch; staged DML over pending MOR " +
    "deletes refuses at scan build, side-effect-free") {
    val root = Files.createTempDirectory("graft-advspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")
    mountAs("advs", root)

    // Main path: a no-match COW delete is a no-op — no new snapshot.
    spark.sql("DELETE FROM graft.advs.t WHERE doc_id < 0")
    assert(SnapStore.currentVersion(t).contains(1),
      "a no-match DELETE must not commit a snapshot")
    val m = SnapStore.deleteWhere(spark, t, col("doc_id") < 0)
    assert(m.version == 1, "programmatic no-match delete: no commit")

    // Branch conf: a no-match staged DELETE must not even fork.
    val confKey = "spark.graft.wap.branch"
    spark.conf.set(confKey, "adv")
    try {
      spark.sql("DELETE FROM graft.advs.t WHERE doc_id < 0")
      assert(SnapStore.branchHead(t, "adv").isEmpty,
        "a no-match staged DELETE must not materialize the branch")
      // A MATCHING staged delete still stages normally.
      spark.sql("DELETE FROM graft.advs.t WHERE doc_id = 0")
      assert(SnapStore.branchHead(t, "adv").contains(2) &&
        SnapStore.currentVersion(t).contains(1))
    } finally spark.conf.unset(confKey)
    SnapStore.dropBranch(t, "adv")

    // Pending MOR deletes + WAP conf: staged UPDATE refuses EARLY —
    // before the rewrite, before any branch fork.
    SnapStore.deleteEquality(spark, t,
      docs.filter(col("doc_id") === 3).select("doc_id"), "doc_id")
    spark.conf.set(confKey, "adv2")
    try {
      val e = intercept[Exception] {
        spark.sql("UPDATE graft.advs.t SET source = 'x' WHERE part = 0")
      }
      assert(e.getMessage.contains("pending delete files"), e.getMessage)
      assert(SnapStore.branchHead(t, "adv2").isEmpty,
        "the early refusal must leave no branch behind")
    } finally spark.conf.unset(confKey)
  }

  // ----------------------------------------------------------------
  test("streaming trigger caps validate at option parse: zero " +
    "maxFilesPerTrigger/maxBytesPerTrigger refuse instead of stalling") {
    val root = Files.createTempDirectory("graft-streamopt")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")
    Seq("maxFilesPerTrigger" -> "0", "maxBytesPerTrigger" -> "0",
      "maxFilesPerTrigger" -> "-1").foreach { case (k, v) =>
      val e = intercept[Exception] {
        spark.readStream.format("graft.sources.SnapStreamSource")
          .option("dir", t.toString).option(k, v).load()
          .writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination(30000L)
      }
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Seq.empty
        else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(e).exists(_.contains("must be positive")),
        s"$k=$v must refuse loudly: ${msgs(e).mkString(" | ")}")
    }
  }

  // ----------------------------------------------------------------
  test(".entries reports gone DELETE files after a fold; .all_* " +
    "family lists manifests/entries/data files across snapshots " +
    "and branches") {
    val root = Files.createTempDirectory("graft-allmeta")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")                        // v1
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(11L)) === 0).select("doc_id"),
      "doc_id")                                                     // v2
    SnapStore.applyDeletes(spark, t, "part")                        // v3
    SnapStore.createBranch(t, "side")
    SnapStore.appendToBranch(spark, t, "side",
      docs.filter(col("doc_id") < 8)
        .withColumn("doc_id", col("doc_id") + 50000L), "part")
    mountAs("allm", root)

    // ADVICE r11: the fold's commit must surface the folded delete
    // file as a status=2, content=2 entry.
    val entries = spark.table("graft.allm.t.entries").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    val goneDel = entries.filter(e => e._1 == 2 && e._2 == 2)
    assert(goneDel.nonEmpty,
      "applyDeletes must report the folded delete file gone (status=2)")
    val v2 = SnapStore.manifest(t, 2)
    assert(goneDel.map(_._3).toSet == v2.deleteFiles.map(_.path).toSet)

    // .all_manifests: 3 main versions + 2 branch versions.
    val am = spark.table("graft.allm.t.all_manifests").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(am.count(_._1 == "main") == 3)
    assert(am.count(_._1 == "side") == 2)

    // .all_entries: v2's rows include the added delete file
    // (status 1, content 2); v3's include it gone (status 2).
    val ae = spark.table("graft.allm.t.all_entries").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(ae.contains((2, 1, 2)), "v2 must show the delete file added")
    assert(ae.contains((3, 2, 2)), "v3 must show the delete file gone")
    assert(ae.contains((3, 2, 0)), "v3 must show replaced data files gone")

    // .all_data_files: every path any snapshot/branch references;
    // branch-exclusive files flagged not-in-current.
    val adf = spark.table("graft.allm.t.all_data_files").collect()
      .map(r => (r.getString(0), r.getBoolean(6), r.getInt(7)))
    val v1 = SnapStore.manifest(t, 1)
    val v3 = SnapStore.currentManifest(t)
    val branchHead = SnapStore.branchHeadManifest(t, "side")
    val want = (v1.files ++ v2.files ++ v3.files ++ branchHead.files)
      .map(_.path).toSet
    assert(adf.map(_._1).toSet == want)
    val curSet = v3.files.map(_.path).toSet
    adf.foreach { case (p, inCur, refs) =>
      assert(inCur == curSet(p), s"$p in_current flag wrong")
      assert(refs >= 1)
    }

    // .all_delete_files: the v2 delete file stays visible after the
    // fold (it is referenced by the live v2 snapshot) but is flagged
    // not-in-current.
    val adel = spark.table("graft.allm.t.all_delete_files").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(6)))
    assert(adel.map(_._1).toSet == v2.deleteFiles.map(_.path).toSet)
    adel.foreach { case (_, kind, inCur) =>
      assert(kind == "eq" && !inCur,
        "folded delete debt must report in_current=false")
    }

    // .snapshots summary columns: v1 all-added; v2 (MOR delete)
    // adds/removes no data files; v3 (fold) replaces everything.
    val snaps = spark.table("graft.allm.t.snapshots").collect()
      .map(r => r.getInt(0) ->
        (r.getInt(7), r.getLong(8), r.getInt(9))).toMap
    assert(snaps(1) == ((v1.files.size, v1.files.map(_.rows).sum, 0)))
    assert(snaps(2) == ((0, 0L, 0)),
      "a MOR delete commit adds/removes no data files")
    assert(snaps(3)._1 == v3.files.size &&
      snaps(3)._3 == v2.files.size,
      "the fold must report full replacement")
  }

  // ----------------------------------------------------------------
  test("table properties: CREATE TBLPROPERTIES persists, SET/UNSET " +
    "alter the stored map, SHOW TBLPROPERTIES surfaces it, and " +
    "commit.retry.num-retries bounds the retry budget") {
    val root = Files.createTempDirectory("graft-propspec")
    root.toFile.deleteOnExit()
    mountAs("propspec", root)
    spark.sql("""CREATE TABLE graft.propspec.t (doc_id BIGINT,
      part BIGINT, text STRING) PARTITIONED BY (part)
      TBLPROPERTIES ('key.column' = 'doc_id', 'owner.team' = 'data')""")
    val t = root.resolve("t")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES graft.propspec.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("owner.team").contains("data"))
    assert(props().get("key.column").contains("doc_id"))

    spark.sql("ALTER TABLE graft.propspec.t SET TBLPROPERTIES " +
      "('commit.retry.num-retries' = '3', 'note' = 'hello world')")
    assert(props().get("note").contains("hello world"))
    assert(SnapStore.tableProperties(t)
      .get("commit.retry.num-retries").contains("3"))

    spark.sql("ALTER TABLE graft.propspec.t UNSET TBLPROPERTIES ('note')")
    assert(!props().contains("note"))

    // Every commit reads its retry budget from the property: Iceberg
    // semantics — N retries = N+1 attempts, 0 = fail on the first
    // conflict; invalid or absent values keep the default.
    assert(SnapStore.commitRetriesOf(t, 50) == 4)
    spark.sql("ALTER TABLE graft.propspec.t SET TBLPROPERTIES " +
      "('commit.retry.num-retries' = '0')")
    assert(SnapStore.commitRetriesOf(t, 50) == 1)
    spark.sql("ALTER TABLE graft.propspec.t SET TBLPROPERTIES " +
      "('commit.retry.num-retries' = 'zero')")
    assert(SnapStore.commitRetriesOf(t, 50) == 50)

    // Engine-managed keys refuse at SET.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.propspec.t SET TBLPROPERTIES " +
        "('key.column' = 'text')")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.propspec.t SET TBLPROPERTIES " +
        "('path' = '/elsewhere')")
    }

    // Writes still work with properties present; persisted map
    // survives re-resolution.
    docs.limit(50).createOrReplaceTempView("prop_seed")
    spark.sql("INSERT INTO graft.propspec.t " +
      "SELECT doc_id, part, text FROM prop_seed")
    assert(spark.table("graft.propspec.t").count() == 50)
    assert(props().get("owner.team").contains("data"))
  }

  // ----------------------------------------------------------------
  test("metadata columns _file/_pos: per-file names match the " +
    "manifest, ordinals are dense per file, MOR deletes suppress the " +
    "right ordinals, clean tables serve them under the native route") {
    val root = Files.createTempDirectory("graft-metaspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    mountAs("metaspec", root)

    // The catalog's one read route serves the metadata columns for
    // every snapshot with files, even a clean NON-SPJ layout (files
    // spanning partition values).
    val t2 = root.resolve("t2")
    SnapStore.create(spark, t2, docs, "part",
      clusterExprs = Seq(pmod(col("doc_id"), lit(5L))))
    val m2 = SnapStore.currentManifest(t2)
    assert(m2.files.exists(f => f.partMin != f.partMax),
      "fixture must be non-SPJ (multi-valued files)")
    assert(spark.sql("SELECT COUNT(DISTINCT _file) AS n " +
      "FROM graft.metaspec.t2").collect()(0).getLong(0)
      == m2.files.size.toLong)
    val m = SnapStore.currentManifest(t)
    def pathOf(fp: String): String = t.resolve(fp).toString
    val perFile: Map[String, (Long, Long, Long)] = spark.sql(
      "SELECT _file, COUNT(*) AS n, MAX(_pos) AS mx, " +
        "COUNT(DISTINCT _pos) AS d FROM graft.metaspec.t GROUP BY _file")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3))))
      .toMap
    assert(perFile.keySet == m.files.map(f => pathOf(f.path)).toSet,
      "_file values must be exactly the resolved manifest file paths")
    m.files.foreach { f =>
      val (n, mx, d) = perFile(pathOf(f.path))
      assert(n == f.rows && d == n && mx == n - 1,
        s"${f.path}: ordinals must be dense 0..${f.rows - 1}")
    }

    // _partition/_spec: per-file constants from the manifest — the
    // SPJ-layout table's files are single-valued, so _partition is
    // the rendered transformed value and _spec the write spec.
    val pv = spark.sql("SELECT DISTINCT _partition, _spec " +
      "FROM graft.metaspec.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pv == m.files.map(f => (f.partMin, f.specCol)).toSet)
    assert(pv.forall(_._2 == "part"))
    // The loosely-clustered t2's files span partition values:
    // _partition is NULL there (honest unknown), _spec still set.
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.metaspec.t2 " +
      "WHERE _partition IS NULL").collect()(0).getLong(0) > 0)

    // A position delete suppresses exactly its named ordinals: the
    // surviving (_file, _pos) pairs are the complement.
    SnapStore.deletePositions(spark, t,
      pmod(col("doc_id"), lit(7L)) === 0)
    val survivors = spark.sql(
      "SELECT _file, _pos FROM graft.metaspec.t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val deletedPairs = spark
      .table("graft.metaspec.t.position_deletes")
      .select(col("file"), col("pos")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(survivors.intersect(deletedPairs).isEmpty)
    assert(survivors.size + deletedPairs.size == docs.count())
  }

  // ----------------------------------------------------------------
  test("deletion vectors (v3): position deletes write one compact .dv " +
    "per data file, coexist with parquet pair files, supersede on " +
    "re-delete, apply on both scan paths, and fold away") {
    val root = Files.createTempDirectory("graft-dvspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    mountAs("dvspec", root)

    // A PARQUET-encoded position delete first (conf off): mixed
    // encodings must coexist.
    SnapStore.deletePositions(spark, t, pmod(col("doc_id"), lit(6L)) === 0)
    val afterPq = SnapStore.currentManifest(t)
    assert(afterPq.deleteFiles.nonEmpty &&
      afterPq.deleteFiles.forall(d => d.kind == "pos" &&
        d.path.endsWith(".parquet")))

    val confKey = "spark.graft.delete.vectors"
    spark.conf.set(confKey, "true")
    try {
      // DV-encoded delete: one blob per affected data file, refs = 1.
      SnapStore.deletePositions(spark, t,
        pmod(col("doc_id"), lit(10L)) === 0)
      val m1 = SnapStore.currentManifest(t)
      val dvs1 = m1.deleteFiles.filter(d => d.path.endsWith(".dv"))
      assert(dvs1.nonEmpty && dvs1.forall(d =>
        d.kind == "pos" && d.refs.size == 1))
      assert(dvs1.map(_.refs.head).distinct.size == dvs1.size,
        "one DV per data file (v3 invariant)")
      // Delta-varint ordinals beat 8-byte-per-row encodings easily.
      dvs1.foreach(d => assert(d.bytes < d.rows * 8 + 128,
        s"DV ${d.path} is not compact: ${d.bytes}B for ${d.rows} rows"))
      val live1 = docs.filter(pmod(col("doc_id"), lit(6L)) =!= 0 &&
        pmod(col("doc_id"), lit(10L)) =!= 0).count()
      // Native DSv2 path (catalog SQL) and V1 path agree.
      assert(spark.table("graft.dvspec.t").count() == live1)
      assert(SnapStore.read(spark, t).count() == live1)

      // Re-delete: the new DV MERGES and SUPERSEDES per data file.
      SnapStore.deletePositions(spark, t,
        pmod(col("doc_id"), lit(15L)) === 0)
      val m2 = SnapStore.currentManifest(t)
      val dvs2 = m2.deleteFiles.filter(d => d.path.endsWith(".dv"))
      assert(dvs2.map(_.refs.head).distinct.size == dvs2.size,
        "supersede must keep at most one DV per data file")
      val live2 = docs.filter(pmod(col("doc_id"), lit(6L)) =!= 0 &&
        pmod(col("doc_id"), lit(10L)) =!= 0 &&
        pmod(col("doc_id"), lit(15L)) =!= 0).count()
      assert(spark.table("graft.dvspec.t").count() == live2)

      // The .position_deletes metadata table decodes DVs too.
      val deleted = docs.count() - live2
      assert(spark.table("graft.dvspec.t.position_deletes").count()
        >= deleted, "metadata table must list at least the net pairs")

      // rewrite_delete_files leaves DVs alone (already one-per-file).
      val dvPathsBefore = dvs2.map(_.path).toSet
      SnapStore.rewriteDeleteFiles(spark, t)
      val afterRw = SnapStore.currentManifest(t)
      assert(afterRw.deleteFiles.filter(d => d.path.endsWith(".dv"))
        .map(_.path).toSet == dvPathsBefore)

      // Changelog netting composes with DV supersede: each step emits
      // only the NEWLY deleted rows (merged vectors minus the prior
      // snapshot's pairs), so the DELETE total over the chain is the
      // distinct deleted-row count, with no INSERTs.
      val cl = SnapStore.changelogRead(spark, t, 1,
        SnapStore.currentVersion(t).get)
      val byType = cl.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType.getOrElse("DELETE", 0L) == docs.count() - live2)
      assert(!byType.contains("INSERT"))

      // The SQL face: CALL create_changelog_view registers the same
      // frame lazily under a temp-view name.
      val cur = SnapStore.currentVersion(t).get
      val r = spark.sql("CALL graft.system.create_changelog_view(" +
        s"'dvspec.t', 'dv_changes', 1, $cur)").collect()(0)
      assert(r.getString(0) == "dv_changes")
      assert(spark.table("dv_changes")
        .filter(col("_change_type") === "DELETE").count()
        == docs.count() - live2)

      // applyDeletes folds BOTH encodings into the data files.
      SnapStore.applyDeletes(spark, t, "part")
      assert(SnapStore.currentManifest(t).deleteFiles.isEmpty)
      assert(spark.table("graft.dvspec.t").count() == live2)

      // Corruption detection: a truncated blob refuses loudly (the
      // cardinality header), a wrong-magic blob refuses at the magic.
      val scratch = Files.createTempFile(root, "dv-corrupt", ".dv")
      val full = {
        val os = Files.newOutputStream(scratch)
        try graft.sources.DeleteVectors.write(os, "f.parquet",
          Array(3L, 9L, 1000L, 1001L))
        finally os.close()
        Files.readAllBytes(scratch)
      }
      Files.write(scratch, full.dropRight(2))
      val eTrunc = intercept[IllegalStateException] {
        graft.sources.DeleteVectors.read(scratch)
      }
      assert(eTrunc.getMessage.contains("truncated"))
      Files.write(scratch, "GDV1junk".getBytes)
      intercept[IllegalArgumentException] {
        graft.sources.DeleteVectors.read(scratch)
      }
    } finally spark.conf.unset(confKey)
  }

  // ----------------------------------------------------------------
  test("ADD COLUMN DEFAULT (v3 initial defaults): old files read the " +
    "default on both scan paths, new writes carry values, renames " +
    "follow, INSERT fills the omitted column, rewrites materialize") {
    val root = Files.createTempDirectory("graft-defspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    val nOld = docs.count()
    mountAs("defspec", root)
    spark.sql(
      "ALTER TABLE graft.defspec.t ADD COLUMN bonus BIGINT DEFAULT 7")
    // Old files lack the column physically; reads substitute 7.
    assert(SnapStore.read(spark, t).filter(col("bonus") === 7L).count()
      == nOld)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft.defspec.t WHERE bonus = 7")
      .collect()(0).getLong(0) == nOld)

    // A post-add append carries explicit values, old rows keep 7.
    SnapStore.append(spark, t,
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0)
        .withColumn("doc_id", col("doc_id") + 700000L)
        .withColumn("bonus", col("doc_id")), "part")
    val nNew = docs.filter(pmod(col("doc_id"), lit(13L)) === 0).count()
    val byBonus = SnapStore.read(spark, t)
      .groupBy(col("bonus") === 7L).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byBonus(true) == nOld && byBonus(false) == nNew)

    // SQL INSERT omitting the column fills the CURRENT default.
    spark.sql("INSERT INTO graft.defspec.t (doc_id, part, source, text) " +
      "VALUES (990001, 1, 'srcD', 'hello world')")
    assert(spark.sql("SELECT bonus FROM graft.defspec.t " +
      "WHERE doc_id = 990001").collect()(0).getLong(0) == 7L)

    // Pending MOR delete routes reads through the NATIVE DSv2 batch:
    // the default must substitute there too.
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0).select("doc_id"),
      "doc_id")
    val liveOld = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0).count()
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft.defspec.t WHERE bonus = 7")
      .collect()(0).getLong(0) == liveOld + 1)

    // RENAME follows: the default substitutes under the new name.
    spark.sql("ALTER TABLE graft.defspec.t RENAME COLUMN bonus TO extra")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft.defspec.t WHERE extra = 7")
      .collect()(0).getLong(0) == liveOld + 1)

    // A rewrite (fold) MATERIALIZES the default physically; contents
    // unchanged after.
    SnapStore.applyDeletes(spark, t, "part")
    assert(SnapStore.currentManifest(t).deleteFiles.isEmpty)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft.defspec.t WHERE extra = 7")
      .collect()(0).getLong(0) == liveOld + 1)

    // Unfoldable defaults refuse at ALTER time.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.defspec.t " +
        "ADD COLUMN bad BIGINT DEFAULT doc_id + 1")
    }
    // Ill-typed defaults refuse at ALTER time (never silent NULLs).
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.defspec.t " +
        "ADD COLUMN bad2 BIGINT DEFAULT 'oops'")
    }

    // DROP + re-ADD of a name refuses while live files may still
    // carry the old column's values (the drop tombstone); a rewrite
    // lifts the block, and the re-added column reads NULL/default-
    // free — never the dropped column's stale data.
    spark.sql("ALTER TABLE graft.defspec.t DROP COLUMN extra")
    val eDrop = intercept[Exception] {
      spark.sql("ALTER TABLE graft.defspec.t ADD COLUMN extra BIGINT")
    }
    assert(eDrop.getMessage.contains("DROPPED"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.defspec.t RENAME COLUMN tok TO extra")
    }
    SnapStore.compact(spark, t, "part", targetBytes = Long.MaxValue / 2)
    spark.sql("ALTER TABLE graft.defspec.t ADD COLUMN extra BIGINT")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.defspec.t " +
      "WHERE extra IS NOT NULL").collect()(0).getLong(0) == 0L,
      "a re-added column after rewrite must read NULL, never stale data")
  }

  // ----------------------------------------------------------------
  test("a reused wap id refuses at stage time and at publish instead " +
    "of silently discarding the new batch (duplicate WAP commit)") {
    val root = Files.createTempDirectory("graft-wapreusespec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")
    mountAs("wapreuse", root)
    val confKey = "spark.graft.wap.id"
    docs.filter(pmod(col("doc_id"), lit(17L)) === 0)
      .withColumn("doc_id", col("doc_id") + 300000L)
      .createOrReplaceTempView("wap_reuse_batch")
    spark.conf.set(confKey, "batch1")
    try {
      spark.sql("INSERT INTO graft.wapreuse.t " +
        "SELECT * FROM wap_reuse_batch")
      spark.sql(
        "CALL graft.system.publish_changes('wapreuse.t', 'batch1')")
      assert(SnapStore.currentVersion(t).contains(2))
      // Staging AGAIN under the published id refuses loudly.
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft.wapreuse.t " +
          "SELECT doc_id + 1, part, source, text FROM wap_reuse_batch")
      }
      assert(e.getMessage.contains("already published"))
    } finally spark.conf.unset(confKey)
    // Publish-side belt: a chain holding UNPUBLISHED rows under a
    // published id (forced through the programmatic API) refuses
    // rather than silently dropping the batch.
    val b = SnapStore.wapStageBranch("batch1")
    SnapStore.ensureBranch(t, b)
    SnapStore.appendToBranch(spark, t, b,
      docs.filter(pmod(col("doc_id"), lit(23L)) === 0)
        .withColumn("doc_id", col("doc_id") + 400000L), "part")
    val e2 = intercept[IllegalArgumentException] {
      SnapStore.cherrypickSnapshot(spark, t, "batch1")
    }
    assert(e2.getMessage.contains("duplicate WAP commit"))
    // The staged rows never leaked onto main.
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapreuse.t " +
      "WHERE doc_id >= 400000").collect()(0).getLong(0) == 0L)
  }

  // ----------------------------------------------------------------
  test("equality deletes keyed on a DEFAULTED column treat " +
    "pre-evolution rows as the constant on both scan paths") {
    val root = Files.createTempDirectory("graft-defdelspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part")
    mountAs("defdelspec", root)
    spark.sql(
      "ALTER TABLE graft.defdelspec.t ADD COLUMN bonus BIGINT DEFAULT 7")
    // Post-evolution rows carry explicit bonus = 1.
    SnapStore.append(spark, t,
      docs.filter(pmod(col("doc_id"), lit(11L)) === 0)
        .withColumn("doc_id", col("doc_id") + 500000L)
        .withColumn("bonus", lit(1L)), "part")
    val nNew = docs.filter(pmod(col("doc_id"), lit(11L)) === 0).count()
    // Delete WHERE bonus = 7: every pre-evolution row logically
    // carries 7 (the initial default), so all of them go; the
    // explicit bonus=1 appends survive.
    val keyFrame = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(7L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bonus",
          org.apache.spark.sql.types.LongType))))
    SnapStore.deleteEquality(spark, t, keyFrame, "bonus")
    assert(spark.table("graft.defdelspec.t").count() == nNew,
      "native path must apply the eq delete against the default")
    assert(SnapStore.read(spark, t).count() == nNew,
      "V1 path must agree")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.defdelspec.t " +
      "WHERE bonus = 1").collect()(0).getLong(0) == nNew)
  }

  // ----------------------------------------------------------------
  test("CALL snapshot: zero-copy clone — no data IO, source files " +
    "untouched, pending MOR delete carried; clone and source diverge " +
    "independently; GC faces refuse on the clone") {
    val root = Files.createTempDirectory("graft-clonespec")
    root.toFile.deleteOnExit()
    val src = root.resolve("src")
    SnapStore.create(spark, src, docs, "part", keyCol = "doc_id")
    SnapStore.deleteEquality(spark, src,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 0).select("doc_id"),
      "doc_id")
    def srcFiles(): Map[String, java.nio.file.attribute.FileTime] = {
      val s = Files.list(src.resolve("data"))
      try s.iterator().asScala
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p))
        .toMap
      finally s.close()
    }
    val before = srcFiles()
    mountAs("clonespec", root)
    val r = spark.sql(
      "CALL graft.system.snapshot('clonespec.src', 'clonespec.c')")
      .collect()(0)
    // The clone's first manifest keeps the SOURCE version so carried
    // sequence numbers stay coherent.
    assert(r.getInt(0) == 2)
    val clone = root.resolve("c")
    assert(SnapStore.isSnapTable(clone))
    assert(!Files.isDirectory(clone.resolve("data")),
      "zero-copy: the clone must own no data files at birth")
    assert(srcFiles() == before, "source files must be byte-untouched")

    // The carried equality delete applies on clone reads.
    val expectLive = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0).count()
    assert(SnapStore.read(spark, clone).count() == expectLive)
    assert(spark.table("graft.clonespec.c").count() == expectLive)

    // Divergence: a clone-side append lands on the clone only.
    SnapStore.append(spark, clone,
      docs.filter(pmod(col("doc_id"), lit(31L)) === 0)
        .withColumn("doc_id", col("doc_id") + 500000L), "part")
    val extra = docs.filter(pmod(col("doc_id"), lit(31L)) === 0).count()
    assert(SnapStore.read(spark, clone).count() == expectLive + extra)
    assert(SnapStore.currentVersion(src).contains(2),
      "clone writes must never move the source")
    assert(SnapStore.read(spark, src).count() == expectLive)

    // gc.enabled=false: every file-deleting face refuses.
    assert(!SnapStore.gcEnabled(clone) && SnapStore.gcEnabled(src))
    val e1 = intercept[IllegalArgumentException] {
      SnapStore.expire(clone, keepLast = 1)
    }
    assert(e1.getMessage.contains("gc.enabled=false"))
    val e2 = intercept[IllegalArgumentException] {
      SnapStore.removeOrphans(clone, minAgeMs = 0)
    }
    assert(e2.getMessage.contains("gc.enabled=false"))

    // A second clone onto an existing table refuses.
    intercept[Exception] {
      spark.sql(
        "CALL graft.system.snapshot('clonespec.src', 'clonespec.c')")
        .collect()
    }

    // A crashed clone (marker written, manifest never committed)
    // neither wedges the name nor leaks gc.enabled=false into a
    // fresh table created there.
    val ghost = root.resolve("ghost")
    Files.createDirectories(ghost.resolve("_snapshots"))
    Files.write(ghost.resolve("_snapshots").resolve("gc.disabled"),
      "stale".getBytes)
    assert(!SnapStore.isSnapTable(ghost),
      "a marker-only _snapshots dir must not read as a table")
    spark.sql("CREATE TABLE graft.clonespec.ghost " +
      "(id BIGINT, part BIGINT) PARTITIONED BY (part)")
    assert(SnapStore.isSnapTable(ghost))
    assert(SnapStore.gcEnabled(ghost),
      "a fresh table must not inherit the crashed clone's GC state")
  }

  // ----------------------------------------------------------------
  test("CALL migrate: in-place conversion of a plain parquet dir — " +
    "files adopted where they sit (mtimes pinned), reads match the " +
    "original, post-migrate DML works, re-migrate refuses") {
    val root = Files.createTempDirectory("graft-migspec")
    root.toFile.deleteOnExit()
    val t = root.resolve("m")
    docs.write.parquet(t.toString)
    def mtimes(): Map[String, java.nio.file.attribute.FileTime] = {
      val s = Files.list(t)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p))
        .toMap
      finally s.close()
    }
    val before = mtimes()
    val plainCount = spark.read.parquet(t.toString).count()
    mountAs("migspec", root)
    val r = spark.sql(
      "CALL graft.system.migrate('migspec.m', 'part', 'doc_id')")
      .collect()(0)
    assert(r.getInt(0) == 1)
    assert(SnapStore.isSnapTable(t))
    assert(mtimes() == before, "adopted files must be byte-untouched")
    // Entries are bare names resolving against the root (relocatable)
    // and cover every non-empty on-disk parquet.
    val m = SnapStore.currentManifest(t)
    assert(m.files.forall(f => !f.path.contains("/")),
      "migrated entries must be root-relative bare names")
    assert(m.files.map(_.path).toSet.subsetOf(before.keySet))
    assert(SnapStore.read(spark, t).count() == plainCount)
    assert(spark.table("graft.migspec.m").count() == plainCount)

    // Post-migrate DML: a MOR equality delete applies to adopted files.
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(11L)) === 0).select("doc_id"),
      "doc_id")
    val live = docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0).count()
    assert(SnapStore.read(spark, t).count() == live)

    // Migrating an already-migrated table refuses.
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.migrate('migspec.m', 'part', 'doc_id')")
        .collect()
    }
    assert(e.getMessage.contains("already a snapshot table"))
  }
}
