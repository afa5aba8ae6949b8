package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapStore

/** Conf-driven write-audit-publish (Iceberg's `spark.wap.branch`
  * face, `spark.graft.wap.branch` here, bare `spark.wap.branch`
  * honored): with the conf set, UNMODIFIED catalog writes — INSERT
  * INTO, INSERT OVERWRITE, UPDATE, DELETE, MERGE INTO — stage on the
  * conf's branch and unmodified reads serve it; main provably never
  * moves until an explicit fast-forward publishes the full staged
  * state atomically.
  */
class WapConfSpec extends SparkSpec {

  private val ConfKey = "spark.graft.wap.branch"

  private def withWap(branch: String)(body: => Unit): Unit =
    withConf(ConfKey -> branch)(body)

  test("spark.graft.wap.branch stages INSERT/UPDATE/DELETE/MERGE on " +
    "the branch; plain reads serve main; VERSION AS OF sees the " +
    "staged state; fast-forward publishes it atomically") {
    val root = Files.createTempDirectory("graft-wapconf")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 64).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part")

    spark.conf.set("spark.graft.catalog.dir.wapc", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

    withWap("audit") {
      // The branch materializes at first write; main must not move.
      spark.sql("INSERT INTO graft.wapc.t " +
        "SELECT id + 1000, part, concat(txt, '-staged') " +
        "FROM graft.wapc.t WHERE id % 8 = 0")
      assert(SnapStore.currentVersion(t).contains(1),
        "staged INSERT must not commit to main")
      assert(SnapStore.branchHead(t, "audit").contains(2),
        "the conf's branch must hold the staged commit")
      // Conf-routed unmodified read = the staged state (the audit's
      // read surface).
      val n = spark.sql(
        "SELECT COUNT(*) AS n FROM graft.wapc.t WHERE id >= 1000")
        .collect()(0).getLong(0)
      assert(n == 8L, s"conf-routed read must see the staged batch, got $n")

      // Unmodified DML stages too — each commit lands on the branch
      // chain, main provably never moves.
      spark.sql("UPDATE graft.wapc.t SET txt = concat(txt, '-u') " +
        "WHERE id >= 1000")
      assert(SnapStore.currentVersion(t).contains(1) &&
        SnapStore.branchHead(t, "audit").contains(3),
        "staged UPDATE must commit on the branch")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t " +
        "WHERE id >= 1000 AND txt LIKE '%-u'").collect()(0).getLong(0) == 8L)

      spark.sql("DELETE FROM graft.wapc.t WHERE id = 1056")
      assert(SnapStore.currentVersion(t).contains(1) &&
        SnapStore.branchHead(t, "audit").contains(4),
        "staged DELETE must commit on the branch")

      spark.sql(
        """MERGE INTO graft.wapc.t t
          |USING (SELECT * FROM VALUES (1000L, 0L, 'merged'),
          |  (2000L, 0L, 'brand') AS s(id, part, txt)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET txt = s.txt
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(SnapStore.currentVersion(t).contains(1) &&
        SnapStore.branchHead(t, "audit").contains(5),
        "staged MERGE must commit on the branch")
      val afterMerge = spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t " +
        "WHERE id >= 1000").collect()(0).getLong(0)
      assert(afterMerge == 8L, // 8 staged − 1 deleted + 1 merge-insert
        s"staged view must fold the staged DML, got $afterMerge")
      assert(spark.sql("SELECT txt FROM graft.wapc.t WHERE id = 1000")
        .collect()(0).getString(0) == "merged")

    }

    // Conf unset: plain reads serve main — no staged rows — while
    // explicit branch time travel sees the full staged state.
    val plain = spark.sql(
      "SELECT COUNT(*) AS n FROM graft.wapc.t WHERE id >= 1000")
      .collect()(0).getLong(0)
    assert(plain == 0L, s"staged rows leaked into a plain read: $plain")
    val tt = spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t " +
      "VERSION AS OF 'audit' WHERE id >= 1000").collect()(0).getLong(0)
    assert(tt == 8L, s"VERSION AS OF 'audit' must see the staged rows: $tt")

    // Publish: audit passed → fast-forward lands exactly the staged
    // state (insert + update + delete + merge, atomically).
    SnapStore.fastForward(t, "audit")
    val after = spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t")
      .collect()(0).getLong(0)
    assert(after == 72L, s"publish must land base + staged state: $after")
    assert(spark.sql("SELECT txt FROM graft.wapc.t WHERE id = 1000")
      .collect()(0).getString(0) == "merged", "staged DML must publish")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t " +
      "WHERE id = 1056").collect()(0).getLong(0) == 0L,
      "the staged DELETE must publish")

    // INSERT OVERWRITE stages too: the branch head's contents replace
    // wholesale while main keeps every row until publish.
    withWap("ow") {
      spark.sql("INSERT OVERWRITE graft.wapc.t " +
        "SELECT id, part, txt FROM graft.wapc.t WHERE id < 10")
      val staged = spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t")
        .collect()(0).getLong(0)
      assert(staged == 10L, s"staged overwrite must replace the branch: $staged")
    }
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t")
      .collect()(0).getLong(0) == 72L,
      "main must keep its contents under a staged overwrite")
    SnapStore.dropBranch(t, "ow")

    // Racing partition-disjoint staged UPDATEs both land on the
    // branch chain: the loser's replace rebases via the branch retry
    // loop (its replaced files are untouched by the winner), so the
    // branch head advances twice and both effects survive.
    withWap("race") {
      import java.util.concurrent.{CountDownLatch, Executors}
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val futs = Seq(0L, 1L).map { p =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            gate.await()
            spark.sql("UPDATE graft.wapc.t SET txt = concat(txt, '-r') " +
              s"WHERE part = $p AND id < 1000")
          }
        })
      }
      gate.countDown()
      futs.foreach(_.get())
      pool.shutdown()
      assert(SnapStore.branchHead(t, "race").contains(3),
        "both racing staged UPDATEs must commit on the branch")
      val raced = spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t " +
        "WHERE txt LIKE '%-r' AND id < 1000").collect()(0).getLong(0)
      val want = spark.sql("SELECT COUNT(*) AS n FROM graft.wapc.t " +
        "WHERE part IN (0, 1) AND id < 1000").collect()(0).getLong(0)
      assert(raced == want, s"both updates' rows must survive: $raced/$want")
    }
    SnapStore.dropBranch(t, "race")

    // The bare Iceberg key routes too (unmodified WAP workloads).
    runBareKeyCase(t)
  }

  private def runBareKeyCase(t: java.nio.file.Path): Unit = {
    withConf("spark.wap.branch" -> "audit2") {
      spark.sql("INSERT INTO graft.wapc.t VALUES (9999, 3, 'bare')")
      assert(SnapStore.currentVersion(t).contains(2),
        "bare-key staged INSERT must not commit to main")
      assert(SnapStore.branchHead(t, "audit2").contains(2),
        "bare spark.wap.branch must stage on its branch")
    }
  }

  test("staged MERGE under the WAP conf drives the FULL clause " +
    "surface — MATCHED DELETE, MATCHED UPDATE, NOT MATCHED INSERT, " +
    "NOT MATCHED BY SOURCE UPDATE — on the branch, main frozen") {
    val root = Files.createTempDirectory("graft-wapmrg")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 32).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part")
    spark.conf.set("spark.graft.catalog.dir.wapm", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

    withWap("mrg") {
      spark.sql(
        """MERGE INTO graft.wapm.t t
          |USING (SELECT * FROM VALUES
          |  (0L, 0L, 'z', 'del'), (1L, 1L, 'u1', 'upd'),
          |  (100L, 0L, 'new', 'ins') AS s(id, part, txt, kind)) s
          |ON t.id = s.id
          |WHEN MATCHED AND s.kind = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET txt = s.txt
          |WHEN NOT MATCHED THEN INSERT (id, part, txt)
          |  VALUES (s.id, s.part, s.txt)
          |WHEN NOT MATCHED BY SOURCE AND t.id >= 30
          |  THEN UPDATE SET txt = 'tail'""".stripMargin)
      assert(SnapStore.currentVersion(t).contains(1),
        "staged full-clause MERGE must not move main")
      assert(SnapStore.branchHead(t, "mrg").contains(2),
        "staged full-clause MERGE must commit on the branch")
      val got = spark.sql("SELECT id, txt FROM graft.wapm.t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(!got.contains(0L), "staged MATCHED DELETE must apply")
      assert(got(1L) == "u1" && got(100L) == "new")
      assert(got(30L) == "tail" && got(31L) == "tail",
        "staged NOT MATCHED BY SOURCE UPDATE must apply")
      assert(got(2L) == "d2")
    }
    // Main untouched until publish; publish lands the full effect.
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapm.t")
      .collect()(0).getLong(0) == 32L)
    SnapStore.fastForward(t, "mrg")
    val after = spark.sql("SELECT id, txt FROM graft.wapm.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 32 && !after.contains(0L) &&
      after(100L) == "new" && after(30L) == "tail")
  }

  test("random staged-DML sequence (seed-stable): every op commits " +
    "on the branch, main is byte-frozen throughout, the branch " +
    "tracks a model, and publish lands exactly the model") {
    val rnd = new scala.util.Random(0x51f15eedL)
    val root = Files.createTempDirectory("graft-wapprop")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val model = scala.collection.mutable.Map.empty[Long, String]
    def frame(ids: Seq[Long], txt: Long => String) = {
      val pairs = ids.map(i => (i, txt(i)))
      spark.createDataFrame(pairs).toDF("id", "txt")
        .select(col("id"), pmod(col("id"), lit(4L)).as("part"), col("txt"))
    }
    var nextId = 0L
    def freshIds(n: Int): Seq[Long] = {
      val ids = (nextId until nextId + n).toSeq; nextId += n; ids
    }
    val ids0 = freshIds(40)
    SnapStore.create(spark, t, frame(ids0, i => s"b-$i"), "part")
    ids0.foreach(i => model(i) = s"b-$i")
    val baseModel = model.toMap

    spark.conf.set("spark.graft.catalog.dir.wapprop", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

    def stagedContents(): Map[Long, String] =
      spark.sql("SELECT id, txt FROM graft.wapprop.t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    withWap("stage") {
      (1 to 10).foreach { step =>
        rnd.nextInt(6) match {
          case 0 | 1 => // INSERT INTO
            val ids = freshIds(1 + rnd.nextInt(3))
            frame(ids, i => s"b-$i").createOrReplaceTempView("wapprop_ins")
            spark.sql("INSERT INTO graft.wapprop.t SELECT * FROM wapprop_ins")
            ids.foreach(i => model(i) = s"b-$i")
          case 2 => // UPDATE a random sample
            val keys = rnd.shuffle(model.keys.toSeq.sorted)
              .take(1 + rnd.nextInt(4))
            if (keys.nonEmpty) {
              spark.sql("UPDATE graft.wapprop.t SET txt = " +
                s"concat('u$step-', id) WHERE id IN (${keys.mkString(",")})")
              keys.foreach(i => model(i) = s"u$step-$i")
            }
          case 3 => // DELETE one partition's sampled keys
            val p = rnd.nextInt(4).toLong
            spark.sql("DELETE FROM graft.wapprop.t " +
              s"WHERE part = $p AND id % 5 = $p")
            model.keys.filter(i => i % 4 == p && i % 5 == p).toSeq
              .foreach(model.remove)
          case 4 => // MERGE: update a sample + insert fresh
            val keys = rnd.shuffle(model.keys.toSeq.sorted)
              .take(1 + rnd.nextInt(3))
            val fresh = freshIds(1)
            val src = (keys ++ fresh).map(i => s"($i" + s"L, 'm$step-$i')")
              .mkString(", ")
            spark.sql(
              s"""MERGE INTO graft.wapprop.t t
                 |USING (SELECT id, pmod(id, 4L) AS part, txt
                 |  FROM VALUES $src AS s(id, txt)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET txt = s.txt
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            (keys ++ fresh).foreach(i => model(i) = s"m$step-$i")
          case 5 => // INSERT OVERWRITE to a filtered subset of itself
            spark.sql("INSERT OVERWRITE graft.wapprop.t " +
              "SELECT id, part, txt FROM graft.wapprop.t WHERE id % 7 != 3")
            model.keys.filter(_ % 7 == 3).toSeq.foreach(model.remove)
        }
        // Main byte-frozen; the staged view tracks the model exactly.
        assert(SnapStore.currentVersion(t).contains(1),
          s"step $step: main moved")
        val got = stagedContents()
        assert(got == model.toMap,
          s"step $step: staged view diverged " +
            s"(extra=${(got.keySet -- model.keySet).take(3)} " +
            s"missing=${(model.keySet -- got.keySet).take(3)})")
      }
    }
    // Conf unset: plain reads still serve the UNTOUCHED base.
    assert(stagedContents() == baseModel,
      "main must serve the original base until publish")
    SnapStore.fastForward(t, "stage")
    assert(stagedContents() == model.toMap,
      "publish must land exactly the staged model")
  }

  test("MERGE-ON-READ DML stages on the conf branch: delete files " +
    "land on the branch chain with main BYTE-frozen, stacked staged " +
    "deltas compose, and fast-forward publishes data + delete files " +
    "with their relative sequence order preserved") {
    val root = Files.createTempDirectory("graft-wapmor")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 64).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part", keyCol = "id")
    SnapStore.setProperties(t, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    spark.conf.set("spark.graft.catalog.dir.wapmor", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def bytes(): Map[String, java.nio.file.attribute.FileTime] =
      SnapStore.manifest(t, 1).files
        .map(f => f.path -> Files.getLastModifiedTime(t.resolve(f.path)))
        .toMap
    val before = bytes()

    withWap("mors") {
      // Staged MOR DELETE: a delta on the branch — delete files on
      // the branch chain, zero data rewrite anywhere.
      spark.sql("DELETE FROM graft.wapmor.t WHERE id % 16 = 1")
      assert(SnapStore.currentVersion(t).contains(1), "main moved")
      val bh1 = SnapStore.branchHeadManifest(t, "mors")
      assert(bh1.operation == "delete-mor" && bh1.deleteFiles.nonEmpty,
        s"staged DELETE must land delete files on the branch: " +
          s"${bh1.operation}/${bh1.deleteFiles.size}")
      assert(spark.sql(
        "SELECT COUNT(*) AS n FROM graft.wapmor.t WHERE id % 16 = 1")
        .collect()(0).getLong(0) == 0L,
        "the conf-routed read must fold the staged delete files")

      // Staged MOR UPDATE stacks: split delete+reinsert on the
      // branch; the reinserted rows land as NEW branch files.
      spark.sql("UPDATE graft.wapmor.t SET txt = concat(txt, '-u') " +
        "WHERE id = 6")
      assert(SnapStore.currentVersion(t).contains(1), "main moved")
      assert(SnapStore.branchHeadManifest(t, "mors")
        .operation == "update-mor")

      // Staged MOR DELETE of the row the staged UPDATE reinserted —
      // the delete's pairs reference the BRANCH-written file at a
      // HIGHER branch sequence. Publish must keep that order or the
      // row resurrects.
      spark.sql("DELETE FROM graft.wapmor.t WHERE id = 6")
      assert(SnapStore.currentVersion(t).contains(1), "main moved")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapmor.t " +
        "WHERE id = 6").collect()(0).getLong(0) == 0L)

      // Staged MOR MERGE: update + insert as one more branch delta.
      spark.sql(
        """MERGE INTO graft.wapmor.t t
          |USING (SELECT * FROM VALUES (8L, 0L, 'm8'),
          |  (2000L, 0L, 'brand') AS s(id, part, txt)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET txt = s.txt
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(SnapStore.currentVersion(t).contains(1), "main moved")
      assert(SnapStore.branchHeadManifest(t, "mors")
        .operation == "merge-mor")
    }
    // Main BYTE-frozen through all four staged deltas.
    assert(bytes() == before, "staging must not touch main data bytes")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapmor.t")
      .collect()(0).getLong(0) == 64L,
      "plain reads must serve the untouched base until publish")

    // Publish: data AND delete files adopt with relative order
    // preserved — the update-then-delete row stays gone.
    val ff = SnapStore.fastForward(t, "mors")
    assert(ff.deleteFiles.nonEmpty,
      "fast-forward must adopt the staged delete files")
    val rows = spark.sql(
      "SELECT id, txt FROM graft.wapmor.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.keySet.exists(_ % 16 == 1), "staged delete must publish")
    assert(!rows.contains(6L),
      "the updated-then-deleted row must STAY deleted after publish " +
        "(sequence order across staged deltas)")
    assert(rows(8L) == "m8" && rows(2000L) == "brand",
      "staged merge must publish")
    assert(rows.size == 64 - 4 - 1 + 1,
      s"final cardinality wrong: ${rows.size}")
    // Delete-file sequences sit above the fork and within the FF
    // version, ordered below/above their target files as staged.
    assert(ff.deleteFiles.forall(d => d.seq > 1 && d.seq <= ff.version))
  }

  test("MOR DML staged on the conf branch under the DV conf lands " +
    "deletion-vector blobs on the BRANCH chain (main byte-frozen), " +
    "a stacked staged delete supersedes the branch's own blob, " +
    "mixed pair/blob staging publishes in order") {
    val root = Files.createTempDirectory("graft-wapdv")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val baseRows = spark.range(0, 64).select(col("id"),
      pmod(col("id"), lit(4L)).as("part"),
      concat(lit("d"), col("id")).as("txt"))
    SnapStore.create(spark, t, baseRows, "part", keyCol = "id")
    SnapStore.setProperties(t, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    spark.conf.set("spark.graft.catalog.dir.wapdv", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def mainBytes(): Map[String, java.nio.file.attribute.FileTime] =
      SnapStore.manifest(t, 1).files
        .map(f => f.path -> Files.getLastModifiedTime(t.resolve(f.path)))
        .toMap
    val before = mainBytes()
    def branchDvs() = SnapStore.branchHeadManifest(t, "dvs")
      .deleteFiles.filter(d => graft.sources.DeleteVectors.isDv(d.path))
    def branchPairs() = SnapStore.branchHeadManifest(t, "dvs")
      .deleteFiles.filterNot(d => graft.sources.DeleteVectors.isDv(d.path))

    withWap("dvs") {
      // First staged delta with the DV conf OFF: v2 pair parquets on
      // the branch (the mixed-encoding precondition).
      spark.sql("DELETE FROM graft.wapdv.t WHERE id = 33")
      assert(branchPairs().nonEmpty && branchDvs().isEmpty)

      spark.conf.set("spark.graft.delete.vectors", "true")
      try {
        // Staged DV delete: blobs on the BRANCH chain, main frozen.
        spark.sql("DELETE FROM graft.wapdv.t WHERE id % 16 = 1")
        assert(SnapStore.currentVersion(t).contains(1), "main moved")
        val dvs1 = branchDvs()
        assert(dvs1.nonEmpty,
          "staged DV delete must land .dv blobs on the branch chain")
        assert(dvs1.forall(_.refs.size == 1),
          "one blob per referenced data file")

        // A second staged delete touching the same data files must
        // SUPERSEDE the branch's own blobs (fold, not accumulate):
        // blob count per referenced file stays 1.
        spark.sql("DELETE FROM graft.wapdv.t WHERE id % 16 = 5")
        val dvs2 = branchDvs()
        assert(dvs2.map(_.refs.head).distinct.size == dvs2.size,
          "superseded branch blobs must drop — one live blob per file")
        val sharedRefs =
          dvs1.map(_.refs.head).toSet intersect dvs2.map(_.refs.head).toSet
        assert(sharedRefs.nonEmpty, "the two deletes overlap data files")
        assert(dvs1.filter(d => sharedRefs(d.refs.head)).map(_.path).toSet
          .intersect(dvs2.map(_.path).toSet).isEmpty,
          "the overlapped files' old blobs must be superseded")

        // The conf-routed read folds pairs AND blobs.
        val gone = spark.sql("SELECT COUNT(*) AS n FROM graft.wapdv.t " +
          "WHERE id % 16 IN (1, 5) OR id = 33").collect()(0).getLong(0)
        assert(gone == 0L)
      } finally spark.conf.unset("spark.graft.delete.vectors")
    }
    assert(mainBytes() == before, "staging must not touch main bytes")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.wapdv.t")
      .collect()(0).getLong(0) == 64L, "main serves the base until publish")

    // Publish: pair AND blob delete files adopt; contents exact.
    val ff = SnapStore.fastForward(t, "dvs")
    assert(ff.deleteFiles.exists(d =>
      graft.sources.DeleteVectors.isDv(d.path)) &&
      ff.deleteFiles.exists(d =>
        !graft.sources.DeleteVectors.isDv(d.path)),
      "fast-forward must adopt both encodings")
    val ids = spark.sql("SELECT id FROM graft.wapdv.t ORDER BY id")
      .collect().map(_.getLong(0)).toSet
    val expected = (0L until 64L)
      .filterNot(i => i % 16 == 1 || i % 16 == 5 || i == 33).toSet
    assert(ids == expected,
      s"published contents wrong (missing=${(expected -- ids).take(5)} " +
        s"extra=${(ids -- expected).take(5)})")
  }
}
