package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Algebraic invariants via scalacheck's raw runner (SURVEY.md §5
  * item 4; no scalatestplus bridge in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  private val smallList = Gen.listOfN(30, Gen.chooseNum(-5, 5))

  test("fold_hash equals a reference Scala fold on arbitrary ASCII strings") {
    val asciiStr = Gen.listOfN(12, Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    check(Prop.forAll(Gen.listOfN(8, asciiStr)) { ss =>
      val expected = ss.map(_.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L))
      val got = ss.toDF("w")
        .selectExpr("fold_hash(w, 31, 0, 1000000007)")
        .as[Long].collect().toSeq
      got == expected
    })
  }

  test("unionAll count equals sum of counts") {
    check(Prop.forAll(smallList, smallList) { (a, b) =>
      val (da, db) = (a.toDF("x"), b.toDF("x"))
      da.unionAll(db).count() == da.count() + db.count()
    })
  }

  test("semi-join rows are a subset of distinct inner-join keys") {
    check(Prop.forAll(smallList, smallList) { (a, b) =>
      val da = a.toDF("x")
      val db = b.toDF("y")
      val semi = da.join(db, da("x") === db("y"), "left_semi")
        .as[Int].collect().toSet
      val inner = da.join(db, da("x") === db("y")).select(da("x"))
        .as[Int].collect().toSet
      semi == inner
    })
  }

  test("rollup row count = leaf groups + distinct prefixes + 1") {
    check(Prop.forAll(Gen.listOfN(25, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0, 3)))) { rows =>
      val df = rows.toDF("g1", "g2")
      val n = df.rollup("g1", "g2").count().count()
      val leaves = rows.distinct.size
      val prefixes = rows.map(_._1).distinct.size
      n == leaves + prefixes + 1
    })
  }

  test("intersect ⊆ both sides; except ∩ right = ∅") {
    check(Prop.forAll(smallList, smallList) { (a, b) =>
      val inter = a.toDF("x").intersect(b.toDF("x")).as[Int].collect().toSet
      val exc = a.toDF("x").except(b.toDF("x")).as[Int].collect().toSet
      inter.subsetOf(a.toSet) && inter.subsetOf(b.toSet) &&
        exc.subsetOf(a.toSet) && exc.intersect(b.toSet).isEmpty
    })
  }

  test("string bound ordering agrees with UTF8String binary order on " +
    "supplementary characters") {
    // Manifest string bounds come from Spark min/max, which compares
    // UTF8String BYTES; Java's Ordering.String compares UTF-16 code
    // units. The two disagree exactly for supplementary (non-BMP)
    // chars vs U+E000–U+FFFF — a pruning-soundness bug if the store
    // compared bounds under the wrong one (ADVICE r6). Generate
    // strings mixing ASCII, a private-use BMP char (U+E000), and a
    // supplementary char (U+10000 as surrogate pair) and require the
    // store's ordering to match UTF8String.compareTo on every pair.
    val unit = Gen.oneOf(
      Gen.choose(32.toChar, 126.toChar).map(_.toString),
      // U+E000 spelled via toChars, not an (invisible) literal: a
      // raw private-use char in source reads as an empty string
      // and the discriminating case looks missing (ADVICE r7).
      Gen.const(new String(Character.toChars(0xe000))),
      Gen.const(new String(Character.toChars(0x10000))),
      Gen.const(new String(Character.toChars(0x1f600))))
    val str = Gen.listOfN(4, unit).map(_.mkString)
    check(Prop.forAll(str, str) { (a, b) =>
      import org.apache.spark.unsafe.types.UTF8String
      val expect = Integer.signum(
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      val got = Integer.signum(
        graft.sources.SnapStore.utf8BytesOrd.compare(a, b))
      got == expect
    })
  }

  test("split-manifest layer survives a random op sequence " +
    "(seed-stable): flatten(groups) == files, every on-disk group " +
    "referenced, appends write delta-proportional groups, contents " +
    "track a model") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    import graft.sources.SnapStore
    import SparkSpec.spark.implicits._
    // Deterministic sequence: same seed → same ops → same on-disk
    // shapes (VERDICT r8 #7 — the 4-appender race spec covers one
    // interleaving; this generator covers a family of op mixes).
    val rnd = new scala.util.Random(0x9e3779b9L)
    val dir = Files.createTempDirectory("graft-snapspec-proprand")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("t")
    val model = scala.collection.mutable.Map.empty[Long, String]
    def frame(ids: Seq[Long], text: Long => String) =
      ids.map(id => (id, id % 8, text(id))).toDF("doc_id", "part", "text")
    var nextId = 0L
    def freshIds(n: Int): Seq[Long] = {
      val ids = (nextId until nextId + n).toSeq; nextId += n; ids
    }
    val ids0 = freshIds(120)
    SnapStore.create(spark, t, frame(ids0, i => s"t-$i"), "part",
      numFiles = 96, keyCol = "doc_id")
    ids0.foreach(i => model(i) = s"t-$i")
    // Mount + MOR delete mode: the op mix drives the delta SQL DML
    // path (r13) alongside every programmatic COW/MOR face.
    SnapStore.setProperties(t,
      Map("write.delete.mode" -> "merge-on-read"))
    spark.conf.set("spark.graft.catalog.dir.proprand", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft",
        "graft.sources.GraftCatalog")

    def mfOnDisk(): Set[String] = {
      val s = Files.list(t.resolve("_snapshots"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("mf-")).toSet
      finally s.close()
    }
    def checkInvariants(label: String): Unit = {
      val m = SnapStore.currentManifest(t)
      if (m.files.size > 64)
        assert(m.groups.nonEmpty, s"$label: >64 files must split")
      if (m.groups.nonEmpty)
        assert(m.groups.flatMap(_._2) == m.files,
          s"$label: flatten(groups) != files")
      val refd = SnapStore.liveVersions(t)
        .map(SnapStore.manifest(t, _))
        .flatMap(_.groups.map(_._1)).toSet
      val disk = mfOnDisk()
      assert(refd.subsetOf(disk),
        s"$label: referenced groups missing from disk: ${refd -- disk}")
      assert(disk.subsetOf(refd),
        s"$label: leaked (unreferenced) group files: ${disk -- refd}")
      assert(SnapStore.read(spark, t).count() == model.size.toLong,
        s"$label: row count diverged from the model")
      // v3 row lineage: assigned id ranges stay pairwise DISJOINT
      // across every random op mix and the counter bounds them all —
      // the no-id-reuse invariant every op must preserve. EVERY file
      // gets a first-row-id at commit (r14: materialized files too —
      // their non-null stored ids win, NULL stored ids inherit
      // `first_row_id + _pos`, so the range must still be fresh).
      val ranges = m.files.filter(_.firstRowId >= 0L)
        .map(f => (f.firstRowId, f.firstRowId + f.rows)).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) =>
          assert(e1 <= s2, s"$label: overlapping row-id ranges")
        case _ => ()
      }
      if (m.nextRowId >= 0L && ranges.nonEmpty)
        assert(ranges.last._2 <= m.nextRowId,
          s"$label: next-row-id ${m.nextRowId} below assigned " +
            s"${ranges.last._2}")
      m.files.foreach(f =>
        assert(f.firstRowId >= 0L,
          s"$label: committed file ${f.path} missing a first-row-id"))
    }
    checkInvariants("create")

    (1 to 14).foreach { step =>
      val m0 = SnapStore.currentManifest(t)
      val op = rnd.nextInt(11)
      op match {
        case 0 | 1 => // append (the common op — double weight)
          val ids = freshIds(1 + rnd.nextInt(3))
          SnapStore.append(spark, t, frame(ids, i => s"t-$i"), "part",
            numFiles = 1)
          ids.foreach(i => model(i) = s"t-$i")
          // Byte-proportionality: when the parent was already split
          // (and under the merge bound), the commit's FRESH groups
          // hold exactly the appended entries — untouched groups
          // carry by reference.
          val m1 = SnapStore.currentManifest(t)
          if (m0.groups.nonEmpty && m0.groups.size < 63 &&
            m1.groups.nonEmpty) {
            val prev = m0.groups.map(_._1).toSet
            val freshEntries = m1.groups.filterNot(g => prev(g._1))
              .map(_._2.size).sum
            assert(freshEntries == m1.files.size - m0.files.size,
              s"step $step: fresh-group entries $freshEntries != " +
                s"appended files ${m1.files.size - m0.files.size}")
          }
        case 2 => // merge-on-read equality delete of a random sample
          val keys = rnd.shuffle(model.keys.toSeq.sorted)
            .take(1 + rnd.nextInt(5))
          if (keys.nonEmpty) {
            SnapStore.deleteEquality(spark, t,
              frame(keys, _ => "").select("doc_id"), "doc_id")
            keys.foreach(model.remove)
          }
        case 3 => // copy-on-write predicate delete of one partition
          val p = rnd.nextInt(8).toLong
          SnapStore.deleteWhere(spark, t, col("part") === p, numFiles = 1)
          model.keys.filter(_ % 8 == p).toSeq.foreach(model.remove)
        case 4 => // copy-on-write merge: update a random sample's text
          val keys = rnd.shuffle(model.keys.toSeq.sorted)
            .take(1 + rnd.nextInt(4))
          if (keys.nonEmpty) {
            SnapStore.merge(spark, t, frame(keys, i => s"u$step-$i"),
              "doc_id", "part", numFiles = 1)
            keys.foreach(i => model(i) = s"u$step-$i")
          }
        case 5 => // compact (fold pending deletes first — compact refuses)
          if (SnapStore.currentManifest(t).deleteFiles.nonEmpty)
            SnapStore.applyDeletes(spark, t, "part", numFiles = 4)
          SnapStore.compact(spark, t, "part",
            targetBytes = Long.MaxValue / 2)
        case 6 => // snapshot expiry folds dead groups
          SnapStore.expire(t, keepLast = 1)
        case 7 => // manifest rebalance + orphan sweep
          SnapStore.rewriteManifests(t, targetEntries = 4 + rnd.nextInt(12))
          SnapStore.removeOrphans(t, minAgeMs = 0)
        case 8 => // add_files: adopt an external parquet batch (r12) —
          // adopted entries then flow through every later op (merges
          // probe their key bounds, deletes rewrite them into owned
          // files, compaction folds them, expiry collects them).
          val ids = freshIds(2 + rnd.nextInt(4))
          val ext = dir.resolve(s"ext-$step")
          frame(ids, i => s"x-$i").write.parquet(ext.toString)
          SnapStore.addFiles(spark, t, ext)
          ids.foreach(i => model(i) = s"x-$i")
        case 9 => // deletion-vector position delete (v3 encoding,
          // r12): the .dv blobs then flow through every later op —
          // reads decode them, applyDeletes folds them, supersede
          // keeps one per file, expiry + orphan sweeps collect the
          // displaced blobs.
          val p = rnd.nextInt(8).toLong
          val r3 = rnd.nextInt(3).toLong
          val confKey = "spark.graft.delete.vectors"
          spark.conf.set(confKey, "true")
          try SnapStore.deletePositions(spark, t,
            col("part") === p &&
              org.apache.spark.sql.functions.pmod(col("doc_id"),
                org.apache.spark.sql.functions.lit(3L)) === r3)
          finally spark.conf.unset(confKey)
          val dvs = SnapStore.currentManifest(t).deleteFiles
            .filter(_.path.endsWith(".dv"))
          assert(dvs.map(_.refs.head).distinct.size == dvs.size,
            s"step $step: one DV per data file (v3 supersede)")
          model.keys.filter(k => k % 8 == p && k % 3 == r3).toSeq
            .foreach(model.remove)
        case 10 => // merge-on-read SQL DELETE (r13): the delta
          // row-level path commits pair files through the catalog
          // route, composing with every programmatic op around it.
          val p = rnd.nextInt(8).toLong
          val r5 = rnd.nextInt(5).toLong
          spark.sql("DELETE FROM graft.proprand.t " +
            s"WHERE part = $p AND doc_id % 5 = $r5")
          model.keys.filter(k => k % 8 == p && k % 5 == r5).toSeq
            .foreach(model.remove)
      }
      checkInvariants(s"step $step (op $op)")
    }
    // Final content equality against the model — every surviving row,
    // with its latest text.
    val got = SnapStore.read(spark, t).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == model.toMap,
      s"contents diverged: extra=${(got.keySet -- model.keySet).take(5)} " +
        s"missing=${(model.keySet -- got.keySet).take(5)}")
  }
}
